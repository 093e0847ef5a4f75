"""Generate PLANS.md: formatted physical plans for the headline queries with a
checklist of the scale-relevant properties (pushed filters, broadcast joins,
TakeOrderedAndProject, whole-stage codegen spans, shuffle count).

Sections come from four rosters, and each audited name is built in one place:

- ``AUDIT``: declared queries, built by ``__spark_entry__.queries()`` (plus
  the rotation-retired ones).
- ``CASES``: bench and scale-bench cases, built by the case registry
  (``bench._build_cases``, then ``scale_bench.extra_cases`` for the
  scale-only names), so a section shows the frame the case times.
- ``UNSTAGED``: built here. The pre-staging form of a declared query or case
  whose timed form returns a staged-parquet read, a driver-side merge or no
  frame, so the audit shows the compute that executes.
- ``EXTRA_OPS``: built here. Library operators with no bench or scale case.

Run: python tools/plan_report.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import io
from contextlib import redirect_stdout

import __spark_entry__ as entrymod
import bench
from photo_vector_search_spark.session import get_spark
from tools import scale_bench

AUDIT = [
    "knn_topk",
    "knn_topk_filtered",
    "knn_batch",
    "search_by_text",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "window_topk_orders",
    "dedup_jaccard",
    "dedup_minhash_lsh",
    "embedding_near_dup",
    "embed_documents",
    "upsert_merge",
    "events_sessionize",
    "events_asof",
    "decontaminate",
    "pack_documents_sharded",
    "cube_lineitem",
    "tfidf_top_terms",
    "source_drift",
    "fuzzy_levenshtein_blocked",
    "srp_lsh_near_dup",
    "encode_bpe",
    "store_partition_pruned",
    "ivf_topk_exact",
    # r7 declared additions (pack_windows rotated out r11 for
    # sample_weighted; its bench case + scale row remain)
    "mix_corpus",
    "dsir_weights",
    "semdedup",
    # r7b declared additions
    "ppl_filter",
    "domain_cap",
    # r8 declared additions
    "hard_negatives",
    "pack_sequences",
    "decontaminate_spans",
    # r10 declared additions (kn_score already audited via CASES)
    "curriculum_order",
    # r10b declared additions (budget_select already audited via CASES)
    "retrieval_eval",
    # r11 rotation: dedup_paragraphs and leakage_safe_split joined the
    # declared window — both already audited via CASES
    # r11 declared additions: the 1-bit serving rung + weighted reservoir
    "hamming_topk",
    "sample_weighted",
]


# Declared queries and registry cases whose timed form returns a
# STAGED-parquet read (the result is checkpointed so downstream actions don't
# recompute the LSH pass), a driver-side merge, or no frame at all: auditing
# the returned DataFrame would show only `Scan parquet` and hide the real
# compute (VERDICT r3 minor finding). These builders reconstruct the
# PRE-STAGING DataFrame so the report shows the plan that actually executes;
# the section keeps the declared or case name.
def _unstaged_minhash(spark, sf_dir):
    from photo_vector_search_spark.operators.dedup import minhash_lsh_pairs
    from photo_vector_search_spark.sources.tables import load_table

    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"), n=3, tau=0.5, stage=False
    )


def _unstaged_ivf_adaptive(spark, sf_dir):
    # the declared ivf_topk_exact merges per-batch top-ks driver-side (k rows
    # per batch), so its returned frame is a LocalTableScan; the compute that
    # executes per probe batch is this pruned scan → distance → top-k plan
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.ann import assign_clusters, train_centroids
    from photo_vector_search_spark.operators.knn import fetch_query_vector, knn_topk
    from photo_vector_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    centroids = train_centroids(emb, n_clusters=8)
    indexed = assign_clusters(emb, centroids)
    vec = fetch_query_vector(spark, sf_dir, 0)
    return knn_topk(indexed.filter(F.col("cluster_id").isin([0])), vec, k=5, raw=True)


def _unstaged_dsir(spark, sf_dir):
    # the declared form stages the gram explode once (dsir_featurize); this
    # shows the full derive → count-table → scoring plan instead of the
    # staged-parquet read
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.dsir import (
        dsir_log_ratios,
        dsir_scores,
    )
    from photo_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ratios = dsir_log_ratios(
        docs, target_filter=F.col("source") == "src0", n_buckets=4096
    )
    return dsir_scores(docs, ratios, n_buckets=4096).select(
        "doc_id", "n_feats", F.round("dsir_score", 6).alias("dsir_score")
    )


def _unstaged_hard_negatives(spark, sf_dir):
    # the declared deterministic rung stages the assigned frame; stage=False
    # shows the full seed-centroid → rounded-assign → kernel → rank plan
    from photo_vector_search_spark.operators.contrastive import (
        hard_negatives_deterministic,
    )
    from photo_vector_search_spark.sources.tables import load_table

    return hard_negatives_deterministic(
        load_table(spark, sf_dir, "embeddings"), k=5, n_centroids=8, stage=False
    )


def _unstaged_bm25_topk(spark, sf_dir):
    # the default stages the tf postings (one corpus explode total)
    from photo_vector_search_spark.operators.bm25 import bm25_topk
    from photo_vector_search_spark.sources.tables import load_table

    return bm25_topk(
        load_table(spark, sf_dir, "documents"),
        "the quick brown fox",
        k=10,
        stage=False,
    )


def _unstaged_bm25_batch_topk(spark, sf_dir):
    from photo_vector_search_spark.operators.bm25 import bm25_batch_topk
    from photo_vector_search_spark.sources.tables import load_table

    return bm25_batch_topk(
        load_table(spark, sf_dir, "documents"),
        bench.query_frame(spark, bench.SERVE_QUERIES[:3]),
        k=8,
        stage=False,
    )


def _unstaged_rm3_topk(spark, sf_dir):
    # the audited plan is the FINAL weighted-scoring pass of the corpus-pass
    # loop (the feedback retrieval is the bm25_topk plan; expansion itself is
    # driver-side over fb_docs rows); the bench case times the store-served
    # rm3_store_topk
    from photo_vector_search_spark.operators.bm25 import (
        bm25_scores_weighted,
        rm3_expand,
    )
    from photo_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    weights = rm3_expand(docs, "the quick brown fox", fb_docs=10, fb_terms=10)
    return bm25_scores_weighted(docs, weights, stage=False)


def _unstaged_corrupt_spans(spark, sf_dir):
    # the scale case corrupts staged windows; this shows the unstaged pack
    # beneath the corruption pass
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.corruption import corrupt_spans
    from photo_vector_search_spark.operators.packing import pack_token_windows
    from photo_vector_search_spark.sources.tables import load_table

    # surrogate ids (token char-lengths) keep the plan shape without a BPE
    # artifact; corruption itself is one map-only Arrow pass over windows
    docs = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("pos"),
        F.transform(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
            lambda t: F.length(t),
        )
        .cast("array<int>")
        .alias("input_ids"),
    )
    return corrupt_spans(pack_token_windows(docs, 128, stage=False))


def _unstaged_prune_ivf_store(spark, sf_dir):
    # the scale case times the rewrite (survivor staging, partitioned
    # snapshot write + the fused cluster_stats scan) and returns no frame;
    # dry-run (rewrite=False) returns the survivor-decision plan beneath it
    from photo_vector_search_spark.operators.ann import build_ivf_store
    from photo_vector_search_spark.operators.pruning import prune_ivf_store
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    # atexit-cleaned session scratch
    path = session_staging_dir("pvs_plan_pruneivf") + "/store"
    build_ivf_store(emb, path, n_clusters=8, n_assign=2)
    return prune_ivf_store(spark, path, keep_frac=0.5, rewrite=False)


UNSTAGED = {
    "dedup_minhash_lsh": _unstaged_minhash,
    "ivf_topk_exact": _unstaged_ivf_adaptive,
    "dsir_weights": _unstaged_dsir,
    "hard_negatives": _unstaged_hard_negatives,
    "bm25_topk": _unstaged_bm25_topk,
    "bm25_batch_topk": _unstaged_bm25_batch_topk,
    "rm3_topk": _unstaged_rm3_topk,
    "corrupt_spans": _unstaged_corrupt_spans,
    "prune_ivf_store": _unstaged_prune_ivf_store,
}


# Registry cases (bench._build_cases, then scale_bench.extra_cases for the
# scale-only names) audited by case name: the section shows the frame the
# case times, built by the case's own builder.
CASES = [
    "ivf_near_dup_pairs",
    "shuffle_corpus",
    "substring_dedup",
    "quality_score",
    "hard_negatives_ivf",
    "decontaminate_bloom",
    "image_near_dup",
    "langid_score",
    "audio_near_dup",
    "corrupt_spans",
    "encode_unigram",
    "pq_topk_rerank",
    "pq_batch_topk",
    "fim_transform",
    "align_filter",
    "prune_prototypes",
    "kn_score",
    "ivf_pq_batch_topk",
    "prune_ivf_store",
    "url_filter",
    "budget_select",
    "leakage_safe_split",
    "pca_whiten",
    "sq8_topk",
    "dedup_paragraphs",
    "wet_ingest",
    "mad_outlier_gate",
    "ivf_sq8_topk",
    "ivf_sq8_store",
    "bm25_topk",
    "bm25_batch_topk",
    "ivf_sq8_batch",
    "rrf_fuse",
    "cross_dedup",
    "c4_clean",
    "hamming_batch64",
    "rm3_topk",
    "heavy_hitter_tokens",
    "cascade_topk",
    "pool_embeddings",
    "ivf_sq8_live_topk",
    "cascade_batch16",
    "maxsim_search",
    "rocchio_topk",
    "maxsim_store_search",
    "maxsim_batch8",
    "maxsim_probe2",
    "hybrid_batch8",
    "maxsim_store_batch8",
    "cross_dedup_store",
    "rm3_batch8",
    "rocchio_batch8",
    "bm25_store_search",
    "bm25_store_batch8",
    "colbertv2_search",
    "colbertv2_batch8",
]

# The bench's IVF-rung ``hard_negatives`` case shares its name with the
# declared deterministic query in AUDIT, so its section keeps a suffix.
CASE_ALIASES = {"hard_negatives_ivf": "hard_negatives"}


# Library operators with no bench or scale case, audited with the same
# checklist: name -> builder.
def _extra_redact(spark, sf_dir):
    from pyspark.sql import functions as F

    from photo_vector_search_spark.functions.redact import pii_counts, redact_pii
    from photo_vector_search_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id", redact_pii(F.col("text")).alias("clean"), *pii_counts(F.col("text"))
    )

def _extra_video_near_dup(spark, sf_dir):
    from bench import fake_media_docs
    from photo_vector_search_spark.operators.image_dedup import video_near_dup

    return video_near_dup(fake_media_docs(spark, sf_dir, "image"), every_n=4)

def _extra_compression_gate(spark, sf_dir):
    from photo_vector_search_spark.pipelines.quality import compression_gate
    from photo_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return compression_gate(docs)

def _extra_zorder_key(spark, sf_dir):
    from photo_vector_search_spark.operators.zorder import zorder_key
    from photo_vector_search_spark.sources.tables import load_table

    return zorder_key(
        load_table(spark, sf_dir, "events").select(
            "event_id", "user_id", "value"
        ),
        ["user_id", "value"],
    )

def _extra_live_maxsim_search(spark, sf_dir):
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
    )
    from photo_vector_search_spark.operators.maxsim_maintenance import (
        live_maxsim_search,
        upsert_maxsim_store,
    )
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_plan_maxsim_live") + "/store"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    build_maxsim_store(docs.filter(F.col("doc_id") < 400), path)
    upsert_maxsim_store(spark, path, docs.filter(F.col("doc_id") >= 400))
    return live_maxsim_search(
        spark, path, "the quick brown fox", k=10, prefilter_n=64
    )

def _extra_live_bm25_search(spark, sf_dir):
    # the audited plan is the LIVE union: (base anti dldelta-ids) ∪ (delta
    # semi dldelta-ids) − tombstones, bucket/term filters pushed through the
    # union so the base keeps partition pruning; side tables broadcast
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.bm25_store import (
        build_bm25_store,
        delete_from_bm25_store,
        live_bm25_topk,
        upsert_bm25_store,
    )
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_plan_bm25l") + "/store"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    build_bm25_store(docs, path)
    upsert_bm25_store(
        spark,
        path,
        docs.filter(F.col("doc_id") < 8).withColumn(
            "text", F.concat(F.col("text"), F.lit(" quick fox"))
        ),
    )
    delete_from_bm25_store(spark, path, [11, 12])
    return live_bm25_topk(spark, path, "the quick brown fox", k=10)

def _extra_live_cv2_search(spark, sf_dir):
    # the audited plan is the LIVE union over codes: delta ∪ (base anti
    # delta-ids) − tombstones, candidate filters pushed through the union;
    # side tables broadcast; the compressed Arrow kernel unchanged
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.cv2_maintenance import (
        delete_from_colbertv2_store,
        live_colbertv2_search,
        upsert_colbertv2_store,
    )
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.operators.token_compression import (
        build_colbertv2_store,
    )
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_plan_cv2l") + "/store"
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    build_colbertv2_store(docs, path)
    upsert_colbertv2_store(
        spark,
        path,
        docs.filter(F.col("doc_id") < 8).withColumn(
            "text", F.concat(F.col("text"), F.lit(" quick fox"))
        ),
    )
    delete_from_colbertv2_store(spark, path, [11, 12])
    return live_colbertv2_search(
        spark, path, "the quick brown fox", k=10, prefilter_n=64
    )

def _extra_maxsim_filtered_search(spark, sf_dir):
    # the audited plan is the FILTERED serving read: the lang predicate
    # lands in the store scan's PushedFilters BEFORE the pooled prefilter
    # (P2: filter before distance), so candidates come from matching docs
    # only and the rescore's IN-filter composes with it
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
        maxsim_store_search,
    )
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_plan_msf") + "/store"
    docs = load_table(spark, sf_dir, "documents")
    build_maxsim_store(docs, path, keep_cols=("lang", "source"))
    lang = sorted(
        r["lang"] for r in docs.select("lang").distinct().collect()
    )[0]
    return maxsim_store_search(
        spark, path, "the quick brown fox", k=10, prefilter_n=64,
        filter=F.col("lang") == lang,
    )

def _extra_hybrid_store_search(spark, sf_dir):
    # all-store hybrid: probed IVF,SQ8 codes + bucket-pruned postings,
    # fused rank-side — neither the text nor the float corpus is scanned
    from photo_vector_search_spark.operators.bm25_store import build_bm25_store
    from photo_vector_search_spark.operators.fusion import hybrid_store_search
    from photo_vector_search_spark.operators.sq import build_ivf_sq8_store
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    base = session_staging_dir("pvs_plan_hyb_store")
    bm25_path, vec_path = base + "/bm25", base + "/ivfsq8"
    build_bm25_store(load_table(spark, sf_dir, "documents"), bm25_path)
    build_ivf_sq8_store(
        load_table(spark, sf_dir, "embeddings"), vec_path, n_clusters=8
    )
    return hybrid_store_search(
        spark, bm25_path, vec_path, "the quick brown fox", k=10, nprobe=4
    )


EXTRA_OPS = {
    "redact_pii": _extra_redact,
    "video_near_dup": _extra_video_near_dup,
    "compression_gate": _extra_compression_gate,
    "zorder_key": _extra_zorder_key,
    "live_maxsim_search": _extra_live_maxsim_search,
    "live_bm25_search": _extra_live_bm25_search,
    "live_cv2_search": _extra_live_cv2_search,
    "maxsim_filtered_search": _extra_maxsim_filtered_search,
    "hybrid_store_search": _extra_hybrid_store_search,
}

# Plan-reader context the tree alone can't show.
NOTES = {
    "colbertv2_search": (
        "NOTE: library operator (r12 ColBERTv2-style residual compression, "
        "Santhanam et al. NAACL'22 — every token embedding stored as its "
        "nearest TOKEN-centroid id + an SQ8-quantized residual, ~1/7.5 the "
        "raw token-store bytes at rest; serving decodes ASYMMETRICALLY "
        "inside the maxsim_scores_fast kernel (centroid gather + "
        "dequantize + one BLAS matmul + segment-max), never materializing "
        "the float matrices. The pooled prefilter column stays EXACT "
        "float, so candidate selection is unaffected by compression; the "
        "rerank ladder re-scores a compressed pool exactly from the float "
        "source and matches exact MaxSim bit-for-bit once the pool covers "
        "it. Roundtrip error <= step/2 per dim per token, independent "
        "NumPy replay of the whole chain, store torn-pair refusal in "
        "tests/test_token_compression.py)."
    ),
    "hybrid_store_search": (
        "NOTE: library operator (r12 all-store hybrid serving — the "
        "production shape: the dense run probes the IVF,SQ8 store "
        "(cluster-directory pruning over 8x codes), the lexical run reads "
        "the BM25 postings store (<= q bucket directories), RRF fuses the "
        "two <= pool-row rank lists; at serve time neither the text nor "
        "the float corpus is scanned. Composition sugar over three "
        "audited rungs; == hand-fusing the two store runs, pinned in "
        "tests/test_fusion.py)."
    ),
    "maxsim_filtered_search": (
        "NOTE: library operator (r12 filtered late-interaction serving — "
        "the knn_topk(label=...) P2 discipline extended to the token "
        "stores: build(keep_cols=...) carries metadata columns onto the "
        "store rows and records them in meta; search(filter=...) applies "
        "the predicate to the scan BEFORE the pooled prefilter, so "
        "candidates are drawn from matching docs only. Filtered serving "
        "== serving a store built from the pre-filtered corpus (pinned "
        "in tests/test_filtered_stores.py); same contract on the "
        "compressed store (colbertv2_store_search(filter=...)) and both "
        "live views; keep_cols upserts carry the metadata, batches "
        "lacking it are refused)."
    ),
    "live_cv2_search": (
        "NOTE: library operator (r12 incremental maintenance for the "
        "compressed token store — the maxsim_maintenance contract applied "
        "to codes: upserts embed AND encode only the new docs against the "
        "FROZEN quantizer (centroids + residual range, the encode_sq8 "
        "clip convention), so geometry drifts only until the next full "
        "rebuild; live view = delta ∪ (base anti delta-ids) − tombstones "
        "with broadcast side tables; compact is convergent and restamps "
        "store_sig under the stable params+quantizer build_id. Live ≡ "
        "in-memory composition, foreign-codebook side tables refused, "
        "streaming rung with full-replay byte-identity in "
        "tests/test_cv2_maintenance.py)."
    ),
    "bm25_store_search": (
        "NOTE: library operator (r12 persisted BM25 postings store — the "
        "materialized-index rung of the lexical family, the Lucene "
        "architecture at rest as Parquet: postings (id, term, tf, dl) "
        "hive-partitioned by md5(term) mod n_buckets and term-sorted "
        "within files, so a q-term query reads <= q bucket DIRECTORIES "
        "and within them only the row groups whose term min/max covers a "
        "query term). The plan is a bare LocalTableScan: the footers the "
        "open reads for its build check size that read, it is under "
        "store.LOCAL_READ_ROWS, so the driver tier reads those row groups "
        "with pyarrow, scores them with the Spark tier's formulas in "
        "numpy and returns a local relation — 0 Spark jobs. Over the "
        "bound the same call runs the pruned scan + folded-idf agg + "
        "TakeOrdered plan. Driver tier == Spark tier row for row in "
        "tests/test_driver_tier.py; serving == bm25_topk and its DuckDB "
        "twin in tests/test_bm25_store.py."
    ),
    "bm25_store_batch8": (
        "NOTE: library operator (r12 batched store serving — Q queries "
        "share ONE pruned read over the union of their terms' buckets). "
        "The plan is a bare LocalTableScan: the union read is under "
        "store.LOCAL_READ_ROWS by the store footers, so the fan-out "
        "scoring runs on the driver (bm25._local_fanout_topk) and the "
        "one Spark job left is the read of the caller's query frame. "
        "Over the bound: broadcast (qid, term) fan-out join + per-query "
        "window. == a per-query loop of bm25_store_topk, pinned in "
        "tests/test_bm25_store.py."
    ),
    "live_bm25_search": (
        "NOTE: library operator (r12 incremental maintenance for the "
        "BM25 store — the index_maintenance delta-segment + tombstone "
        "pattern with a doclens delta as the doc-level membership "
        "authority: live postings = (base anti dldelta-ids) ∪ (delta "
        "semi dldelta-ids) − tombstones, so upsert writes postings-delta "
        "FIRST and a crash before the dldelta swap leaves ignorable "
        "orphans (old version keeps serving; replay heals — pinned by a "
        "crash-sim test). Zero-token docs are representable (dl=0 row, "
        "no postings — they count toward avgdl, the on-the-fly "
        "semantics); NULL text refused. Live (N, avgdl) is exact, "
        "recomputed from the narrow doclens view in one agg."
    ),
    "rocchio_topk": (
        "NOTE: library operator (r11 Rocchio 1971 pseudo-relevance "
        "feedback for DENSE retrieval — the vector-space dual of "
        "rm3_topk: q' = a*q + b*mean(top fb_k) - g*mean(bottom neg_k), "
        "then exact knn over q'). Both passes are the knn_topk "
        "TakeOrdered plan; the centroid is fb_k driver-side rows — no "
        "new shuffle shapes. Full DuckDB+NumPy replay, beta=0 identity, "
        "pull/push semantics in tests/test_rocchio.py."
    ),
    "maxsim_search": (
        "NOTE: library operator (r11 ColBERT late-interaction retrieval, "
        "Khattab & Zaharia SIGIR'20 — score(q,d) = sum over query tokens "
        "of the best doc-token dot product, completing the retrieval "
        "matrix: lexical BM25 / dense single-vector / RRF hybrid / late "
        "interaction). Token matrices are BOUNDED (the ColBERT doc "
        "budget) and ride as one array<array<double>> per doc. r12 "
        "vectorized the serving path: per Arrow batch ONE BLAS matmul of "
        "the query token matrix against the batch's stacked doc tokens + "
        "a maximum.reduceat segment-max per doc (the knn_batch_fast "
        "discipline; Spark's higher-order functions do NOT enter whole-"
        "stage codegen, so the old expression fold paid interpreted "
        "per-row cost — it remains the DuckDB-replayable oracle twin, "
        "parity-pinned). Map-only into TakeOrdered; the audited two-stage "
        "shape prefilters to N candidates by the POOLED L2-normalized "
        "cosine first (ColBERT-v2/PLAID deployment pattern). Full DuckDB "
        "twin of the chain + exactness when prefilter covers the corpus "
        "+ fast==expression parity in tests/test_late_interaction.py."
    ),
    "maxsim_store_search": (
        "NOTE: library operator (r12 persisted MaxSim token store — the "
        "missing persistence rung: every other serving family persists "
        "its representation; one-call maxsim_search re-embedded the "
        "corpus per query, which DOMINATED its wall). build_maxsim_store "
        "pays the embed pass once; the sidecar's build_id is the store "
        "directory's content signature, so a torn store/sidecar pair is "
        "refused at load (the shared crash-consistency contract). The "
        "audited serving plan reads ONLY the store parquet (input-file "
        "audit pins that the documents table is never re-read), and the "
        "at-rest layout does the heavy lifting: build persists the mean-"
        "pooled vector as its own FLAT column and sorts by id, so the "
        "prefilter scans 64 doubles/doc via parquet COLUMN PRUNING (the "
        "token matrices are never decoded corpus-wide) and the rescore "
        "pushes the <= prefilter_n candidate ids as an IN filter that "
        "prunes row groups. 1.2 s at sf0.1 AND 1.2 s at 10x (ratio 1.01 "
        "— fixed overhead dominates) vs 7.6-8 s one-call. Roundtrip "
        "identity, torn-pair refusal, and store-served == in-memory in "
        "tests/test_maxsim_store.py."
    ),
    "knn_batch": (
        "NOTE: declared through knn_batch_fast. The query frame is read "
        "once, bounded; arrowkit.batch_topk's MapInArrow screens each "
        "Arrow batch with one BLAS matmul against the broadcast query "
        "matrix, re-scores the survivors pair by pair and keeps a "
        "per-batch top-k per query, so the one Exchange under the rank "
        "window carries O(batches*Q*k) rows. DuckDB-oracle parity in the "
        "declared-query tests."
    ),
    "maxsim_store_batch8": (
        "NOTE: library operator (r12 batched PLAID pipeline — Q text "
        "queries share every stage of the clustered-store serving path). "
        "Per-query centroid probes rank driver-side; the store scan "
        "filters to the UNION of probes (hive-partition pruning "
        "preserved) and each query masks to ITS probes inside the "
        "kernel. The pooled prefilter is arrowkit.batch_topk's "
        "MapInArrow: ALL queries per Arrow batch in one matmul over the "
        "flat pooled column (column-pruned), a per-batch LOCAL "
        "top-prefilter_n per query — shuffle O(batches*Q*n), never N*Q — "
        "then one bounded per-query window picks candidates, ONE join "
        "moves <= Q*n token matrices, and a MapInArrow rescores each "
        "(query, doc) pair from its own tokens. "
        "Batch == per-query maxsim_store_search loop across flat/"
        "clustered/brute shapes in tests/test_maxsim_store.py."
    ),
    "hybrid_batch8": (
        "NOTE: library operator (r12 batched hybrid retrieval — the "
        "batched-serving contract extended to the FUSED family). Pure "
        "composition of three audited batched rungs, no new physical "
        "plan: query texts stub-embed driver-side (Q bounded rows), "
        "knn_batch_fast retrieves the vector pool for ALL queries in one "
        "map-side-matmul pass (shuffle O(batches*Q*pool)), the lexical "
        "pool comes from bm25_store_batch_topk over the persisted BM25 "
        "store (a LocalTableScan here: its union read is under the driver "
        "tier's bound), and rrf_fuse merges per query over rank lists "
        "bounded by runs*pool rows/query. Per-query termless inputs are "
        "refused. Batch == per-query hybrid_text_search loop in "
        "tests/test_hybrid_search.py."
    ),
    "live_maxsim_search": (
        "NOTE: library operator (r12 incremental MaxSim store maintenance "
        "— the delta-segment + tombstone pattern index_maintenance applies "
        "to the IVF,SQ8 store, extended to late interaction so EVERY "
        "persisted serving index grows incrementally). Upserts re-embed "
        "ONLY the new docs against the build's frozen (max_tokens, dim, "
        "centroids) and snapshot-rewrite the O(delta) segment; deletes "
        "tombstone; live view = delta UNION (base anti delta-ids) anti "
        "tombstones with side tables broadcast and cluster/candidate "
        "filters pushing THROUGH the union (base keeps its pruning). "
        "Side tables carry the STABLE params+centroids build id (the "
        "ann two-id discipline: build_id for compatibility, store_sig "
        "for torn detection), so compaction — which rewrites the base "
        "and its signature — never invalidates them; compact reads RAW "
        "tables and converges from any crash point, and stale side "
        "tables restored post-compact overlay idempotently. Empty-text "
        "upserts are refused (an empty doc cannot shadow its old "
        "version). Live ≡ in-memory composition, delta-wins, revive, "
        "crash sim, clustered variant — tests/test_maxsim_maintenance.py."
    ),
    "maxsim_probe2": (
        "NOTE: library operator (r12 PLAID-style clustered MaxSim store — "
        "the ColBERT-v2/PLAID centroid-pruning deployment shape on the "
        "engine's own IVF machinery). build_maxsim_store(n_clusters=k) "
        "k-means-clusters the POOLED vectors and hive-partitions the "
        "token store by cluster_id (centroid sidecar under the same "
        "build id; a stale sidecar refuses to probe). Serving ranks "
        "centroids by cosine against the mean query vector DRIVER-side "
        "(k tiny rows) and restricts every scan to the top-nprobe "
        "clusters: whole directories pruned at file-listing time "
        "(runtime numPartitions == nprobe, asserted in "
        "tests/test_maxsim_store.py), THEN the column-pruned pooled "
        "prefilter + row-group-pruned rescore run inside the probed "
        "clusters. nprobe == n_clusters is exactly the unclustered "
        "result (pinned); smaller trades recall for bytes. At 100 TB "
        "this is the knob that keeps the prefilter scan itself "
        "sub-corpus."
    ),
    "maxsim_batch8": (
        "NOTE: library operator (r12 batched MaxSim — the batched-serving "
        "contract extended to late interaction). ALL queries' token "
        "matrices stack into ONE broadcast matrix; per Arrow batch ONE "
        "BLAS matmul against the batch's stacked doc tokens, a "
        "maximum.reduceat segment-max over each doc's tokens, an "
        "add.reduceat segment-sum over each query's tokens (reduceat is "
        "strictly sequential — the expression fold's accumulation order), "
        "then arrowkit.batch_topk's MapInArrow keeps a per-batch LOCAL "
        "top-k per query by the pair-local 6-dp score: the shuffle carries "
        "O(batches*Q*k) survivor rows, never N*Q. Batch == per-query "
        "maxsim_topk loop in tests/test_late_interaction.py; 1.4 s for 8 "
        "queries over the persisted store at sf0.1."
    ),
    "cross_dedup_store": (
        "NOTE: library operator (r12 persisted cross-dedup fingerprint "
        "store — the snapshot N-1 -> N workflow: the reference corpus is "
        "distilled ONCE to 16-byte distinct fingerprints; each new crawl "
        "anti-joins against the table and the reference TEXT is never "
        "re-read, pinned by an input-file audit). One table, one "
        "snapshot swap — no sidecar, no torn-pair state. "
        "extend_fingerprint_store unions each snapshot's survivors in "
        "(O(distinct fps) rewrite, never the corpora) and materializes "
        "before swapping; the caller-side materialization contract for "
        "store-derived frames is documented and tested. Store-served == "
        "full-reference dedup and the N-1 -> N -> N+1 chain in "
        "tests/test_cross_dedup_store.py."
    ),
    "rm3_batch8": (
        "NOTE: library operator (r13 batched RM3 served from the persisted "
        "BM25 store). The query frame is read once; stage 1 (feedback "
        "top-fb_docs) and stage 2 (weighted rescore over the union of "
        "expanded terms) both read the store, and at this size both are "
        "under store.LOCAL_READ_ROWS, so each is scored on the driver and "
        "the audited frame is the stage-2 local relation (bare "
        "LocalTableScan). The Spark work left runs before it: the "
        "relevance-model explode over the UNION of the queries' feedback "
        "docs (id-filtered docs scan, broadcast (query_id, doc_id, P(D)) "
        "join, per-(query, term) sum, bounded per-query top-fb_terms "
        "window). Batch == per-query rm3_topk loop in "
        "tests/test_prf_batch.py; store == corpus RM3 in "
        "tests/test_bm25_store.py."
    ),
    "rocchio_batch8": (
        "NOTE: library operator (r12 batched Rocchio — dense PRF under "
        "the batched-serving contract). THREE shared map-side-matmul "
        "passes total (feedback knn_batch_fast, optional negatives, "
        "final expanded knn_batch_fast) instead of 2Q TakeOrdered "
        "corpus passes; feedback vectors fetched once as the bounded "
        "union (<= Q*fb_k rows), centroid mix driver-side NumPy. "
        "Negatives need no bottom-k operator: dist(-q,d) = 2 - dist(q,d) "
        "so ascending order under the NEGATED query is farthest-first "
        "with the identical vec_id tie-break. label scopes every pass. "
        "Batch == per-query loop (incl. gamma/neg_k/label) in "
        "tests/test_prf_batch.py. 1.3 s for 8 queries at sf0.1 vs ~7 s "
        "looped."
    ),
    "cascade_batch16": (
        "NOTE: library operator (r11 batched cascade — Q queries share "
        "ONE pass per representation). Stage 1 is hamming_batch_topk's "
        "shared codes pass (top-c1 per query); stage 2 joins the "
        "shortlists to the SQ8 codes (<= Q*c1 candidate rows, never the "
        "corpus) and one MapInArrow scores each row against its own "
        "query via a broadcast query matrix; stage 3 joins <= Q*c2 "
        "survivors to the float source for the exact tail. Loop-parity "
        "vs cascade_topk pinned in tests/test_cascade.py."
    ),
    "ivf_sq8_live_topk": (
        "NOTE: library operator (r11 incremental IVF,SQ8 maintenance — "
        "upsert/delete/compact WITHOUT a full rebuild; the reference adds "
        "photos to its ChromaDB index incrementally, this is that rung "
        "for the engine's own store). Live view = delta UNION (base "
        "anti-join delta-ids) anti-join tombstones: the anti-joins "
        "broadcast the small side tables, and the probe IN-filter pushes "
        "THROUGH the union so the base scan keeps its cluster_id "
        "partition pruning. Upserts encode against the EXISTING "
        "centroids/model (clip convention) and snapshot-rewrite only the "
        "delta (O(delta), never O(base)); all three tables share one "
        "build_id — a delta from different centroids is refused. "
        "Compaction is idempotent under any crash point (stale side "
        "tables overlay to the identical view — proven by the crash "
        "simulation in tests/test_index_maintenance.py)."
    ),
    "pool_embeddings": (
        "NOTE: library operator (r11 chunk-embedding pooling — the "
        "long-document pattern: embed bounded chunks, pool back to one "
        "document vector; mean / weighted-mean / element-wise max, L2 "
        "renormalized). ONE keyed groupBy exchange into a vectorized "
        "Arrow kernel (np.average / np.max per group), one row out per "
        "group — the rows must meet their group exactly once, and "
        "chunkers emit a document's chunks adjacently so the AQE-"
        "coalesced exchange stays cheap. DuckDB twin of the grouped "
        "component means + renorm, NumPy weighted/max twins, and the "
        "chunk->embed->pool composition in tests/test_pooling.py."
    ),
    "cascade_topk": (
        "NOTE: library operator (r11 three-stage cascade serving — the "
        "FAISS/ScaNN rerank funnel composed from the engine's own ladder "
        "rungs). Stage 1 scans the 64x-compressed 1-bit codes in PURE "
        "CODEGEN (bit_count XOR into TakeOrderedAndProject, zero "
        "exchanges) for a c1 shortlist; stage 2 re-scores the shortlist "
        "from the 8x SQ8 codes (broadcast-size join, decode-matmul); "
        "stage 3 reads exactly c2 float rows for the exact tail. Float "
        "bytes read are INDEPENDENT of corpus size. prefilter applies at "
        "stage 1 (the filtered-search discipline). Full-pool == exact knn "
        "bit-for-bit, pool monotonicity, and the persisted two-store "
        "composition (torn pair in either store refuses the cascade) are "
        "pinned in tests/test_cascade.py."
    ),
    "heavy_hitter_tokens": (
        "NOTE: library operator (r11 Misra-Gries heavy hitters; mergeable-"
        "summaries analysis of Agarwal et al. PODS'12). The exact top-"
        "tokens form shuffles the WHOLE vocabulary; this keeps <= capacity "
        "counters per Arrow batch (vectorized exact-counts construction: "
        "top-capacity minus the (capacity+1)-th count — same guarantee as "
        "the streaming decrement rule), emits tiny (item, est) rows + ONE "
        "residual row per batch, merges by plain summation: est <= true <= "
        "est + residual_total <= est + N/(capacity+1), NO false negatives "
        "above the threshold — deterministic intervals, not a "
        "probabilistic sketch. Shuffle O(batches*capacity), independent of "
        "vocabulary and corpus size. Bounds + exactness-when-capacity-"
        "covers pinned vs DuckDB in tests/test_heavy_hitters.py."
    ),
    "zorder_key": (
        "NOTE: library operator (r11 Z-order/Morton clustering — the "
        "Delta-Lake-style OPTIMIZE ZORDER BY layout pass, from public bit "
        "arithmetic). The audited plan is the key computation: one min/max "
        "agg (a single driver row) + a MAP-ONLY unrolled shift/and/or "
        "codegen projection (bits*k terms, no UDF, zero exchanges). "
        "write_zordered adds ONE range exchange + in-partition sort so "
        "every output file covers a hypercube of the k-dim space — "
        "realized footer-stats pruning is asserted on engine-written "
        "stores in tests/test_zorder.py (value-only box: z-order prunes "
        ">=50% of row groups where a user_id sort prunes 0). DuckDB "
        "replays the full bit arithmetic."
    ),
    "rm3_topk": (
        "NOTE: library operator (r11 RM3 pseudo-relevance feedback, "
        "Abdul-Jaleel et al. 2004 — the Lavrenko-Croft relevance model "
        "with original-query interpolation, the Indri/Anserini expansion "
        "baseline). Loop: BM25 feedback top-fb_docs (driver-side scores), "
        "relevance model P(w|R) = sum_D P(w|D)*P(D) from ONE explode over "
        "the fb_docs documents (broadcast id filter, map-side) + term-sum "
        "agg + TakeOrdered fb_terms, then weight(w) = a*P_orig + "
        "(1-a)*P_rm enters the weighted scorer as a codegen map literal — "
        "the audited plan here, the bm25_scores plan with one extra "
        "multiply. r13: the serving rung (rm3_store_topk / "
        "rm3_store_batch_topk, what the bench's rm3 cases measure) reads "
        "BOTH postings passes from the pruned BM25 store — zero corpus "
        "tokenize passes; values identical, pinned in "
        "tests/test_bm25_store.py. Layered DuckDB/Python replay of the "
        "whole chain in tests/test_rm3.py."
    ),
    "sample_weighted": (
        "NOTE: declared r11 query (Efraimidis-Spirakis A-ES weighted "
        "reservoir — exactly n rows per stratum, probability proportional "
        "to weight, WITHOUT replacement). The reservoir key ln(u)/w is "
        "computed map-side from the partitioning-invariant md5_uniform "
        "draw (seeded rand() would change the sample on every "
        "repartition), so the only exchange is the per-stratum rank "
        "window; the GLOBAL form (by=None) is TakeOrderedAndProject — "
        "zero exchanges, every executor forwards at most n candidates. "
        "DuckDB replays the draw and the key arithmetic exactly; an "
        "independent hashlib+NumPy replay pins ids AND ranks "
        "(tests/test_sampling.py)."
    ),
    "hamming_topk": (
        "NOTE: declared r11 query (1-bit binary-quantization serving rung — "
        "sign codes packed into int64 words, the most compressed rung of "
        "the float→SQ8→PQ→1-bit ladder: 64x smaller than float64). The "
        "search path is PURE CODEGEN: bit_count(code XOR query_literal) "
        "unrolled per word feeding TakeOrderedAndProject — zero exchanges, "
        "zero Python after the map-only encode. At 100 TB of float64 "
        "embeddings the codes are 1.56 TB and the scan never leaves "
        "whole-stage codegen; rerank (not in the declared shape) re-scores "
        "a top-c pool exactly via a broadcast join, the sq8/pq contract. "
        "DuckDB twin counts sign mismatches directly (tests/test_bq.py), "
        "so the packed representation is value-checked end to end."
    ),
    "hamming_batch64": (
        "NOTE: library operator (r11 batched Hamming serving — Q queries "
        "share ONE pass over the 64x-compressed codes). Each Arrow batch "
        "of exact int64 words XORs against the broadcast query-code "
        "matrix and popcounts via a byte lookup table (numpy<2 portable); "
        "arrowkit.batch_topk's MapInArrow keeps per-query local top-k, so "
        "the shuffle is O(batches*Q*k) survivor rows into one "
        "per-QUERY window. Loop-parity vs hamming_topk pinned in "
        "tests/test_bq.py."
    ),
    "bm25_topk": (
        "NOTE: library operator (r11 BM25 lexical retrieval — the Lucene "
        "ranking function, the keyword half the embedding rungs lack). ONE "
        "corpus stats agg (N, avgdl: a single row), then the token explode "
        "is filtered to the QUERY's terms map-side BEFORE any shuffle, so "
        "the per-(doc, term) tf agg moves only matching postings; doc "
        "length rides with the exploded rows (no corpus join back); df is "
        "a <=|query|-row agg — folded into constant idf literals in the "
        "staged/store modes (r13: no df subtree, no broadcast join in the "
        "scoring plan; this stage=False audit keeps the classic join "
        "shape, where the collect would re-run the corpus explode); the "
        "top-k is TakeOrderedAndProject. The tf postings stage to parquet "
        "by default (two consumers — df agg + scoring join — would "
        "otherwise re-explode the corpus; this audit shows the pre-staging "
        "plan, the unstaged-minhash rule). Full-formula DuckDB twin in "
        "tests/test_bm25.py."
    ),
    "c4_clean": (
        "NOTE: library operator (r11 C4 line-level cleanup, Raffel et al. "
        "2020 §2.2 — the rules that built C4: keep lines ending in "
        "terminal punctuation with >= 5 words; drop pages with < 3 "
        "surviving lines, 'lorem ipsum', or a curly brace). ZERO "
        "exchanges: the whole operator is array expressions inside the "
        "scan stage (split -> filter lambda -> array_join + three codegen "
        "predicates) — it pipelines with whatever runs next. Distinct from "
        "the frequency-based boilerplate rung (no corpus statistics at "
        "all). DuckDB twin + composition test in tests/test_c4_clean.py."
    ),
    "bm25_batch_topk": (
        "NOTE: library operator (r11 batched BM25 — Q queries share ONE "
        "corpus pass). The postings explode filters to the UNION of all "
        "queries' terms map-side, tf/df aggregate once over that union "
        "(staged by default; this audit shows the pre-staging compute), a "
        "broadcast (query_id, term) fan-out join assembles per-query sums, "
        "and the top-k is one per-QUERY window over matched docs — Q "
        "corpus scans become one. Loop-parity + DuckDB twin in "
        "tests/test_bm25.py."
    ),
    "ivf_sq8_batch": (
        "NOTE: library operator (r11 batched IVF,SQ8 serving over the "
        "persisted store — the pq.ivf_pq_batch_search shape on SQ8 codes). "
        "Per-query probe lists come driver-side from the broadcast sidecar "
        "centroids (Q·nprobe ints); the scan prunes to the UNION of probe "
        "sets (IN-list over the cluster partition column → file-level "
        "pruning); the batch kernel (arrowkit.batch_topk's MapInArrow) "
        "decodes each Arrow batch ONCE, screens all queries in one BLAS "
        "matmul with per-query probe masks and re-scores the survivors "
        "pair by pair (the single-query distances, to the bit); survivors "
        "shuffle O(batches·Q·k) into one per-query window. "
        "Loop-parity pinned in tests/test_ivf_sq8_store.py."
    ),
    "rrf_fuse": (
        "NOTE: library operator (r11 Reciprocal Rank Fusion, the "
        "Elasticsearch hybrid-search default — rank-based, so BM25 and "
        "cosine runs fuse without score calibration). Inputs are rank "
        "lists (<= k rows per query per run, never corpus-sized); per-run "
        "(q,d) min-rank collapse (the retrieval_metrics duplicate "
        "discipline), one keyed (q,d) sum, one per-QUERY window bounded by "
        "runs*k rows. The audited plan includes both real rankers "
        "(knn_batch + bm25) feeding the fusion."
    ),
    "cross_dedup": (
        "NOTE: library operator (r11 cross-corpus MinHash dedup — the "
        "incremental-crawl rung: snapshot N deduped against kept snapshot "
        "N-1, the FineWeb cross-snapshot pass). BOTH sides are "
        "corpus-scale so nothing broadcasts: each side computes wide "
        "signatures + band keys with the SHARED permutation family, "
        "candidates come from the new x ref (band, band_key) equi-join "
        "(bucket collisions only), exact-Jaccard verify joins each side's "
        "shingles by its OWN doc id (id spaces may overlap), survivors "
        "anti-join. Twin: the full two-sided chain in DuckDB plus the "
        "split-corpus identity vs declared in-corpus LSH pairs "
        "(tests/test_cross_dedup.py)."
    ),
    "ivf_sq8_store": (
        "NOTE: library operator (r11 persisted IVF,SQ8 store — the "
        "engine-written realization of ivf_sq8_topk's partition-prune "
        "claim). build trains centroids + fits the SQ8 range, writes the "
        "CODES-ONLY rows partitionBy(cluster_id) plus ONE sidecar "
        "(centroids + vmin/vmax) under a shared content-hash build_id; "
        "load refuses a torn store/sidecar pair. The plan is a bare "
        "LocalTableScan: the probed clusters' files cost fewer row visits "
        "than store.LOCAL_READ_ROWS by the footers the open read, so the "
        "driver tier reads just those files with pyarrow and runs the "
        "same decode kernel (sq._sq8_topc) on the driver — 0 Spark jobs. "
        "Over the bound: the probe IN-list prunes Parquet PARTITIONS "
        "(runtime scan metrics in tests/test_ivf_sq8_store.py) before the "
        "map-only decode + TakeOrdered. Both tiers give the same rows "
        "(tests/test_driver_tier.py)."
    ),
    "ivf_sq8_topk": (
        "NOTE: library operator (r10 FAISS-style IVF,SQ8 composition). "
        "nprobe nearest clusters chosen driver-side against the broadcast "
        "centroid matrix; the cluster_id IN-list filter prunes Parquet "
        "partitions when the store is written partitionBy(cluster_id), so "
        "the scan reads nprobe/n_clusters of the already-8x-compressed "
        "bytes before the same map-only decode-matmul + TakeOrdered as "
        "sq8_topk. nprobe = n_clusters degenerates to the flat scan "
        "bit-for-bit (pinned in tests)."
    ),
    "mad_outlier_gate": (
        "NOTE: library operator (r10 robust median/MAD outlier gate — the "
        "heavy-tail-safe alternative to mean/stddev gating for corpus "
        "quality signals). TWO grouped percentile sketches (median, then "
        "MAD of residuals), each a map-side-combinable agg whose "
        "|groups|-row result broadcasts back into a map-only filter — no "
        "windows, no global sort; zero-spread groups keep everything and "
        "NULL signals pass by default (gates drop only on evidence)."
    ),
    "wet_ingest": (
        "NOTE: library source (r10 CommonCrawl WET/WARC ingestion, "
        "pure-stdlib ISO 28500 parsing). One task per .warc.wet.gz file — "
        "gzip is not splittable, so per-FILE parallelism is the honest "
        "physical plan (CommonCrawl ships ~90k files per crawl: natural "
        "task fan-out at cluster scale). The plan is binaryFile scan → one "
        "MapInPandas gunzip+parse pass → the codegen documents adapter "
        "(xxhash64 ids + try_parse_url hosts): ZERO exchanges; rows "
        "pipeline straight into the curation ladder's first map stage."
    ),
    "dedup_paragraphs": (
        "NOTE: library operator (r10 Dolma-style paragraph keep-first "
        "dedup — repeated paragraphs keep their earliest (doc_id, pos) "
        "copy; distinct from remove_boilerplate_lines, which removes hot "
        "lines from EVERY doc). The boilerplate skeleton: map-only "
        "posexplode, ONE paragraph-keyed groupBy for the min-struct "
        "winner (map-side combinable), one keyed join back "
        "(AQE-broadcast when the dup dictionary is small), ONE per-doc "
        "rebuild whose sort is bounded by document length — nothing "
        "quadratic, nothing global."
    ),
    "sq8_topk": (
        "NOTE: library operator (r10 SQ8 scalar quantization, the FAISS "
        "QT_8bit serving rung — 8x smaller scans than float64). The "
        "audited plan is the rerank ladder's exact half: the broadcast "
        "top-50 candidate join back to the float column + TakeOrdered. "
        "The coarse half it consumed is one map-only MapInPandas pass "
        "(per-batch decode + BLAS dot + local top-c, shuffle O(batches·c)); "
        "fit is one Arrow min/max partial pass collected bounded-by-batch."
    ),
    "pca_whiten": (
        "NOTE: library operator (r10 PCA whitening, the BERT-whitening/"
        "OPQ-preconditioning rung). The audited plan is the APPLY half: one "
        "map-only MapInPandas matmul pass under broadcast (mean, W) — zero "
        "exchanges, pipelines off the scan. The fit half it consumed first "
        "is one Arrow moment-partial pass whose driver collect is bounded "
        "by partition count (64-dim sums + 64x64 outer products per batch), "
        "then a driver-side eigh with pinned eigenvector signs so results "
        "are partitioning-invariant."
    ),
    "leakage_safe_split": (
        "NOTE: library operator (r10 leakage-safe train/val/test split — "
        "near-dup pairs closed into connected components, split drawn on "
        "the GROUP id so no pair straddles eval/train). The audited plan "
        "composes the LSH candidate pass (audited standalone as "
        "dedup_minhash_lsh) with the CC closure's final docs-side join; "
        "the split assignment itself is the map-only md5_uniform "
        "when-chain — zero exchanges of its own, partitioning-invariant "
        "and insertion-stable where randomSplit is neither."
    ),
    "budget_select": (
        "NOTE: library operator (r10 token-budget selection — the 'keep the "
        "best 1T tokens' cut). The audited plan is the kept-rows frame: the "
        "fully-in buckets pipeline map-only off the scan (isin on the "
        "driver-classified bucket ids), and the SINGLE Exchange is the "
        "boundary-bucket window cumsum carrying ~N/n_buckets rows seeded "
        "with the broadcast running offset. The two driver passes it "
        "consumed first (percentile_approx score cuts; per-bucket token "
        "totals, <= n_buckets+2 rows collected) are map-side-combinable "
        "aggs — no global sort anywhere, unlike the textbook full-corpus "
        "window cumsum."
    ),
    "url_filter": (
        "NOTE: library operator (r10 UT1-style URL blocklist gate, the "
        "RefinedWeb pre-content rung). ZERO exchanges — host extraction "
        "is the codegen try_parse_url and list membership one "
        "ArrowEvalPython pass probing each host's label-boundary "
        "dot-suffixes against the broadcast frozen blocklist set (a "
        "UT1-sized list is low-hundreds MB as a set — executor-memory "
        "bounded, never a join); the verdict filter pipelines into the "
        "scan."
    ),
    "curriculum_order": (
        "NOTE: declared r10 (tiered curriculum export). shuffle_corpus's "
        "fixed-prefix-bucket machinery with the difficulty tier prepended "
        "to the composite bucket key: the ONE data Exchange is the "
        "(tier, bucket) window partition; offsets are a broadcast of the "
        "≤ n_tiers·4096-row per-bucket counts collected in a separate "
        "map-side-combinable agg job (not in this tree). No global window, "
        "no range-sampled sort."
    ),
    "prune_ivf_store": (
        "NOTE: library operator (r9 in-place IVF-store pruning), audited "
        "in dry-run form — the survivor-decision plan. Difficulty is the "
        "map-only MapInPandas against the store's own centroid sidecar "
        "(no retrain, no re-assignment); the vec_id Exchange is the "
        "per-vector primary-prototype reduction and the cluster_id "
        "Exchange the quota window. The rewrite tail (survivor staging, "
        "ONE fused pre-swap cluster_stats scan, partitioned snapshot "
        "write, sidecar swap) is measured in the scale table "
        "(prune_ivf_store row)."
    ),
    "align_filter": (
        "NOTE: library operator (r9 CLIP-score pair gate). Zero exchanges — "
        "both embed UDFs and the JVM cosine + threshold filter are one "
        "ArrowEvalPython + Project over the scan; binary payloads never "
        "shuffle, and the transient embedding columns are consumed inside "
        "the projection (output schema = input + align_score)."
    ),
    "prune_prototypes": (
        "NOTE: library operator (r9 Sorscher prototype pruning, production "
        "rung). Difficulty is the map-only MapInPandas against the broadcast "
        "centroid matrix; the ONE data Exchange is hashpartitioning on "
        "cluster_id feeding the rank+count window that enforces the "
        "per-cluster quota. Centroid training ran at plan-build (bounded "
        "driver sample, the train_centroids contract)."
    ),
    "kn_score": (
        "NOTE: library operator (r9 Kneser-Ney perplexity, serving path "
        "over the staged LM). The corpus-sized work is the bigram explode "
        "feeding three lookup joins against bigram-VOCABULARY-sized staged "
        "reads (the (w1,w2) probe, the w1 marginal, the w2 continuation) "
        "plus the per-doc aggregate; at 100 TB the three probe tables "
        "broadcast (they scale with vocabulary, not corpus)."
    ),
    "compression_gate": (
        "NOTE: library operator (r9 zlib quality gate). Zero exchanges — "
        "the ratio kernel and the two-sided filter are one MapInPandas + "
        "Filter over the scan; zlib runs in stdlib C per Arrow batch."
    ),
    "ivf_pq_batch_topk": (
        "NOTE: library operator (r9 batched IVF-PQ serving). ONE "
        "union-pruned codes scan (the cluster IN-filter prunes partition "
        "directories) feeds the masked batch-ADC MapInArrow "
        "(arrowkit.batch_topk) — the broadcasts carry Q LUTs + the "
        "(Q, n_clusters) probe mask — and "
        "the only exchange moves O(batches*Q*k*n_assign) survivor rows "
        "into the per-query rank window; per-query probe semantics are "
        "exact (pinned vs the per-query loop)."
    ),
    "hard_negatives": (
        "NOTE: declared r8 (deterministic rung, shown UNSTAGED — the "
        "declared form stages the assigned frame once). Seed centroids are "
        "a TakeOrderedAndProject; assignment is a broadcast of the k-row "
        "centroid table + a partial-aggregable max_by (no window); the "
        "data-sized Exchange is the groupBy(cluster_id) into the blocked "
        "different-label top-k kernel, and the rank window moves only "
        "O(N·k) candidate rows."
    ),
    "pack_sequences": (
        "NOTE: declared r8 (boundary-respecting SFT packing). ONE Exchange "
        "on the deterministic shard key feeding a sorted-partition "
        "MapInPandas with carry-over state (peak memory = one Arrow batch + "
        "the open pack, independent of shard size); next-fit is inherently "
        "sequential per shard, so n_shards bounds chain length and "
        "parallelism."
    ),
    "hard_negatives_ivf": (
        "NOTE: library operator (contrastive mining, production rung). The "
        "data-sized Exchange is the groupBy(cluster_id) into the per-cluster "
        "blocked-matmul top-k kernel; the second Exchange moves only "
        "O(N·k·n_assign) candidate rows into the per-anchor merge window."
    ),
    "video_near_dup": (
        "NOTE: library operator (video rollup of the pHash family). "
        "Frame sampling + pHash are map-only Arrow passes; the corpus-sized "
        "shuffle is the pair-band hamming join (see image_near_dup), and "
        "the rollup exchange moves only verified frame-pair rows."
    ),
    "corrupt_spans": (
        "NOTE: library operator (T5 span corruption, shown over an unstaged "
        "pack). Corruption itself is the terminal MapInPandas — map-only, "
        "per-row md5-seeded PRNG, zero added shuffles; everything below it "
        "is pack_token_windows' audited bucket-cumsum/explode/rebuild plan."
    ),
    "decontaminate_bloom": (
        "NOTE: library operator (membership-compression rung). The benchmark "
        "side collapses to a ONE-ROW broadcast bitmap (BroadcastNestedLoop "
        "of a single row); probes are codegen bit tests — the only "
        "corpus-sized shuffle is the per-doc overlap count."
    ),
    "image_near_dup": (
        "NOTE: library operator (image near-dup) over FAKEIMG payloads "
        "synthesized from the doc texts: the real pHash pass runs as a "
        "map-only Arrow hash pass; the audited shape after it is the "
        "pair-of-bands explode (r7b multi-index: 28 16-bit keys, exact for "
        "distance ≤ n_bands−2) → key-repartitioned band equi-join "
        "(explicit count, exempt from AQE's input-byte coalescing, which "
        "would funnel the output-exploding join through one task) → "
        "map-side bit_count verify BEFORE the distinct exchange. Never "
        "all-pairs."
    ),
    "decontaminate_spans": (
        "NOTE: declared r8 (span-level benchmark decontamination). The "
        "benchmark gram dictionary is an explicit broadcast (eval sets are "
        "tiny), so hit detection is map-only over the corpus gram explode; "
        "the only hit-sized Exchange is the per-doc position collect_list, "
        "and the fragment rebuild join is AQE-sized (broadcast in the "
        "common sparse-hits case). Clean-fragment complement is closed-form "
        "array math — no interval-merge fold, no window."
    ),
    "pq_batch_topk": (
        "NOTE: library operator (r8 batched ADC). All Q query LUTs ride one "
        "broadcast; the MapInArrow (arrowkit.batch_topk) emits only "
        "per-batch per-query top-k rows, so the single Exchange under the "
        "rank window carries O(batches*Q*k) — the knn_batch_fast "
        "discipline over codes."
    ),
    "fim_transform": (
        "NOTE: library operator (r8 fill-in-the-middle). One map-only "
        "MapInPandas — per-row md5-seeded PRNG, zero shuffles; the plan is "
        "scan -> project -> Arrow map, nothing else."
    ),
    "pq_topk_rerank": (
        "NOTE: library operator (r8 product quantization, IVF-ADC+R serving "
        "path over codes staged once per session, as a written table is "
        "at rest). ADC scoring is a map-only MapInPandas against the "
        "broadcast LUT into a TakeOrderedAndProject; the rerank is an "
        "R-row broadcast join back to the float table. No shuffle "
        "anywhere on the scan path."
    ),
    "encode_unigram": (
        "NOTE: library operator (r8 unigram-LM tokenizer, serving path). "
        "Map-only by construction — one MapInPandas over the scan with the "
        "(piece → logprob, id) tables broadcast and a per-task word cache; "
        "training is driver-side over the one-job word dict, so no training "
        "plan exists to audit."
    ),
    "langid_score": (
        "NOTE: library operator (r7b learned lang-ID, scoring path). Map-only "
        "by design — normalize → gram transform (normalized string "
        "materialized as a column first: Spark does not CSE into transform() "
        "lambdas, and the inline form re-ran regexp_replace per gram, 10x "
        "the pass) → HashingTF → LR matrix-vector; pipelines into the scan, "
        "no shuffle."
    ),
    "audio_near_dup": (
        "NOTE: library operator (r7b audio near-dup). Corpus-sized work: one "
        "map-only Arrow fingerprint pass (staged once — both join sides "
        "re-scan it) and the pair-band hamming join above; the rollup's "
        "exchange moves only verified frame-pair rows."
    ),
    "dedup_minhash_lsh": (
        "NOTE: pre-staging plan (stage=False) — the declared query checkpoints "
        "this result to parquet and returns the staged read; THIS is the compute "
        "that runs. InMemoryTableScan nodes are the one-pass shingle cache."
    ),
    "embedding_near_dup": (
        "NOTE: the declared rung gathers the (size-guarded, ≤512 MiB) vector "
        "matrix at CONSTRUCTION time and broadcasts it, so the plan shows only "
        "scan→MapInPandas — the quadratic work is columnar BLAS inside the UDF, "
        "never a row-explosion join. Past the guard the call re-routes to the "
        "fully distributed SRP-LSH rung (audited as srp_lsh_near_dup below)."
    ),
    "ivf_topk_exact": (
        "NOTE: per-probe-batch plan (one cluster IN-filter shown) — the "
        "declared adaptive query runs this plan per geometric probe batch, "
        "merging the k-row results driver-side and early-exiting on the "
        "triangle bound; at rest the IN-filter prunes cluster_id partition "
        "directories, so bytes read ∝ clusters probed (SCALE_BENCH.md)."
    ),
    "ivf_near_dup_pairs": (
        "NOTE: library operator (SemDeDup rung of the near-dup ladder). Two "
        "Exchanges: the DATA-sized one is the groupBy(cluster_id) feeding "
        "FlatMapGroupsInPandas (per-cluster chunked BLAS all-pairs; assignment "
        "is the map-only MapInPandas above it); the second moves only "
        "OUTPUT-sized τ-filtered pair rows into the multi-assign dedup "
        "aggregate."
    ),
    "shuffle_corpus": (
        "NOTE: library operator. This input is a bare deterministic scan, so "
        "the r6 plan inspection SKIPS parquet staging: the Scan parquet here "
        "IS the source table, re-read by the ≤4096-row bucket-count job and "
        "this numbering job — two scans of immutable files cannot diverge "
        "and beat a write+read round trip. A wide or nondeterministic "
        "upstream (the curation pipeline) stages the hashed projection "
        "instead, so IT executes exactly once and the offsets can never "
        "desync. The data Exchange is hashpartitioning on the FIXED "
        "md5-prefix bucket (a prefix of the sort key, so bucket order equals "
        "hash order) feeding a per-bucket row_number window; global positions "
        "add broadcast per-bucket offsets. No global-window single-partition "
        "stage, and no range-sampled sort."
    ),
    "redact_pii": (
        "NOTE: library operator. Zero exchanges by construction — the entire "
        "redaction+audit pass is one codegen'd Project over the scan; at any "
        "scale this pipelines into whatever reads follow."
    ),
    "encode_bpe": (
        "NOTE: declared r7. The plan is ONE MapInPandas over the scan — the "
        "Arrow-batched greedy segmenter with broadcast merge ranks and a "
        "per-task word cache; zero exchanges, cost ~ distinct words per task "
        "(Zipf). The charset/vocab construction ran once at plan-build "
        "(corpus_charset: explode+distinct, bounded collect) — with a "
        "trained artifact (train_bpe_model) even that pass disappears."
    ),
    "quality_score": (
        "NOTE: library operator (r6, learned quality filter). Scoring is "
        "map-only — HashingTF + the LR dot product pipeline into the scan "
        "with zero exchanges; the broadcast is the coefficient vector. "
        "Training (not shown) is MLlib's treeAggregate L-BFGS."
    ),
    "substring_dedup": (
        "NOTE: library operator (r6, exact substring dedup at n-gram "
        "resolution; r7 single-pass). The gram explode+md5 is STAGED to "
        "parquet once at call time — the plan below shows ZERO Generate "
        "nodes because both consumers (the hot-set groupBy and the "
        "occurrence equi-join) read the staged scan, so the O(tokens) pass "
        "executes exactly once (the r6 plan re-derived it per consumer). "
        "Exchanges are all keyed on corpus-derived keys, the per-doc "
        "hot/keeper starts now come from ONE collect_list groupBy, never a "
        "broadcast of anything corpus-sized, and no UDF: the span mask is "
        "index-lambda filter/exists in codegen. The md5 gram key is 128-bit "
        "on purpose (64-bit birthday-collides at web-corpus gram counts)."
    ),
}


def sections() -> list[str]:
    """Every audited section name, in PLANS.md order."""
    return AUDIT + CASES + list(EXTRA_OPS)


def declared_queries() -> dict:
    """The declared queries plus the rotation-retired ones: the roster is
    about the OPERATOR surface, not the driver's 50-slot window."""
    from photo_vector_search_spark.plans import (
        embed_queries,
        pipeline_queries,
        relational,
        store_queries,
        text_queries,
    )

    qs = entrymod.queries()
    for mod in (store_queries, relational, text_queries, pipeline_queries, embed_queries):
        for name, fn in mod.RETIRED_QUERIES.items():
            qs.setdefault(name, fn)
    return qs


def formatted_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def summarize(plan: str) -> dict[str, object]:
    # count node DETAIL headers "(n) <Op>" — exactly one per physical node,
    # including nodes inside subquery sections (tree-segment scans missed those)
    return {
        "shuffles": len(re.findall(r"\(\d+\) Exchange\b", plan)),
        # any scan with a NON-empty pushed-filter list (an empty list on one
        # scan must not mask pushes on another)
        "pushed_filters": bool(re.search(r"PushedFilters: \[[^\]]", plan)),
        "broadcast_joins": len(
            re.findall(r"\(\d+\) Broadcast(?:Hash|NestedLoop)Join\b", plan)
        ),
        "take_ordered": "TakeOrderedAndProject" in plan,
        "codegen_spans": len(set(re.findall(r"codegen id : (\d+)", plan))),
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("pvs-plan-report")
    qs = declared_queries()
    # the bench form wins where the scale table overrides a case
    registry = scale_bench.extra_cases(spark, sf_dir) | bench._build_cases(
        spark, sf_dir
    )

    def frame(name):
        if name in UNSTAGED:
            return UNSTAGED[name](spark, sf_dir)
        if name in EXTRA_OPS:
            return EXTRA_OPS[name](spark, sf_dir)
        if name in AUDIT:
            return qs[name](spark, sf_dir)
        return registry[CASE_ALIASES.get(name, name)]()

    out = [
        "# PLANS — physical-plan audit of headline queries",
        "",
        f"Generated by `tools/plan_report.py` at sf_dir=`{sf_dir}`.",
        "Checklist per query: shuffle stages (Exchange count in the tree), filter",
        "pushdown to the Parquet scan, broadcast join usage, top-k via",
        "TakeOrderedAndProject (no global sort), whole-stage-codegen span count.",
        "",
    ]
    roster = sections()
    written = 0
    for name in roster:
        if name in AUDIT and name not in UNSTAGED and name not in qs:
            print(f"WARNING: audited query {name!r} no longer in queries() — skipped")
            continue
        written += 1
        plan = formatted_plan(frame(name))
        s = summarize(plan)
        out.append(f"## {name}")
        out.append("")
        if name in NOTES:
            out.append(NOTES[name])
            out.append("")
        out.append(
            f"- exchanges(tree): {s['shuffles']} · pushed-filters: {s['pushed_filters']}"
            f" · broadcast-joins: {s['broadcast_joins']}"
            f" · TakeOrderedAndProject: {s['take_ordered']}"
            f" · codegen-spans: {s['codegen_spans']}"
        )
        out.append("")
        tree = plan.split("\n\n")[0]
        out.append("```\n" + tree.strip() + "\n```")
        out.append("")
        spark.catalog.clearCache()  # unstaged builders may leave audit caches
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({written} of {len(roster)} audited queries)")
    spark.stop()


if __name__ == "__main__":
    main()
