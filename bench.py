"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1) on
local[$SPARK_GRAFT_CPUS]. Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec", "queries": {name: sec},
   "common16_total": sec, "isolation": "process-per-group", "sf": ...}

Measurement methodology (round-4 fix): the round-3 artifact showed queries slowing
4x with byte-identical code because all 22 queries shared one SparkSession — the
two staged-LSH heavyweights inflated everything that ran after them (GC pressure,
shuffle-file accumulation, codegen-cache churn). Two changes make the artifact
measure CODE, not session history or host weather:

1. process-per-group: each query group runs in its own subprocess (fresh JVM,
   fresh Python workers); the round-3-new staged-LSH heavyweights are
   quarantined in their own group. The round-1 16-query subset runs as one
   group in round-1's order — methodologically identical to BENCH_r01 — and
   its sum is reported as ``common16_total``.
2. min-of-2 per query: the host VM's effective speed swings ~1.7x between runs
   of byte-identical code (documented r01→r03, SCALE_BENCH.md); the min of two
   back-to-back end-to-end runs discards the noise spike. ``runs_per_query`` /
   ``stat`` fields record this; SPARK_GRAFT_BENCH_RUNS=1 restores single-shot.

Each query is forced end-to-end with the `noop` sink (full computation, no write
I/O, no driver collect skew). Timings exclude SparkSession startup; a warmup scan
plus a tiny shuffle primes the JVM/code-gen, and (round-5 fix) a tiny mapInPandas
+ self-join + levenshtein primes Python worker spawn, Arrow (de)serialization,
and join codegen — the r4 artifact showed the heavyweight group's first query
paying ~2x its warm wall for exactly those cold paths, a cost min-of-2 cannot
amortize because both runs pay it identically. All warmups are untimed.

SPARK_GRAFT_BENCH_CASES=a,b,c keeps its round-3 semantics: run exactly those
cases in ONE in-process session (the isolation-experiment mode SCALE_BENCH.md
uses for cross-round comparisons).

The case registry: ``_build_cases(spark, sf_dir)`` maps each case name to a
zero-argument builder, the one place a case is built. A builder returns the
DataFrame the case times, or None for a fit/write case (``bpe_train``,
``unigram_train``, ``zorder_write``) that does its work when called; the runner
(``time_case``) forces a returned frame inside the same timed region. Three
readers share it: ``tools/plan_report.py`` audits the returned frames by case
name (PLANS.md), ``tools/scale_bench.py`` times the same builders at 10x next to
its scale-only cases and overrides, and ``tools/plan_dump.py`` dumps a case's
formatted plan.
"""

from __future__ import annotations

import functools
import json
import os
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, ROOT)
# Python workers import the package too, and they inherit the JVM's
# environment: export the repo root before any session starts, so a run
# launched outside the repo root finds it.
os.environ["PYTHONPATH"] = os.pathsep.join(
    filter(None, [ROOT, os.environ.get("PYTHONPATH")])
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS_PER_QUERY = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))

# Round-1's query list IN ROUND-1's ORDER: the stable cross-round comparison
# subset. It runs as one group = one fresh session, so its timings are
# methodologically identical to BENCH_r01 and to the SCALE_BENCH.md isolation
# experiments (which established that cross-round deltas on this subset are
# environment drift, not code).
COMMON16 = [
    "knn_topk",
    "knn_batch64_fast",
    "tpch_q1",
    "tpch_q3",
    "tpch_q5",
    "window_topk_orders",
    "events_hourly",
    "events_sessionize",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_near_dup",
    "text_stats",
    "embed_documents",
    "ivf_build_and_query",
    "upsert_merge",
    "photo_group_collect",
]

# Query groups: each runs in a fresh process (fresh JVM, fresh Python workers),
# so the two staged-LSH heavyweights — whose in-session residue inflated
# unrelated queries 4x in BENCH_r03 — are quarantined where they can inflate
# nothing. A fresh group pays its own JIT/worker cold-start on its first
# queries; that cost is identical across rounds (same methodology every run),
# which is what makes the artifact comparable.
GROUPS: dict[str, list[str]] = {
    "common16": COMMON16,
    "extras": [
        "cube_lineitem",
        "pack_documents_sharded",
        "tfidf_top_terms",
        "source_drift",
    ],
    "lsh_staged": ["fuzzy_levenshtein_blocked", "srp_lsh_near_dup_sql"],
    "r5_new": ["ivf_near_dup_pairs", "shuffle_corpus"],
    "r6_new": ["substring_dedup", "bpe_train"],
    "r7_new": ["encode_bpe", "quality_score", "pack_windows", "mix_corpus"],
    "r7_select": ["dsir_weights", "semdedup"],
    "r7_mine": ["hard_negatives", "decontaminate_bloom"],
    "r7b_new": ["ppl_filter", "domain_cap"],
    "r8_new": ["pack_sequences", "image_near_dup"],
    "r8b_new": [
        "decontaminate_spans",
        "unigram_train",
        "encode_unigram",
        "pq_topk_rerank",
    ],
    "r9_new": [
        "align_filter",
        "ivf_pq_batch_topk",
        "prune_prototypes",
        "kn_score",
        "curriculum_order",
    ],
    "r10_new": [
        "url_filter",
        "budget_select",
        "leakage_safe_split",
        "retrieval_eval",
        "pca_whiten",
        "sq8_topk",
        "dedup_paragraphs",
        "wet_ingest",
        "mad_outlier_gate",
        "ivf_sq8_topk",
    ],
    "r11_new": [
        "ivf_sq8_store",
        "bm25_topk",
        "rrf_fuse",
        "cross_dedup",
        "bm25_batch_topk",
        "ivf_sq8_batch",
        "c4_clean",
        "hamming_topk",
        "hamming_batch64",
        "sample_weighted",
        "rm3_topk",
        "zorder_write",
        "heavy_hitter_tokens",
        "cascade_topk",
        "pool_embeddings",
        "ivf_sq8_live_topk",
        "cascade_batch16",
        "maxsim_search",
        "rocchio_topk",
    ],
    "r12_new": [
        "maxsim_store_search",
        "cross_dedup_store",
        "rm3_batch8",
        "rocchio_batch8",
        "maxsim_batch8",
        "hybrid_batch8",
        "bm25_store_search",
        "bm25_store_batch8",
        "colbertv2_search",
        "colbertv2_batch8",
    ],
}


def _force(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def fake_media_docs(spark, sf_dir: str, kind: str, with_caption: bool = False):
    """(path, content[, caption]) rows synthesizing the documents table into
    FAKEIMG / FAKEAUDIO payloads — ONE definition shared by the per-round
    bench, the scale bench, and the plan audit, so they all
    measure/inspect the same corpus shape (the synthesis was once
    copy-pasted in three places — review finding). ``with_caption=True``
    keeps the source text as a ``caption`` column (the alignment-gate pair
    shape)."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.sources.tables import load_table

    prefix = {"image": "FAKEIMG:64x32:", "audio": "FAKEAUDIO:"}[kind]
    cols = [
        F.col("doc_id").cast("string").alias("path"),
        F.encode(F.concat(F.lit(prefix), F.col("text")), "utf-8").alias(
            "content"
        ),
    ]
    if with_caption:
        cols.append(F.col("text").alias("caption"))
    return load_table(spark, sf_dir, "documents").select(*cols)


URL_BLOCKLIST = ("example0.com", "example1.com", "tracker.net")


def fake_url_docs(spark, sf_dir: str):
    """(doc_id, url) rows synthesizing the documents table into
    deterministic URLs — ONE definition shared by the bench, the scale
    bench, the plan audit, and the DuckDB twin tests (the fake_media_docs
    rule). Hosts cycle through every match class of ``filter_urls`` vs
    ``URL_BLOCKLIST``: exact blocked host, subdomain of a blocked host,
    same-STRING-suffix sibling that must NOT match (label boundaries),
    clean host, and a malformed URL with no parseable host."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.sources.tables import load_table

    sel = F.col("doc_id") % 5
    two = (F.col("doc_id") % 2).cast("string")
    host = (
        F.when(sel == 0, F.concat(F.lit("example"), two, F.lit(".com")))
        .when(sel == 1, F.concat(F.lit("cdn.example"), two, F.lit(".com")))
        .when(sel == 2, F.concat(F.lit("notexample"), two, F.lit(".com")))
        .otherwise(
            F.concat(F.lit("docs"), (F.col("doc_id") % 4).cast("string"),
                     F.lit(".org"))
        )
    )
    url = F.when(
        sel == 4, F.concat(F.lit("::not a url::"), F.col("doc_id").cast("string"))
    ).otherwise(
        F.concat(F.lit("https://"), host, F.lit("/d/"),
                 F.col("doc_id").cast("string"))
    )
    return load_table(spark, sf_dir, "documents").select(
        "doc_id", url.alias("url")
    )


def fake_c4_docs(spark, sf_dir: str):
    """Multi-line C4-shaped corpus synthesized from the single-line fixture
    docs (real text + period, a too-short line, an unpunctuated failing
    line on every 7th doc, one synthetic survivor) — ONE definition shared
    by the bench, the scale bench, the plan audit, and the DuckDB twin."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(F.col("text"), F.lit(".")),
            F.lit("tiny line."),
            F.when(F.col("doc_id") % 7 == 0, F.col("text")),
            F.lit("This synthetic second line has enough words today."),
        ).alias("text"),
    )


_WET_DIR_MEMO: dict = {}


def fake_wet_dir(spark, sf_dir: str, n_files: int = 8) -> str:
    """Write the documents table as ``n_files`` gzipped WET files under the
    session staging dir (once per sf_dir — memoized) and return the
    directory — ONE fixture definition shared by the bench, the scale
    bench, and the plan audit (the fake_media_docs rule). Records carry
    deterministic example.com URIs so wet_to_documents' host extraction is
    exercised."""
    import gzip as _gzip
    import os as _os

    key = (spark.sparkContext.applicationId, sf_dir, n_files)
    if key in _WET_DIR_MEMO:
        return _WET_DIR_MEMO[key]
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    out = session_staging_dir("pvs_bench_wet")
    rows = load_table(spark, sf_dir, "documents").select("doc_id", "text").collect()
    buckets: list[list[bytes]] = [[] for _ in range(n_files)]
    for r in rows:
        body = (r["text"] or "").encode("utf-8")
        hdr = (
            "WARC/1.0\r\nWARC-Type: conversion\r\n"
            f"WARC-Record-ID: <urn:uuid:doc-{r['doc_id']}>\r\n"
            "WARC-Date: 2024-01-15T12:00:00Z\r\n"
            f"WARC-Target-URI: https://host{r['doc_id'] % 7}.example.com/d/{r['doc_id']}\r\n"
            f"Content-Length: {len(body)}\r\n\r\n"
        ).encode()
        buckets[r["doc_id"] % n_files].append(hdr + body + b"\r\n\r\n")
    for i, recs in enumerate(buckets):
        with open(_os.path.join(out, f"part-{i:03d}.warc.wet.gz"), "wb") as f:
            f.write(_gzip.compress(b"".join(recs)))
    _WET_DIR_MEMO[key] = out
    return out


# The 8-query text batches of the batched serving cases.
SERVE_QUERIES = (
    "the quick brown fox",
    "lazy dog river",
    "distributed query engines",
    "slow window scan",
    "customer data table",
    "join stream group",
    "sort merge part",
    "vector value batch",
)
FEEDBACK_QUERIES = (
    "the quick brown fox",
    "lazy dog jumps",
    "data quality language",
    "old river bank",
    "fox and dog",
    "quick quality fox",
    "brown river dog",
    "the lazy old fox",
)


def query_frame(spark, texts):
    """(query_id, query) rows for ``texts``, numbered from 0."""
    return spark.createDataFrame(
        list(enumerate(texts)), "query_id long, query string"
    )


def vector_queries(emb, n: int, cast: bool = False):
    """(query_id, query_vec) rows for the first ``n`` vectors of ``emb``;
    ``cast`` widens query_vec to array<double>."""
    from pyspark.sql import functions as F

    vec = F.col("embedding")
    if cast:
        vec = vec.cast("array<double>")
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"), vec.alias("query_vec")
    )


def _build_cases(spark, sf_dir: str) -> dict:
    """The case registry: name -> zero-argument builder returning the frame
    the case times, or None for a fit/write case that does its work when
    called (see the module docstring)."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators import (
        alignment,
        ann,
        bloom,
        bm25,
        bm25_store,
        bpe,
        bq,
        cascade,
        contrastive,
        cross_dedup,
        dedup,
        domains,
        embeddings,
        fusion,
        heavy_hitters,
        image_dedup,
        index_maintenance,
        kneser_ney,
        knn,
        late_interaction,
        packing,
        pq,
        pruning,
        selection,
        shuffle,
        splits,
        sq,
        substring,
        token_compression,
        unigram,
        zorder,
    )
    from photo_vector_search_spark.pipelines import embed, quality
    from photo_vector_search_spark.plans import (
        embed_queries,
        pipeline_queries,
        relational,
        store_queries,
        text_queries,
    )
    from photo_vector_search_spark.sources import warc
    from photo_vector_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    vec = knn.fetch_query_vector(spark, sf_dir, 0)
    queries64 = vector_queries(emb, 64)

    def _docs():
        return load_table(spark, sf_dir, "documents")

    def _emb():
        return load_table(spark, sf_dir, "embeddings")

    def _query_vec3():
        # a point-lookup job inside the timed region of the cases that use it
        return [float(v) for v in _emb().filter("vec_id = 3").first()["embedding"]]

    def _ivf_build_and_query():
        centroids = ann.train_centroids(emb, n_clusters=16)
        return ann.ivf_topk(
            ann.assign_clusters(emb, centroids), centroids, vec, k=5, nprobe=4
        )

    def _bpe_train():
        bpe.train_bpe(_docs(), n_merges=200, min_count=2)

    def _unigram_train():
        unigram.train_unigram_model(_docs(), vocab_size=2000, min_count=2)

    def _pca_whiten():
        model = embeddings.fit_pca_whitening(_emb(), dim=16)
        return embeddings.apply_whitening(_emb(), model)

    def _sq8_topk():
        e = _emb()
        model = sq.fit_sq8(e)
        return sq.sq8_topk(
            sq.encode_sq8(e, model), model, _query_vec3(), k=5, rerank=50
        )

    def _ivf_sq8_topk():
        e = _emb()
        cents, model = ann.train_centroids(e, n_clusters=8), sq.fit_sq8(e)
        coded = sq.encode_sq8(ann.assign_clusters(e, cents), model).select(
            "vec_id", "label", "cluster_id", "sq8"
        )
        return sq.ivf_sq8_topk(
            coded, cents, model, _query_vec3(), k=5, nprobe=2
        )

    def _rrf_fuse():
        # 4 vector queries (the fast map-side-matmul knn_batch, mirroring the
        # declared q_rrf_fuse) + one lexical BM25 list fanned out per query
        e, docs = _emb(), _docs()
        queries = vector_queries(e, 4)
        vec_run = knn.knn_batch_fast(e, queries, k=16).select(
            "query_id", F.col("vec_id").alias("doc_id"), "rank"
        )
        lex = bm25.bm25_topk(docs, "the quick brown fox", k=16).select(
            "doc_id", "rank"
        )
        lex_run = queries.select("query_id").crossJoin(lex)
        return fusion.rrf_fuse([vec_run, lex_run], k=60)

    def _zorder_write():
        zorder.write_zordered(
            load_table(spark, sf_dir, "events").select(
                "event_id", "user_id", "value"
            ),
            "/tmp/pvs_bench_zorder",
            ["user_id", "value"],
            n_files=16,
        )

    return {
        # flagship retrieval (SQL expression path + fast batched path)
        "knn_topk": lambda: knn.knn_topk(emb, vec, k=5),
        "knn_batch64_fast": lambda: knn.knn_batch_fast(emb, queries64, k=5),
        "ivf_build_and_query": _ivf_build_and_query,
        # relational / shuffle-heavy
        "tpch_q1": lambda: relational.q_tpch_q1(spark, sf_dir),
        "tpch_q3": lambda: relational.q_tpch_q3(spark, sf_dir),
        "tpch_q5": lambda: relational.q_tpch_q5(spark, sf_dir),
        "window_topk_orders": lambda: relational.q_window_topk_orders(spark, sf_dir),
        "events_hourly": lambda: relational.q_events_hourly(spark, sf_dir),
        "events_sessionize": lambda: relational.q_events_sessionize(spark, sf_dir),
        "cube_lineitem": lambda: relational.q_cube_lineitem(spark, sf_dir),
        # text / pipeline
        "text_stats": lambda: text_queries.q_text_stats(spark, sf_dir),
        "tfidf_top_terms": lambda: text_queries.q_tfidf_top_terms(spark, sf_dir),
        "source_drift": lambda: pipeline_queries.q_source_drift(spark, sf_dir),
        "embed_documents": lambda: embed_queries.q_embed_documents(spark, sf_dir),
        "pack_documents_sharded": lambda: pipeline_queries.q_pack_documents_sharded(
            spark, sf_dir
        ),
        # store surface
        "upsert_merge": lambda: store_queries.q_upsert_merge(spark, sf_dir),
        "photo_group_collect": lambda: store_queries.q_photo_group_collect(
            spark, sf_dir
        ),
        # dedup family
        "dedup_exact": lambda: dedup.exact_dedup(_docs()),
        "embedding_near_dup": lambda: dedup.embedding_near_dup_fast(emb, tau=0.45),
        "dedup_minhash_lsh": lambda: dedup.minhash_lsh_pairs(_docs(), n=3, tau=0.5),
        "fuzzy_levenshtein_blocked": lambda: dedup.fuzzy_pairs_blocked(
            _docs(), max_dist=16, max_df=0.02
        ),
        # pinned to the oracle constants like the declared query: no per-call
        # count() pre-job (see q_srp_lsh_near_dup)
        "srp_lsh_near_dup_sql": lambda: dedup.srp_lsh_near_dup_sql(
            emb, tau=0.45, n_planes=6, n_tables=16
        ),
        # round-5 operators (own process group so history stays comparable)
        "ivf_near_dup_pairs": lambda: ann.ivf_near_dup_pairs(
            emb, tau=0.45, n_clusters=16, n_assign=2
        ),
        "shuffle_corpus": lambda: shuffle.shuffle_corpus(_docs(), seed=7),
        # r6: repeated n-gram span removal + BPE merge training
        "substring_dedup": lambda: substring.remove_repeated_ngrams(
            _docs().select("doc_id", "text"), n=5
        ),
        "bpe_train": _bpe_train,
        # r7: the DECLARED encode shape — corpus charset + vocab construction
        # is part of the measured wall (with a persisted train_bpe_model
        # artifact that pass disappears; this records the cold path)
        "encode_bpe": lambda: text_queries.q_encode_bpe(spark, sf_dir),
        # r7: fixed-length sequence packing over a session-staged tokenized
        # corpus (staged lazily once, so min-of-2 records the packing pass —
        # encode cost is its own case above)
        "pack_windows": lambda: packing.pack_token_windows(
            _staged_ids(spark, sf_dir), 512
        ),
        # r7: token-budget mixing in the DECLARED shape (one token-total
        # pass + map-only epoch-explode/filter + the checksum aggregation)
        "mix_corpus": lambda: pipeline_queries.q_mix_corpus(spark, sf_dir),
        # r7: DSIR importance weighting in the DECLARED shape (feature pass
        # for the count table + broadcast-join scoring pass)
        "dsir_weights": lambda: pipeline_queries.q_dsir_weights(spark, sf_dir),
        # r7: SemDeDup in the DECLARED deterministic shape (seeded centroids,
        # rounded-cosine assignment, relational within-cluster pairs). K is
        # fixture-pinned like the oracle; the scale table runs the production
        # rung with N-scaled clusters instead.
        "semdedup": lambda: pipeline_queries.q_semdedup(spark, sf_dir),
        # r7: contrastive mining + bloom decontamination (library shapes,
        # scale-table params)
        "hard_negatives": lambda: contrastive.hard_negatives(
            _emb(), k=5, n_clusters=16, n_assign=2
        ),
        "decontaminate_bloom": lambda: bloom.decontaminate_bloom(
            _docs(), _docs().filter(F.col("doc_id") < 20).select("doc_id")
        ),
        # r7b: the declared CCNet perplexity keep (train bigram LM + score +
        # per-lang cutoffs + filter — the full declared shape, cold) and the
        # declared salted per-domain cap
        "ppl_filter": lambda: text_queries.q_ppl_filter(spark, sf_dir),
        "domain_cap": lambda: pipeline_queries.q_domain_cap(spark, sf_dir),
        # r8: the declared boundary-respecting SFT packer (full declared
        # shape: surrogate ids + sharded next-fit + decision aggregate) and
        # image near-dup over FAKEIMG payloads synthesized from the doc
        # texts (map-only Arrow hash pass + pair-band hamming join — the
        # scale-table shape, recorded per-round here)
        "pack_sequences": lambda: pipeline_queries.q_pack_sequences(spark, sf_dir),
        "image_near_dup": lambda: image_dedup.image_near_dup(
            fake_media_docs(spark, sf_dir, "image")
        ),
        # r8: the declared span-level decontamination (broadcast benchmark
        # gram dictionary + map-only hit detection + closed-form fragment
        # complement) and the unigram tokenizer family — train records the
        # one-corpus-job + driver-EM wall on the real word dict; encode is
        # the map-only Viterbi Arrow pass with a session-memoized model (the
        # serving shape, mirroring quality_score)
        "decontaminate_spans": lambda: text_queries.q_decontaminate_spans(
            spark, sf_dir
        ),
        "unigram_train": _unigram_train,
        "encode_unigram": lambda: unigram.encode_unigram(
            _docs().select("doc_id", "text"), *_unigram_model(spark, sf_dir)
        ),
        # r8: the PQ serving path — ADC LUT scoring over session-memoized
        # codes (encode cost is the one-off first run) + exact rerank of the
        # top-50: the IVF-ADC+R shape, map-only into TakeOrderedAndProject
        "pq_topk_rerank": lambda: pq.pq_topk(
            *_pq_coded(spark, sf_dir),
            knn.fetch_query_vector(spark, sf_dir, 0),
            k=5,
            rerank=50,
            embeddings=_emb(),
        ),
        # r7: map-only learned-quality scoring. The model is trained lazily
        # ONCE per session (memoized below); min-of-2 therefore records the
        # warm scoring wall — the serving shape, where the model is a given —
        # while run 1 absorbs the one-off training.
        "quality_score": lambda: quality.score_quality(
            _docs().select("doc_id", "text"), _quality_model(spark, sf_dir)
        ),
        # r9: the CLIP-score alignment gate over FAKEIMG (content, caption)
        # pairs — two per-worker-amortized embed UDFs + the JVM cosine +
        # filter, one map-only pass, zero shuffle
        "align_filter": lambda: alignment.filter_aligned(
            fake_media_docs(spark, sf_dir, "image", with_caption=True),
            embed.stub_embedder(),
            embed.stub_embedder(),
        ),
        # r9: tiered curriculum export — fixed cuts keep the run
        # comparable across rounds; one composite-bucket window shuffle,
        # same machinery as shuffle_corpus
        "curriculum_order": lambda: shuffle.curriculum_order(
            _docs(), "n_chars", cuts=[150.0, 250.0, 400.0]
        ).df,
        # r9: Kneser-Ney perplexity scoring — the CCNet-grade smoothing
        # behind the same scoring contract as the add-k LM; the staged
        # session-memoized model makes this the serving-pass wall (one
        # explode + three broadcastable probes + per-doc agg)
        "kn_score": lambda: kneser_ney.doc_log_perplexity_kn(
            _docs().select("doc_id", "text"), *_kn_model(spark, sf_dir)
        ),
        # r9: prototype-difficulty pruning (keep the hardest half per
        # cluster) — bounded-sample k-means + map-only difficulty + ONE
        # cluster_id exchange for the quota window
        "prune_prototypes": lambda: pruning.prune_prototypes(
            _emb(), keep_frac=0.5, n_clusters=16
        ),
        # r9: batched IVF-PQ serving over a session-staged persisted store —
        # 16 queries share ONE union-pruned codes scan under the per-query
        # probe mask (exact per-query semantics, see ivf_pq_batch_search)
        "ivf_pq_batch_topk": lambda: pq.ivf_pq_batch_search(
            spark,
            _ivfpq_store(spark, sf_dir),
            vector_queries(_emb(), 16, cast=True),
            k=5,
            nprobe=4,
        ),
        # r10: UT1-style URL blocklist gate over the deterministic synthetic
        # URLs (fake_url_docs) — codegen try_parse_url host extraction +
        # one map-only Arrow pass testing label-boundary suffixes against
        # the broadcast blocklist set; zero shuffles
        "url_filter": lambda: domains.filter_urls(
            fake_url_docs(spark, sf_dir), URL_BLOCKLIST
        ),
        # r10: token-budget selection (take the best ~45% of corpus tokens by
        # n_chars) — two map-side-combinable sketch/total passes + ONE
        # boundary-bucket exchange carrying ~N/256 rows; budget scales with
        # the corpus so the crossing stays mid-corpus at 10x
        "budget_select": lambda: selection.budget_select(
            _docs().withColumn("score", F.col("n_chars").cast("double")),
            budget_tokens=120_000 if "sf0.1" in sf_dir else 1_200_000,
            score_col="score",
        ),
        # r10: retrieval eval in the DECLARED shape — leave-one-out label
        # gold, 16 queries, k=10: broadcast crossJoin scoring + per-query
        # window + one results-gold join + per-query agg
        "retrieval_eval": lambda: embed_queries.q_retrieval_eval(spark, sf_dir),
        # r10: PCA whitening — fit (one Arrow moment pass + driver eigh) +
        # map-only apply matmul; the corpus term is two scans
        "pca_whiten": _pca_whiten,
        # r10: SQ8 serving ladder — fit (one Arrow min/max pass) + map-only
        # encode + coarse decode-matmul top-50 + exact broadcast rerank
        "sq8_topk": _sq8_topk,
        # r10: IVF,SQ8 composition — coarse probe prunes to 2/8 clusters,
        # then the map-only decode-matmul top-k over the pruned codes
        "ivf_sq8_topk": _ivf_sq8_topk,
        # r10: robust MAD outlier gate — two grouped percentile sketches +
        # broadcast-back map-only filter
        "mad_outlier_gate": lambda: quality.mad_outlier_gate(
            _docs(), "n_chars", by="lang", k=3.0
        ),
        # r10: WET ingestion — per-file gunzip+parse (one task per file, the
        # gzip-honest plan) through the documents-contract adapter; fixture
        # files staged once per session (untimed), so the case measures the
        # parse+adapt pass
        "wet_ingest": lambda: warc.wet_to_documents(
            warc.read_wet(spark, fake_wet_dir(spark, sf_dir))
        ),
        # r10: Dolma paragraph keep-first dedup over synthesized repeated
        # paragraphs: explode + winner groupBy + join-back + per-doc rebuild
        "dedup_paragraphs": lambda: dedup.dedup_paragraphs(
            _docs().select(
                "doc_id",
                F.concat_ws(
                    "\n",
                    F.when(
                        F.col("doc_id") % 10 == 0,
                        F.lit("A widely reblogged quote."),
                    ),
                    F.col("text"),
                ).alias("text"),
            ),
            min_chars=5,
        ),
        # r11: persisted IVF,SQ8 store — the serving wall over the at-rest,
        # cluster-partitioned codes store (load verifies the build pair, the
        # probe filter prunes Parquet partitions, decode-matmul top-k over
        # 2/8 clusters of 8x-compressed codes); run 1 absorbs the one-off
        # build via the session memo, the _ivfpq_store rule
        "ivf_sq8_store": lambda: sq.ivf_sq8_store_topk(
            spark, _ivf_sq8_store(spark, sf_dir), _query_vec3(), k=5, nprobe=2
        ),
        # r11: BM25 lexical top-k — one stats agg + query-term-filtered
        # explode + per-(doc,term) tf agg + broadcast idf join + TakeOrdered
        "bm25_topk": lambda: bm25.bm25_topk(_docs(), "the quick brown fox", k=10),
        # r11: batched BM25 — 3 queries share one corpus pass (union-term
        # postings staged once, broadcast fan-out join, per-query window)
        "bm25_batch_topk": lambda: bm25.bm25_batch_topk(
            _docs(), query_frame(spark, SERVE_QUERIES[:3]), k=8
        ),
        # r12: ColBERTv2-style compressed MaxSim serving — pooled-cosine
        # prefilter (flat column) then asymmetric decode fused in the
        # scoring kernel over the residual codes; store built once/session
        "colbertv2_search": lambda: token_compression.colbertv2_store_search(
            spark, _cv2_store(spark, sf_dir), "the quick brown fox", k=10,
            prefilter_n=64,
        ),
        # r12: batched compressed serving — 8 queries share ONE codes pass
        # (decode once per Arrow batch, all queries score the same
        # reconstruction); shuffle O(batches·Q·k)
        "colbertv2_batch8": lambda: token_compression.colbertv2_store_batch_search(
            spark, _cv2_store(spark, sf_dir), query_frame(spark, SERVE_QUERIES),
            k=8,
        ),
        # r12: BM25 over the persisted postings store — the serving scan
        # reads ≤ q bucket PARTITIONS of fixed-width postings (directory
        # pruning + term row-group min/max) instead of tokenizing the
        # corpus; store built once per session (the maxsim_store discipline)
        "bm25_store_search": lambda: bm25_store.bm25_store_topk(
            spark, _bm25_store(spark, sf_dir), "the quick brown fox", k=10
        ),
        # r12: batched store serving — 8 queries share ONE pruned postings
        # scan over the union of their terms' buckets
        "bm25_store_batch8": lambda: bm25_store.bm25_store_batch_topk(
            spark, _bm25_store(spark, sf_dir), query_frame(spark, SERVE_QUERIES),
            k=8,
        ),
        # r11: batched IVF,SQ8 serving — 8 queries share ONE union-pruned
        # scan of the persisted cluster-partitioned codes (per-query probe
        # masks in the batch kernel); store built once per session
        "ivf_sq8_batch": lambda: sq.ivf_sq8_batch_topk(
            spark, _ivf_sq8_store(spark, sf_dir), vector_queries(_emb(), 8),
            k=5, nprobe=2,
        ),
        # r11: C4 line-level cleanup — pure scan-stage array expressions
        # (split -> filter lambda -> array_join + 3 codegen gates), ZERO
        # exchanges; measures one pass over multi-line text bytes
        "c4_clean": lambda: quality.c4_clean(
            fake_c4_docs(spark, sf_dir), min_words=5, min_lines=2
        ),
        # r11: RRF hybrid fusion — vector (knn_batch) + lexical (bm25) runs
        # fused rank-side; the cost term is both rankers + the keyed (q,d)
        # agg + the per-query bounded window
        "rrf_fuse": _rrf_fuse,
        # r11: cross-corpus MinHash dedup — even-id docs deduped against the
        # odd-id half as the reference corpus (two-sided band join + exact
        # Jaccard verify; nothing broadcasts, both sides corpus-scale)
        "cross_dedup": lambda: cross_dedup.minhash_dedup_against(
            _docs().select("doc_id", "text").filter(F.col("doc_id") % 2 == 0),
            _docs().select("doc_id", "text").filter(F.col("doc_id") % 2 == 1),
        ),
        # r11: 1-bit serving rung in the DECLARED shape — fit (one Arrow
        # sum/count pass) + map-only sign-pack encode + pure-codegen
        # bit_count(XOR) Hamming into TakeOrderedAndProject (zero exchanges)
        "hamming_topk": lambda: embed_queries.q_hamming_topk(spark, sf_dir),
        # r11: batched Hamming — 64 queries share ONE pass over the
        # session-memoized 64x-compressed codes (XOR + byte-table popcount
        # per Arrow batch, per-query local top-k, one bounded window merge)
        "hamming_batch64": lambda: bq.hamming_batch_topk(
            *_bq_coded(spark, sf_dir), vector_queries(_emb(), 64), k=5
        ),
        # r11: weighted reservoir sample (A-ES over the md5 draw) in the
        # DECLARED shape — map-only key computation + ONE keyed window
        # exchange (per-lang top-5)
        "sample_weighted": lambda: pipeline_queries.q_sample_weighted(
            spark, sf_dir
        ),
        # r11: RM3 pseudo-relevance feedback — the full loop: BM25 feedback
        # top-10, fb-doc term distribution (one explode over 10 docs),
        # mixture, weighted-BM25 rescore. r13: BOTH postings passes now
        # serve from the session-built postings store (pruned term-bucket
        # scans — zero corpus tokenize passes; values identical, pinned in
        # tests); run 1 absorbs the store build, the r11-sanctioned
        # store-serving discipline (_bm25_store). Through r12 this case
        # measured the corpus-pass loop (r12 min 2.144 s driver-recorded).
        "rm3_topk": lambda: bm25_store.rm3_store_topk(
            spark, _bm25_store(spark, sf_dir), _docs(), "the quick brown fox",
            k=10, fb_docs=10, fb_terms=10,
        ),
        # r11: z-order clustered write — one min/max agg + map-only Morton
        # key codegen + ONE range exchange + in-partition sort + parquet
        # write (the data-skipping layout pass, measured end to end)
        "zorder_write": _zorder_write,
        # r11: Misra-Gries heavy hitters over corpus tokens — one map-only
        # summary pass (explode feeds the summarizer in-stage), merge over
        # <= batches*capacity tiny rows, TakeOrdered; the vocabulary never
        # shuffles
        "heavy_hitter_tokens": lambda: heavy_hitters.heavy_hitter_tokens(
            _docs(), k=20, capacity=4096
        ),
        # r11: three-stage cascade serving (1-bit Hamming shortlist ->
        # SQ8 rerank -> exact tail) over session-memoized codes — the
        # at-rest funnel wall; float bytes read = c2 rows
        "cascade_topk": lambda: cascade.cascade_topk(
            *_bq_coded(spark, sf_dir), *_sq8_coded(spark, sf_dir), _emb(),
            _query_vec3(), k=5, c1=200, c2=50,
        ),
        # r11: chunk-embedding mean-pool (label stands in for the chunk
        # group) — ONE keyed shuffle into the vectorized Arrow kernel,
        # one row out per group
        "pool_embeddings": lambda: embeddings.pool_embeddings(_emb(), by="label"),
        # r11: live serving over a base+delta+tombstone IVF,SQ8 store (the
        # incremental-maintenance overlay) — store built + upserted once
        # per session; the case measures the overlay read path
        "ivf_sq8_live_topk": lambda: index_maintenance.live_ivf_sq8_topk(
            spark, _ivf_sq8_live_store(spark, sf_dir), _query_vec3(), k=5,
            nprobe=2,
        ),
        # r11: batched cascade — 16 queries share one pass per
        # representation (Hamming codes -> SQ8 candidates -> exact tail)
        "cascade_batch16": lambda: cascade.cascade_batch_topk(
            *_bq_coded(spark, sf_dir), *_sq8_coded(spark, sf_dir), _emb(),
            vector_queries(_emb(), 16, cast=True), k=5, c1=200, c2=50,
        ),
        # r11: ColBERT MaxSim late-interaction search, two-stage shape
        # (pooled-vector prefilter to 64 candidates, then the per-token
        # codegen fold over bounded token matrices)
        "maxsim_search": lambda: late_interaction.maxsim_search(
            _docs(), "the quick brown fox", k=10, prefilter_n=64
        ),
        # r12: MaxSim served from the PERSISTED token store — load (torn-pair
        # checked) + Arrow pooled-cosine prefilter to 64 candidates + Arrow
        # matmul/segment-max rescoring; the corpus embed pass is build-time
        # (absorbed by the session memo on run 1), so this is the pure
        # serving wall the r11 verdict asked for
        "maxsim_store_search": lambda: late_interaction.maxsim_store_search(
            spark, _maxsim_store(spark, sf_dir), "the quick brown fox", k=10,
            prefilter_n=64,
        ),
        # r12: cross-corpus exact dedup served from the PERSISTED
        # fingerprint store — the snapshot N-1 -> N workflow: the new crawl
        # anti-joins 16-byte fingerprints against the prebuilt table and
        # the reference corpus text is never re-read (build absorbed by the
        # session memo on run 1)
        "cross_dedup_store": lambda: cross_dedup.exact_dedup_against_store(
            _docs().select(
                (F.col("doc_id") + 100000).alias("doc_id"),
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.concat(F.lit(" "), F.upper("text"), F.lit("  ")),
                )
                .otherwise(F.concat(F.col("text"), F.lit(" t-"), F.col("doc_id")))
                .alias("text"),
            ),
            _fingerprint_store(spark, sf_dir),
        ),
        # r12: batched hybrid — 8 text queries share ONE map-side-matmul
        # vector pass + ONE lexical postings pass, RRF-fused per query.
        # r13: the lexical pool now rides the session-built postings store
        # (pruned term-bucket scan, no corpus tokenize; identical rank
        # lists, pinned in tests); run 1 absorbs the store build. Through
        # r12 this case paid the corpus tokenize on the lexical side (r12
        # min 3.751 s driver-recorded).
        "hybrid_batch8": lambda: fusion.hybrid_batch_search(
            _docs(), emb, query_frame(spark, FEEDBACK_QUERIES), k=10, pool=30,
            bm25_store_path=_bm25_store(spark, sf_dir),
        ),
        # r12: batched MaxSim — 8 text queries share ONE pass over the
        # persisted token store (all queries' token matrices stacked into
        # one broadcast matrix; per Arrow batch one BLAS matmul + two
        # reduceat segment reductions + per-batch local top-k per query)
        "maxsim_batch8": lambda: late_interaction.maxsim_batch_topk(
            spark.read.parquet(_maxsim_store(spark, sf_dir)),
            query_frame(spark, FEEDBACK_QUERIES),
            k=10,
        ),
        # r11: Rocchio dense feedback — two TakeOrdered corpus passes
        # (feedback knn + expanded knn), centroid math driver-side
        "rocchio_topk": lambda: knn.rocchio_topk(emb, vec, k=5, fb_k=10),
        # r12: batched RM3 — 8 feedback queries share ONE postings pass per
        # stage (feedback bm25_batch + union-fb-docs relevance models +
        # shared weighted scoring) instead of paying 16 corpus passes.
        # r13: both stages now serve from the session-built postings store
        # (pruned term-bucket scans — zero corpus tokenize passes; values
        # identical, pinned in tests); run 1 absorbs the store build, the
        # r11-sanctioned store-serving discipline (_bm25_store). Through
        # r12 this case measured the corpus-pass loop (r12 min 4.919 s
        # driver-recorded).
        "rm3_batch8": lambda: bm25_store.rm3_store_batch_topk(
            spark, _bm25_store(spark, sf_dir), _docs(),
            query_frame(spark, FEEDBACK_QUERIES), k=10, fb_docs=10, fb_terms=10,
        ),
        # r12: batched Rocchio — 8 dense feedback queries share THREE
        # map-side-matmul passes total (feedback, expanded; negatives off)
        # instead of 16 TakeOrdered corpus passes
        "rocchio_batch8": lambda: knn.rocchio_batch_topk(
            emb, vector_queries(emb, 8), k=5, fb_k=10
        ),
        # r10: leakage-safe split — LSH candidate pairs closed into
        # connected components, md5 split drawn on the group id (map-only
        # assignment; the cost term is the LSH pass + CC closure + the
        # docs-side join, each sub-quadratic by construction)
        "leakage_safe_split": lambda: splits.leakage_safe_split(
            _docs(),
            dedup.minhash_lsh_pairs(_docs(), n=3, tau=0.5).select("doc_a", "doc_b"),
            {"train": 0.8, "val": 0.1, "test": 0.1},
        ),
    }


def _session_memo(build):
    """Memoize a bench fixture per (session, sf_dir), built on first use so
    only the cases that need it pay for it. Run 1 of a case absorbs the
    one-off build; min-of-2 then records the serving shape, where the model
    or store is a given. Keyed by the SESSION too: a memoized DataFrame is
    bound to the SparkSession that built it, and a second run in one
    process (fresh session after spark.stop()) must rebuild, not fail on
    the dead one."""
    memo: dict = {}

    @functools.wraps(build)
    def get(spark, sf_dir: str):
        key = (id(spark), sf_dir)
        if key not in memo:
            memo[key] = build(spark, sf_dir)
        return memo[key]

    return get


@_session_memo
def _kn_model(spark, sf_dir: str):
    """Staged KN LM — kn_score records the warm scoring wall."""
    from photo_vector_search_spark.operators.kneser_ney import train_kn_lm
    from photo_vector_search_spark.sources.tables import load_table

    return train_kn_lm(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


@_session_memo
def _ivfpq_store(spark, sf_dir: str) -> str:
    """Persisted IVF-PQ store — ivf_pq_batch_topk records the serving wall
    over the at-rest codes store, the operator's design point."""
    from photo_vector_search_spark.operators.pq import build_ivfpq_store
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    # session staging scratch: atexit-cleaned, so repeated bench runs
    # don't leak store directories
    path = session_staging_dir("pvs_bench_ivfpq") + "/store"
    build_ivfpq_store(
        load_table(spark, sf_dir, "embeddings"),
        path,
        n_clusters=16,
        m=8,
        k=256,
        sample=4096,
    )
    return path


@_session_memo
def _maxsim_store(spark, sf_dir: str) -> str:
    """Persisted MaxSim token store — maxsim_store_search records the
    serving wall over the prebuilt per-token embeddings (the r12 design
    point: the corpus embed pass is a BUILD cost, not a per-query cost)."""
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
    )
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_bench_maxsim") + "/store"
    build_maxsim_store(load_table(spark, sf_dir, "documents"), path)
    return path


@_session_memo
def _cv2_store(spark, sf_dir: str) -> str:
    """ColBERTv2 residual-compressed token store — colbertv2_search records
    the compressed serving wall (decode fused in the scoring kernel, ~1/7.5
    the raw token-store bytes); the build is embed + quantizer fit +
    encode."""
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.operators.token_compression import (
        build_colbertv2_store,
    )
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_bench_cv2") + "/store"
    build_colbertv2_store(load_table(spark, sf_dir, "documents"), path)
    return path


@_session_memo
def _bm25_store(spark, sf_dir: str) -> str:
    """Persisted BM25 postings store — bm25_store_search records the serving
    wall over prebuilt postings (the corpus tokenize pass is a BUILD cost,
    not a per-query cost)."""
    from photo_vector_search_spark.operators.bm25_store import build_bm25_store
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_bench_bm25") + "/store"
    build_bm25_store(load_table(spark, sf_dir, "documents"), path)
    return path


@_session_memo
def _fingerprint_store(spark, sf_dir: str) -> str:
    """Cross-dedup fingerprint store over the documents table —
    cross_dedup_store records the snapshot-N serving wall."""
    from photo_vector_search_spark.operators.cross_dedup import (
        build_fingerprint_store,
    )
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_bench_fps") + "/store"
    build_fingerprint_store(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), path
    )
    return path


@_session_memo
def _ivf_sq8_store(spark, sf_dir: str) -> str:
    """Persisted IVF,SQ8 store — ivf_sq8_store records the serving wall over
    the at-rest cluster-partitioned codes store, the operator's design
    point."""
    from photo_vector_search_spark.operators.sq import build_ivf_sq8_store
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_bench_ivfsq8") + "/store"
    build_ivf_sq8_store(load_table(spark, sf_dir, "embeddings"), path, n_clusters=8)
    return path


@_session_memo
def _ivf_sq8_live_store(spark, sf_dir: str) -> str:
    """Base+delta+tombstone IVF,SQ8 store (90% of the corpus built as base,
    10% upserted, a few ids tombstoned) — ivf_sq8_live_topk records the
    overlay serving wall."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.index_maintenance import (
        delete_from_ivf_sq8_store,
        upsert_ivf_sq8_store,
    )
    from photo_vector_search_spark.operators.sq import build_ivf_sq8_store
    from photo_vector_search_spark.operators.staging import session_staging_dir
    from photo_vector_search_spark.sources.tables import load_table

    path = session_staging_dir("pvs_bench_ivfsq8_live") + "/store"
    emb = load_table(spark, sf_dir, "embeddings")
    cut = int(emb.count() * 0.9)
    build_ivf_sq8_store(emb.filter(F.col("vec_id") < cut), path, n_clusters=8)
    upsert_ivf_sq8_store(spark, path, emb.filter(F.col("vec_id") >= cut))
    delete_from_ivf_sq8_store(spark, path, [11, 13, 17])
    return path


@_session_memo
def _pq_coded(spark, sf_dir: str):
    """(staged coded frame, codebooks) — pq_topk_rerank records the serving
    wall over at-rest codes, the operator's design point."""
    from photo_vector_search_spark.operators.pq import encode_pq, train_pq
    from photo_vector_search_spark.operators.staging import stage_frame
    from photo_vector_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    books = train_pq(emb, m=8, k=256, sample=4096)
    coded = stage_frame(
        encode_pq(emb, books).select("vec_id", "pq_code"), "pvs_bench_pq"
    )
    return coded, books


@_session_memo
def _bq_coded(spark, sf_dir: str):
    """(staged 1-bit coded frame, BQ model) — hamming_batch64 records the
    serving wall over at-rest codes (the _pq_coded rule)."""
    from photo_vector_search_spark.operators.bq import encode_bq, fit_bq
    from photo_vector_search_spark.operators.staging import stage_frame
    from photo_vector_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_bq(emb)
    coded = stage_frame(
        encode_bq(emb, model).select("vec_id", "label", "bq"), "pvs_bench_bq"
    )
    return coded, model


@_session_memo
def _sq8_coded(spark, sf_dir: str):
    """(staged SQ8 coded frame, model) for the cascade's middle stage (the
    _bq_coded rule)."""
    from photo_vector_search_spark.operators.sq import encode_sq8, fit_sq8
    from photo_vector_search_spark.operators.staging import stage_frame
    from photo_vector_search_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_sq8(emb)
    coded = stage_frame(
        encode_sq8(emb, model).select("vec_id", "label", "sq8"), "pvs_bench_sq8"
    )
    return coded, model


@_session_memo
def _unigram_model(spark, sf_dir: str):
    """Unigram model — encode_unigram records the serving shape."""
    from photo_vector_search_spark.operators.unigram import train_unigram_model
    from photo_vector_search_spark.sources.tables import load_table

    return train_unigram_model(
        load_table(spark, sf_dir, "documents"), vocab_size=2000, min_count=2
    )


@_session_memo
def _bpe_model(spark, sf_dir: str):
    """(merges, vocab) BPE artifact behind the staged tokenized corpus."""
    from photo_vector_search_spark.operators.bpe import train_bpe_model
    from photo_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return train_bpe_model(docs, n_merges=200, min_count=2)


@_session_memo
def _staged_ids(spark, sf_dir: str):
    """Staged tokenized corpus (pos, input_ids) for the packing cases."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.bpe import encode_bpe
    from photo_vector_search_spark.operators.staging import stage_frame
    from photo_vector_search_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return stage_frame(
        encode_bpe(docs, *_bpe_model(spark, sf_dir)).select(
            F.col("doc_id").alias("pos"), "input_ids"
        ),
        "pvs_bench_ids",
    )


@_session_memo
def _quality_model(spark, sf_dir: str):
    """Quality classifier (even ids as positives, odd as negatives — a
    label assignment, not a claim about quality)."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.pipelines.quality import (
        train_quality_classifier,
    )
    from photo_vector_search_spark.sources.tables import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return train_quality_classifier(
        d.filter(F.col("doc_id") % 2 == 0),
        d.filter(F.col("doc_id") % 2 == 1),
        max_iter=20,
    )


def time_case(build) -> float:
    """Min-of-RUNS_PER_QUERY wall of one registry case. Each run builds the
    case and forces the frame it returns through the noop sink (a fit/write
    case returns None and has done its work) inside one timed region.
    min-of-2: the host is a shared VM whose effective speed swings ~1.7x
    between runs of byte-identical code (r01→r03 drift, SCALE_BENCH.md);
    the min of two back-to-back runs discards the noise spike and measures
    the code."""
    best = None
    for _ in range(RUNS_PER_QUERY):
        t0 = time.perf_counter()
        df = build()
        if df is not None:
            _force(df)
        dt = time.perf_counter() - t0
        best = dt if best is None else min(best, dt)
    return round(best, 3)


def run_cases(case_names: list[str], sf_dir: str) -> dict[str, float]:
    """Run the named cases in ONE fresh session and return {name: sec}."""
    from photo_vector_search_spark.session import get_spark
    from photo_vector_search_spark.sources.tables import load_table

    spark = get_spark("pvs-spark-bench")
    try:
        # warmup: scan + tiny shuffle through codegen + noop sink, so the first
        # measured query isn't paying JIT/codegen compilation. The second block
        # primes the paths the JVM-only warmup missed — Python worker spawn +
        # Arrow (de)serialization for mapInPandas kernels, a self-join, and the
        # levenshtein codegen — which the r4 artifact showed cost the
        # heavyweight group's first query ~2x its warm wall (recorded 6.4-9.5 s
        # vs 3-4.8 s warm in SCALE_BENCH.md). min-of-2 can't amortize a cost
        # paid identically in both runs; an untimed warmup can.
        warm = load_table(spark, sf_dir, "region")
        _force(warm)
        _force(warm.groupBy("r_regionkey").count())

        def _ident(batches):
            for pdf in batches:
                yield pdf

        arrow_warm = warm.select("r_regionkey", "r_name").mapInPandas(
            _ident, schema="r_regionkey long, r_name string"
        )
        from pyspark.sql import functions as _F

        _force(
            arrow_warm.alias("a")
            .join(arrow_warm.alias("b"), "r_regionkey")
            .select(
                _F.levenshtein(_F.col("a.r_name"), _F.col("b.r_name")).alias("d")
            )
        )
        cases = _build_cases(spark, sf_dir)
        unknown = [c for c in case_names if c not in cases]
        if unknown:
            raise KeyError(f"unknown bench cases: {unknown}")
        return {name: time_case(cases[name]) for name in case_names}
    finally:
        spark.stop()


def _run_group_subprocess(group: str) -> dict[str, float]:
    """Spawn a fresh interpreter (hence fresh JVM) for one group."""
    env = dict(os.environ)
    env["SPARK_GRAFT_BENCH_GROUP"] = group
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__)],
        env=env,
        capture_output=True,
        text=True,
        check=False,
    )
    # child prints exactly one JSON line on its last stdout line
    lines = [ln for ln in proc.stdout.strip().splitlines() if ln.strip()]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"bench group {group!r} failed rc={proc.returncode}\n"
            f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])["queries"]


def _sf_value(sf_dir: str) -> float | str:
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(sf)
    except ValueError:
        return sf


def main() -> None:
    group = os.environ.get("SPARK_GRAFT_BENCH_GROUP")
    only = os.environ.get("SPARK_GRAFT_BENCH_CASES")

    if group:
        # child mode: one group, one fresh session
        timings = run_cases(GROUPS[group], SF_DIR)
        print(json.dumps({"group": group, "queries": timings}))
        return

    if only:
        # isolation-experiment mode (SCALE_BENCH.md): explicit cases, in-process
        keep = [c.strip() for c in only.split(",") if c.strip()]
        timings = run_cases(keep, SF_DIR)
        print(
            json.dumps(
                {
                    "metric": "headline_queries_total_wall",
                    "value": round(sum(timings.values()), 3),
                    "unit": "sec",
                    "queries": timings,
                    "isolation": "single-session-subset",
                    "sf": _sf_value(SF_DIR),
                }
            )
        )
        return

    # parent mode: one subprocess per group, merge, one JSON line
    timings = {}
    for g in GROUPS:
        timings.update(_run_group_subprocess(g))
    common16 = round(sum(timings[q] for q in COMMON16 if q in timings), 3)
    line = json.dumps(
        {
            "metric": "headline_queries_total_wall",
            "value": round(sum(timings.values()), 3),
            "unit": "sec",
            "queries": timings,
            "common16_total": common16,
            "isolation": "process-per-group",
            "runs_per_query": RUNS_PER_QUERY,
            "stat": "min" if RUNS_PER_QUERY > 1 else "single",
            "sf": _sf_value(SF_DIR),
        }
    )
    print(line)
    # r13: ALSO write the record to a sidecar file — at 86+ queries the
    # one-line JSON outgrew the driver's tail capture once (BENCH_r11's
    # record was truncated and PERF lost the r11→r12 auto-comparison); the
    # printed line stays the contract, the sidecar makes the canonical
    # record independent of tail length.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_last.json"),
            "w",
        ) as f:
            f.write(line + "\n")
    except OSError:
        pass  # a read-only checkout must not fail the bench


if __name__ == "__main__":
    main()
