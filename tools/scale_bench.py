"""Scale-up bench (VERDICT r1 item 3): measures how the headline queries scale
from sf0.1 to a synthesized sf1.0-equivalent, since sf0.1 is the largest driver
fixture. Usage:

    python tools/scale_bench.py [--copies 10] [--out SCALE_BENCH.md]

Synthesis = union of K key-shifted copies of the sf0.1 fixtures (written once to
/tmp/pvs_scaled/sf1.0):
- facts scale K×: lineitem/orders (orderkey shifted consistently so joins hold,
  o_custkey kept so each customer gains K× orders — a realistic densification),
  events (event_id shifted; user_id/ts kept, so per-user windows get K× longer),
  documents (doc_id shifted; text letter-rotated per copy so cross-copy shingle
  similarity is ZERO — corpus grows K× without quadratically coupling the
  near-dup structure, which itself scales K×), embeddings (vec_id shifted).
- dims (region/nation/customer/supplier/part) stay fixed, like TPC-H's nation.

Per-query ratios vs the ideal: linear ops should show time ≈ K × t_small (less,
when fixed overheads dominate); anything clearly super-linear is flagged.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import (
    FEEDBACK_QUERIES,
    _bpe_model,
    _build_cases,
    _force,
    _kn_model,
    _pq_coded,
    _session_memo,
    _staged_ids,
    _unigram_model,
    fake_media_docs,
    query_frame,
    time_case,
    vector_queries,
)
from photo_vector_search_spark.sources.tables import load_table

SRC = "/root/testdata/sf0.1"
DST = "/tmp/pvs_scaled/sf1.0"

ALPHA = "abcdefghijklmnopqrstuvwxyz"
DIGITS = "0123456789"


def _rot(s: str, k: int) -> str:
    return s[k % len(s) :] + s[: k % len(s)]


def synthesize(spark, copies: int, src: str = SRC, dst: str = DST) -> None:
    if os.path.exists(f"{dst}/_DONE_{copies}"):
        return
    # a stale marker from a run with a DIFFERENT --copies must not survive this
    # synthesis, or a later run at that scale would silently reuse wrong data
    import shutil

    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst, exist_ok=True)
    copies_df = spark.range(copies).select(F.col("id").cast("long").alias("_copy"))

    for t in ("region", "nation", "customer", "supplier", "part"):
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{t}.parquet"
        )

    orders = spark.read.parquet(f"{src}/orders.parquet")
    ord_off = orders.agg(F.max("o_orderkey")).first()[0] + 1
    orders.crossJoin(copies_df).select(
        (F.col("o_orderkey") + F.col("_copy") * ord_off).alias("o_orderkey"),
        "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority",
    ).repartition(32).write.mode("overwrite").parquet(f"{dst}/orders.parquet")

    li = spark.read.parquet(f"{src}/lineitem.parquet")
    li.crossJoin(copies_df).select(
        (F.col("l_orderkey") + F.col("_copy") * ord_off).alias("l_orderkey"),
        *[c for c in li.columns if c != "l_orderkey"],
    ).repartition(64).write.mode("overwrite").parquet(f"{dst}/lineitem.parquet")

    # ts has shipped as either TIMESTAMP(NANOS) (read as long via the legacy
    # conf) or TIMESTAMP(MICROS); either passes through this copy untouched —
    # load_table's adaptive loader normalizes at read time.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    ev = spark.read.parquet(f"{src}/events.parquet")
    ev_off = ev.agg(F.max("event_id")).first()[0] + 1
    ev.crossJoin(copies_df).select(
        (F.col("event_id") + F.col("_copy") * ev_off).alias("event_id"),
        *[c for c in ev.columns if c != "event_id"],
    ).repartition(32).write.mode("overwrite").parquet(f"{dst}/events.parquet")

    docs = spark.read.parquet(f"{src}/documents.parquet")
    doc_off = docs.agg(F.max("doc_id")).first()[0] + 1
    chars = ALPHA + DIGITS
    rotated = F.col("text")
    for k in range(1, copies):  # copy 0 keeps the original text
        rotated = F.when(
            F.col("_copy") == k,
            F.translate(F.col("text"), chars, _rot(ALPHA, k) + _rot(DIGITS, k)),
        ).otherwise(rotated)
    docs.crossJoin(copies_df).select(
        (F.col("doc_id") + F.col("_copy") * doc_off).alias("doc_id"),
        rotated.alias("text"),
        "lang", "source", "n_chars",
    ).repartition(32).write.mode("overwrite").parquet(f"{dst}/documents.parquet")

    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    vec_off = emb.agg(F.max("vec_id")).first()[0] + 1
    # Circularly shift each copy's embedding by `_copy` positions: an orthogonal
    # transform, so WITHIN-copy cosine structure (and thus the near-dup pair set)
    # is preserved exactly, while CROSS-copy cosine is the autocorrelation of
    # near-random vectors at lag k ≈ 0 — far below any dedup tau. Without this,
    # every vector gains K exact clones and the TRUE near-dup pair count grows
    # K², so the near-dup queries' K²-looking walls would be the data's fault,
    # not the plan's (the round-4 srp_lsh 33.7x "SUPER-LINEAR" false alarm).
    dim = len(emb.select("embedding").first()[0])
    shifted = F.expr(
        f"concat(slice(embedding, cast(_copy % {dim} as int) + 1,"
        f" {dim} - cast(_copy % {dim} as int)),"
        f" slice(embedding, 1, cast(_copy % {dim} as int)))"
    )
    emb.crossJoin(copies_df).select(
        (F.col("vec_id") + F.col("_copy") * vec_off).alias("vec_id"),
        shifted.alias("embedding"),
        "label",
    ).repartition(16).write.mode("overwrite").parquet(f"{dst}/embeddings.parquet")

    open(f"{dst}/_DONE_{copies}", "w").close()


# Bench cases the scale table re-defines under the same name: the bench form
# pins fixture-scale parameters or the declared cold shape, the scale form
# runs the library's scale path (size-derived params, N-scaled clusters,
# corpus-scaled budgets, a trained artifact as a given). Every other scale
# case has a name the bench registry does not build.
OVERRIDES = frozenset(
    {
        "srp_lsh_near_dup_sql",
        "ivf_near_dup_pairs",
        "mix_corpus",
        "semdedup",
        "hard_negatives",
        "ppl_filter",
        "domain_cap",
        "encode_bpe",
        "pack_sequences",
    }
)


# Scale-only fixtures, session-memoized like bench's: built outside the timed
# region on first use, so a filtered --cases run pays only for what it runs
# and the warmup and sf0.1 passes share one build.
@_session_memo
def _ppl_lm(spark, sf_dir: str):
    from photo_vector_search_spark.plans.text_queries import train_bigram_lm

    return train_bigram_lm(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )


@_session_memo
def _langid_model(spark, sf_dir: str):
    from photo_vector_search_spark.pipelines.langid import train_langid

    return train_langid(
        load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang"),
        max_iter=20,
    )


@_session_memo
def _windows(spark, sf_dir: str):
    """Packed windows staged once so corrupt_spans times the corruption
    pass, not the packing (pack scaling is pack_windows' own row)."""
    from photo_vector_search_spark.operators.packing import pack_token_windows
    from photo_vector_search_spark.operators.staging import stage_frame

    return stage_frame(
        pack_token_windows(_staged_ids(spark, sf_dir), 512), "pvs_scale_windows"
    )


@_session_memo
def _ivf_master(spark, sf_dir: str):
    """(root, path) of a master IVF store; each timed prune run works on a
    fresh OS-level copy so every run prunes the SAME (unpruned) store —
    rewriting in place would halve the input on every repetition and
    min-of-N would record the smallest run."""
    from photo_vector_search_spark.operators.ann import build_ivf_store
    from photo_vector_search_spark.operators.staging import session_staging_dir

    emb = load_table(spark, sf_dir, "embeddings")
    root = session_staging_dir("pvs_scale_pruneivf")
    path = root + "/master"
    build_ivf_store(emb, path, n_clusters=max(8, emb.count() // 125), n_assign=2)
    return root, path


@_session_memo
def _clustered_maxsim_store(spark, sf_dir: str) -> str:
    """Clustered MaxSim store — the maxsim cases measure the nprobe-pruned
    SERVING wall over the at-rest clustered layout, the store's design
    point."""
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
    )
    from photo_vector_search_spark.operators.staging import session_staging_dir

    path = session_staging_dir("pvs_scale_maxsim_c") + "/store"
    build_maxsim_store(load_table(spark, sf_dir, "documents"), path, n_clusters=8)
    return path


def extra_cases(spark, sf_dir: str) -> dict:
    """Scale-only cases plus the OVERRIDES, under the bench registry
    contract: name -> builder returning the frame the case times, or None
    for a fit/write case that does its work when called."""
    from photo_vector_search_spark.operators import (
        ann,
        audio_dedup,
        contrastive,
        corruption,
        dedup,
        domains,
        fim,
        late_interaction,
        mixing,
        packing,
        pq,
        pruning,
        semdedup,
        unigram,
    )
    from photo_vector_search_spark.operators.bpe import encode_bpe
    from photo_vector_search_spark.pipelines import langid
    from photo_vector_search_spark.pipelines.curation import curate_corpus
    from photo_vector_search_spark.pipelines.quality import (
        train_quality_classifier,
    )
    from photo_vector_search_spark.plans import relational, text_queries

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")

    def _prune_ivf_run():
        # timed unit = OS copy (linear fixture prep, counted on BOTH sides
        # of the ratio) + the full rewrite path: difficulty pass, primary
        # reduction, quota window, survivor staging, pre-swap cluster_stats
        # scan, partitioned snapshot write, sidecar swap
        import shutil
        import uuid

        root, master = _ivf_master(spark, sf_dir)
        work = f"{root}/run_{uuid.uuid4().hex}"
        shutil.copytree(master, work)
        shutil.copytree(master + ".centroids", work + ".centroids")
        try:
            _force(pruning.prune_ivf_store(spark, work, keep_frac=0.5))
        finally:
            shutil.rmtree(work, ignore_errors=True)
            shutil.rmtree(work + ".centroids", ignore_errors=True)

    def _quality_train():
        # training is one distributed hashing pass + L-BFGS treeAggregate
        # rounds (iteration count fixed at 20 across scales, so the ratio
        # isolates the per-iteration corpus term)
        train_quality_classifier(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            max_iter=20,
        )

    def _langid_train():
        langid.train_langid(
            load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang"),
            max_iter=20,
        )

    return {
        # r12 batched PLAID pipeline: 8 queries share one pooled pass with
        # per-query probe masks + one bounded candidate rescore join
        "maxsim_store_batch8": lambda: late_interaction.maxsim_store_batch_search(
            spark,
            _clustered_maxsim_store(spark, sf_dir),
            query_frame(spark, FEEDBACK_QUERIES),
            k=10,
            prefilter_n=64,
            nprobe=2,
        ),
        # r12 PLAID-shape serving: pooled-centroid probe prunes 6/8 cluster
        # directories at file-listing time, then the pooled-column prefilter
        # + row-group-pruned rescore run inside the probed clusters only
        "maxsim_probe2": lambda: late_interaction.maxsim_store_search(
            spark,
            _clustered_maxsim_store(spark, sf_dir),
            "the quick brown fox",
            k=10,
            prefilter_n=64,
            nprobe=2,
        ),
        "events_resample": lambda: relational.q_events_resample(spark, sf_dir),
        "events_asof": lambda: relational.q_events_asof(spark, sf_dir),
        # end-to-end curation (redact -> gates -> exact dedup -> boilerplate
        # -> near-dup prune -> deterministic shuffle), stats off so the bench
        # measures ONE pipeline execution, the 100 TB calling convention
        "curate_corpus": lambda: curate_corpus(docs, compute_stats=False)[0],
        # the synthesized copies are substitution-ciphered, so the English-
        # statistics gate (correctly) rejects them and downstream stages see
        # sf0.1 volume; the no-gate variant pushes the FULL synthetic corpus
        # through dedup/boilerplate/near-dup/shuffle — the ratio that actually
        # tests downstream scaling
        "curate_corpus_nogate": lambda: curate_corpus(
            docs, compute_stats=False, quality_gate=False
        )[0],
        # OVERRIDE bench.py's pinned (6,16) case: the pin exists for DECLARED-
        # query oracle parity at fixture scale; at 10x rows fixed planes make
        # bucket occupancy (hence the candidate join) quadratic — the exact
        # failure srp_auto_params exists to prevent. The scale table must
        # measure the library's scale path: size-derived params (one count()).
        "srp_lsh_near_dup_sql": lambda: dedup.srp_lsh_near_dup_sql(emb, tau=0.45),
        # The scale-correct build sizes n_clusters with N (target ~125 rows per
        # cluster), so per-cluster all-pairs work stays ~N·target instead of
        # N²/C — the knob the operator's docstring prescribes for 100 TB.
        "ivf_near_dup_pairs": lambda: ann.ivf_near_dup_pairs(
            emb, tau=0.45, n_clusters=max(8, emb.count() // 125), n_assign=2
        ),
        # r7: learned quality tier — scoring (bench's quality_score case) must
        # stay a map-only transform that pipelines into the scan
        "quality_train": _quality_train,
        # r7: the tokenized-shards pipeline product — curation (gate off, the
        # downstream-scaling variant) with the BPE terminal stage applied to
        # the shuffled survivors; delta vs curate_corpus_nogate is the
        # Arrow-batched encode cost
        "curate_corpus_bpe": lambda: curate_corpus(
            docs,
            compute_stats=False,
            quality_gate=False,
            bpe_model=_bpe_model(spark, sf_dir),
        )[0],
        # r7: token-budget mixing — one per-source token agg + map-only
        # epoch-explode/filter; budget scales with the corpus so rates (and
        # the emitted fraction) stay comparable across scales
        "mix_corpus": lambda: mixing.mix_corpus(
            load_table(spark, sf_dir, "documents"),
            {"src0": 0.6, "src1": 0.3, "src2": 0.1},
            budget_tokens=300_000 if "sf0.1" in sf_dir else 3_000_000,
        ),
        # r7: SemDeDup production rung with N-scaled clusters (same ~125-row
        # target as ivf_near_dup_pairs — fixed K would make per-cluster
        # all-pairs quadratic, the exact knob the docstring prescribes)
        "semdedup": lambda: semdedup.semdedup(
            emb, tau=0.45, n_clusters=max(8, emb.count() // 125), n_assign=2
        ),
        # r7: hard-negative mining, N-scaled clusters — candidate merge is
        # O(N·k·n_assign); per-cluster matmul bounded by the ~125-row target
        "hard_negatives": lambda: contrastive.hard_negatives(
            load_table(spark, sf_dir, "embeddings"),
            k=5,
            n_clusters=max(8, emb.count() // 125),
            n_assign=2,
        ),
        # r7b: CCNet perplexity tier — the LM is a given at serving time
        # (lazy fixture, vocab-bounded broadcast table); the timed pass is
        # score (explode + broadcast lookup + per-doc agg) + the |langs|-row
        # cutoff agg + map-only labeling. Corpus-linear by construction.
        "ppl_filter": lambda: text_queries.ccnet_keep(
            text_queries.perplexity_buckets(
                load_table(spark, sf_dir, "documents"),
                *_ppl_lm(spark, sf_dir),
                by="lang",
            )
        ),
        # r7b: per-domain cap, salted two-phase — documents has a handful of
        # sources so each domain holds N/|sources| rows: exactly the skew
        # shape the salt spreads. Cap fixed across scales (output bounded);
        # the corpus term is the two row_number passes.
        "domain_cap": lambda: domains.cap_per_domain(
            load_table(spark, sf_dir, "documents"), 50
        ),
        # r7b: learned lang-ID — training is the quality-classifier shape
        # (one hashing pass + fixed-iteration L-BFGS, so the ratio isolates
        # the per-iteration corpus term, here over multinomial K=5 classes);
        # scoring must stay a map-only transform. The ciphered copies keep
        # their lang labels, so the label set is scale-invariant.
        "langid_train": _langid_train,
        "langid_score": lambda: langid.predict_lang(
            load_table(spark, sf_dir, "documents").select("doc_id", "text", "lang"),
            _langid_model(spark, sf_dir),
        ),
        # r8: the tokenizer's Arrow encode pass alone (curate_corpus_bpe's
        # delta bundles it with the pipeline) — map-only, broadcast ranks,
        # per-task trie cache; ratio should track total tokens
        "encode_bpe": lambda: encode_bpe(docs, *_bpe_model(spark, sf_dir)),
        # r8: boundary-respecting SFT packing over the staged tokenized
        # corpus — deterministic hash shards, per-shard sequential next-fit
        # Arrow kernel; corpus-linear with shard-bounded parallelism
        "pack_sequences": lambda: packing.pack_sequences(
            _staged_ids(spark, sf_dir), 512, order_col="pos", eos_id=0, pad_id=0
        ),
        # r9: the FFD packing rung over the same staged corpus — sorted
        # next-fit-decreasing with the open-bin cap; same ONE exchange on
        # the shard key, kernel cost bounded by max_open_bins per batch
        "pack_sequences_ffd": lambda: packing.pack_sequences(
            _staged_ids(spark, sf_dir), 512, order_col="pos", eos_id=0, pad_id=0,
            algorithm="ffd",
        ),
        # r9: sampled unigram encode (subword regularization) — the same
        # map-only Arrow shape as encode_unigram plus the per-word FFBS
        # draw; model is a session-staged given (the serving shape). The
        # explicit repartition makes the ratio measure the KERNEL: the
        # sf0.1 table is one parquet file, so without it the small pass
        # serializes this Python-heavy kernel on one core while the
        # synthesized big input fans out — inverting the ratio (0.16x
        # observed). Output is partitioning-invariant (per-row md5 PRNG).
        "encode_unigram_sampled": lambda: unigram.encode_unigram_sampled(
            docs.repartition(64), *_unigram_model(spark, sf_dir)
        ),
        # r8: T5 span corruption over staged packed windows — one map-only
        # Arrow pass, per-row md5-seeded PRNG, no shuffle; the staged input
        # isolates the corruption cost from the packing cost
        "corrupt_spans": lambda: corruption.corrupt_spans(_windows(spark, sf_dir)),
        # r8: curation with the denoising terminal stage — delta vs
        # curate_corpus_bpe is the pack + corrupt tail
        "curate_corpus_denoise": lambda: curate_corpus(
            docs,
            compute_stats=False,
            quality_gate=False,
            bpe_model=_bpe_model(spark, sf_dir),
            pack_context_len=512,
            pack_eos_id=0,
            corrupt_rate=0.15,
        )[0],
        # r8b: fill-in-the-middle over the staged tokenized corpus — one
        # map-only Arrow pass, per-row seeded PRNG; ratio tracks total tokens
        "fim_transform": lambda: fim.fim_transform(
            _staged_ids(spark, sf_dir).withColumnRenamed("pos", "seq_id"), rate=0.5
        ),
        # r8b: batched ADC over session-staged codes (codebooks + coded
        # frame built lazily ONCE — the serving shape, where the index is a
        # given); 16 query LUTs ride one broadcast and the only exchange
        # carries per-batch per-query top-k
        "pq_batch_topk": lambda: pq.pq_batch_topk(
            *_pq_coded(spark, sf_dir), vector_queries(emb, 16, cast=True), k=5
        ),
        # r7b: audio near-dup over FAKEAUDIO tracks synthesized from the doc
        # texts (deterministic; ciphered sf1 copies give unrelated spectra, so
        # the pair structure stays corpus-proportional) — map-only vectorized
        # fingerprint pass + one linear band shuffle + output-sized rollup
        "audio_near_dup": lambda: audio_dedup.audio_near_dup(
            fake_media_docs(spark, sf_dir, "audio")
        ),
        # r10: in-place IVF-store pruning, REWRITE path (the r9 tail commit
        # shipped without a scale row — VERDICT finding): snapshot write +
        # the fused pre-swap stats scan, over a per-run fresh copy of a
        # once-built master store
        "prune_ivf_store": _prune_ivf_run,
        # r10: the curation ladder with ALL r9 stages on at once
        # (compression gate + Kneser-Ney perplexity tier + prototype
        # pruning over the quality-gateless base) — the per-stage rows
        # exist separately; this measures their composition against the
        # curate_corpus_nogate sibling
        "curate_corpus_r9": lambda: curate_corpus(
            docs,
            compute_stats=False,
            quality_gate=False,
            compression_bounds=(0.05, 0.95),
            kn_lm=_kn_model(spark, sf_dir),
            prototype_keep_frac=0.5,
            prototype_clusters=max(8, docs.count() // 125),
        )[0],
        # r10b: the r9 composition plus the terminal token-budget cut
        # (budget scales with the corpus so the crossing stays mid-survivor
        # set at 10x; the added term is one KN scoring pass + the two
        # budget sketch aggs + the boundary window)
        "curate_corpus_r10": lambda: curate_corpus(
            docs,
            compute_stats=False,
            quality_gate=False,
            compression_bounds=(0.05, 0.95),
            kn_lm=_kn_model(spark, sf_dir),
            prototype_keep_frac=0.5,
            prototype_clusters=max(8, docs.count() // 125),
            budget_tokens=60_000 if "sf0.1" in sf_dir else 600_000,
        )[0],
    }


def run(spark, sf_dir: str, only: set[str] | None = None) -> dict[str, float]:
    # bench.py's process-per-group isolation is for the RECORDED artifact; here
    # both scales run in one session on purpose so the sf1/sf0.1 ratio divides
    # out any session/host factor. Includes the round-3 staged-LSH heavyweights
    # (fuzzy_levenshtein_blocked, srp_lsh_near_dup_sql — VERDICT r3 item 6).
    # Timing is bench's min-of-N time_case: a single spiked wall on the
    # shared-VM host would flag a healthy plan SUPER-LINEAR.
    cases = _build_cases(spark, sf_dir) | extra_cases(spark, sf_dir)
    if only is not None:
        unknown = only - cases.keys()
        if unknown:
            raise SystemExit(f"unknown --cases: {sorted(unknown)}")
        cases = {k: v for k, v in cases.items() if k in only}
    return {name: time_case(build) for name, build in cases.items()}


def _preserved_tail(path: str) -> str:
    """Everything from the SECOND section header on — evidence sections other
    tools/rounds appended after the scale table (IVF recall, stream-cost
    notes, ...). The rewrite must carry them verbatim: a --cases refresh once
    silently discarded 300+ lines of recorded evidence."""
    lines = open(path).read().splitlines(keepends=True)
    for i, line in enumerate(lines[1:], start=1):
        if line.startswith("# "):
            return "".join(lines[i:])
    return ""


def _parse_table_rows(path: str) -> list[tuple[str, float | None, float]]:
    """(name, small_s, big_s) for each data row of the FIRST table of an
    existing output file — the carry-over source for filtered --cases runs.
    Parsing stops at the next section header: later tables (IVF recall etc.)
    have numeric first columns that would otherwise pollute the carry-over.
    Header/separator rows and anything non-numeric are skipped; 'None' small
    timings parse to None."""
    out = []
    with open(path) as f:
        first_line = True
        for line in f:
            if line.startswith("# ") and not first_line:
                break
            first_line = False
            parts = [p.strip() for p in line.strip().strip("|").split("|")]
            if len(parts) < 4 or parts[0] in ("query", "---"):
                continue
            try:
                ts = None if parts[1] == "None" else float(parts[1])
                tb = float(parts[2])
            except ValueError:
                continue
            out.append((parts[0], ts, tb))
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--copies", type=int, default=10)
    ap.add_argument("--out", default="SCALE_BENCH.md")
    ap.add_argument(
        "--cases",
        default=None,
        help="comma-separated case names: measure only these; rows for cases "
        "NOT re-measured are carried over from an existing --out table "
        "(parsed and merged) instead of being discarded",
    )
    ap.add_argument(
        "--allow-drop",
        action="store_true",
        help="permit the output to lose cases recorded in the previous "
        "round's table (deliberate retirement); without it the run fails "
        "loudly when rows would vanish",
    )
    args = ap.parse_args()

    from photo_vector_search_spark.session import get_spark

    spark = get_spark("pvs-scale-bench")
    try:
        t0 = time.perf_counter()
        synthesize(spark, args.copies)
        synth_sec = round(time.perf_counter() - t0, 1)
        only = set(args.cases.split(",")) if args.cases else None
        # loses-cases-loudly guard (r8, the no-silent-caps rule), checked
        # BEFORE measuring: the r7b regeneration ran a narrower case list
        # over a fresh --out and silently dropped four recorded rows into
        # git history. A regeneration whose output would lose a case
        # recorded in the previous round's table (or in the --out file it
        # rewrites) must fail unless --allow-drop names it a retirement.
        all_names = set(_build_cases(spark, SRC)) | set(extra_cases(spark, SRC))
        planned = set(only) if only is not None else set(all_names)
        if only is not None and os.path.exists(args.out):
            planned |= {n for n, _, _ in _parse_table_rows(args.out)}
        # NUMERIC round sort: lexicographic ordering puts r10 before r9
        # and would silently compare against a stale table (review finding)
        prev_tables = sorted(
            (
                f for f in os.listdir(".")
                if f.startswith("SCALE_TABLE_r") and f.endswith(".md")
            ),
            key=lambda f: int("".join(c for c in f if c.isdigit()) or 0),
        )
        refs = [args.out] if os.path.exists(args.out) else prev_tables[-1:]
        for ref in refs:
            lost = {n for n, _, _ in _parse_table_rows(ref)} - planned
            if lost and not args.allow_drop:
                raise SystemExit(
                    f"scale_bench: regeneration would DROP rows recorded in "
                    f"{ref}: {sorted(lost)} — extend the case list (or point "
                    "--out at the file whose rows carry over), or pass "
                    "--allow-drop to retire them explicitly"
                )
        run(spark, SRC, only)  # untimed warmup: JIT/codegen costs otherwise land
        small = run(spark, SRC, only)  # entirely on the first (small) pass and
        big = run(spark, DST, only)  # deflate every ratio — the classic misattribution
        # a filtered (--cases) run must not clobber previously recorded rows:
        # carry over every case in the existing table that was not re-measured
        # (ADVICE r5 — mode 'w' used to discard them silently)
        if only is not None and os.path.exists(args.out):
            for name, ts, tb in _parse_table_rows(args.out):
                if name not in big:
                    small[name], big[name] = ts, tb
        rows = []
        for name in big:
            ts, tb = small.get(name), big[name]
            # floor sub-ms small timings instead of skipping them: a query that
            # is merely fast at small scale must still get a ratio and a flag
            ratio = round(tb / max(ts, 0.001), 2) if ts is not None else None
            # super-linear = worse than K× with a grace factor for noise; fixed
            # overhead makes most ratios land far BELOW K
            flag = "SUPER-LINEAR" if ratio and ratio > args.copies * 1.3 else ""
            rows.append((name, ts, tb, ratio, flag))
        rows.sort(key=lambda r: -(r[3] or 0))
        tail = _preserved_tail(args.out) if os.path.exists(args.out) else ""
        with open(args.out, "w") as f:
            f.write(
                f"# Scale-up bench: sf0.1 -> synthesized sf{0.1 * args.copies:g} "
                f"({args.copies}x key-shifted copies)\n\n"
                f"Synthesis wall: {synth_sec}s. Facts scale {args.copies}x "
                f"(lineitem {600_000 * args.copies:,} rows), dims fixed. "
                f"local[32]; per-query noop-forced wall seconds.\n\n"
                f"| query | sf0.1 s | sf1.0 s | ratio (ideal <= {args.copies}) | flag |\n"
                f"|---|---|---|---|---|\n"
            )
            for name, ts, tb, ratio, flag in rows:
                f.write(f"| {name} | {ts} | {tb} | {ratio} | {flag} |\n")
            f.write(
                f"\nTotals: sf0.1 {round(sum(small.values()), 1)}s -> "
                f"sf1.0 {round(sum(big.values()), 1)}s.\n\n"
                "Notes: both passes run after an untimed warmup pass so JIT/"
                "codegen costs don't deflate the ratios. `embedding_near_dup` "
                "is the broadcast-matmul rung of the near-dup ladder — "
                "inherently quadratic (10x rows = 100x FLOPs; BLAS absorbs "
                "most of it). It is size-guarded (max_broadcast_bytes) and the "
                "linear-shuffle path at this scale is `srp_lsh_near_dup_pairs` "
                "(see SCALE.md, embedding near-dup ladder). Sub-1.0 ratios = "
                "fixed overheads (driver top-k merge, plan time) dominating "
                "small-scale wall time.\n"
            )
            if tail:
                f.write("\n" + tail)
        print(json.dumps({"small": small, "big": big, "synth_sec": synth_sec}))
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
