"""BM25 lexical retrieval — the keyword half of the similarity-search
family (Robertson & Zaragoza 2009, "The Probabilistic Relevance Framework:
BM25 and Beyond"; the Lucene/Elasticsearch default ranking function, using
Lucene's always-positive idf variant ``ln(1 + (N - df + 0.5)/(df + 0.5))``).

The embedding rungs (knn/ivf/pq/sq families) answer "semantically close";
BM25 answers "contains these words" — production retrieval serves BOTH and
fuses them (`operators/fusion.rrf_fuse`). The reference
(rianders/photo-vector-search) searches only by CLIP embedding
(photo_vector_search.py:84-108); this extends the mandated similarity-search
family with its lexical sibling, the retrieval-eval operator's second
natural input.

Scale shape (100 TB):
- ONE corpus stats agg (N, avgdl) — a single broadcastable row; no second
  pass materializes a full inverted index for a query: the token explode is
  filtered to the QUERY's terms before any shuffle (predicate on the
  exploded term, evaluated map-side), so the per-(doc, term) tf aggregation
  moves only matching rows — for a q-term query that is q postings lists,
  exactly what a search engine reads.
- document length rides WITH the exploded rows (computed once per doc in
  the same projection), so scoring needs no corpus-sized join back.
- per-term df is an agg over the tf frame (≤ q rows out), broadcast-joined
  back; the final score is one per-doc sum + a global TakeOrdered top-k.
- NULL-text docs never match (no tokens, no rows) — the knn NULL rule.
- batched calls read the caller's query frame once, in one bounded job
  (`arrowkit.bounded_rows`), and the fan-out frames they build on the
  driver are Arrow-backed local relations (`arrowkit.local_frame`): their
  broadcasts are JVM-only jobs, never Python-worker ones.
- a read of a persisted postings store small enough for the driver tier
  (``operators/store.py`` states the rule and the bound) is scored on the
  driver by ``_local_fanout_topk``, the one numpy twin of the formulas
  below, and returned as a local relation.
"""

from __future__ import annotations

import functools
from collections import Counter

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from photo_vector_search_spark.functions.arrowkit import (
    bounded_rows,
    local_frame,
    spark_round6,
)
from photo_vector_search_spark.functions.text import tokens

BM25_K1 = 1.2
BM25_B = 0.75


def _check_kb(k1: float, b: float) -> None:
    if k1 < 0:
        raise ValueError(f"k1 must be >= 0, got {k1}")
    if not 0.0 <= b <= 1.0:
        raise ValueError(f"b must be in [0, 1], got {b}")


def _num_den(k1: float, b: float, avgdl: float, tf=None, dl=None):
    """The tf-saturation numerator and length-normalized denominator of a
    BM25 term score, ``_idf * num / den`` — over the ``_tf``/``_dl``
    columns, or over float64 arrays ``tf``/``dl`` for the driver tier, in
    the same IEEE operations in the same order (bit-identical doubles)."""
    lit = F.lit if tf is None else float
    if tf is None:
        tf, dl = F.col("_tf"), F.col("_dl")
    num = tf * lit(k1 + 1.0)
    den = tf + lit(k1) * (lit(1.0 - b) + lit(b) * dl / lit(avgdl))
    return num, den


def _tf_and_stats(
    docs: DataFrame,
    terms: list[str],
    id_col: str,
    text_col: str,
    stage: bool,
    prefix: str,
    store: tuple[DataFrame, dict] | None = None,
):
    """(tf frame, n_docs, avgdl) in ONE corpus pass (staged mode): the
    per-(doc, term) tf aggregation for ``terms`` with the corpus statistics
    OBSERVED on the same pass (`DataFrame.observe` — a CollectMetrics node
    over the tokenized base, harvested when the staged write runs), instead
    of a separate stats aggregation that re-scans and re-tokenizes the whole
    corpus first (r12 optimization: every bm25-family call paid two full
    corpus passes; now one). ``stage=False`` keeps the audit-friendly pure
    plan and the classic two-pass shape (the tf frame must then not fan out).

    ``store`` (r13): a preloaded BM25 postings store ``(postings, meta)``
    from `bm25_store.load_bm25_store` — or ``(postings, meta, footers)``
    with the postings footers the open read, which lets a small read run
    on the driver tier (``_local_fanout_topk``). The tf frame then comes
    from the bucket-pruned, term-filtered PERSISTED postings (≤ q partition
    directories of fixed-width rows; no corpus tokenize at all) and the
    stats from the store meta. The store rows are exactly this function's
    corpus-mode output — ``(id, _term, _tf, _dl)`` per (doc, term) — so
    every downstream scoring expression is shared verbatim between the two
    sources (value parity pinned in tests). ``stage`` is ignored with a
    store: both consumers re-scan the pruned parquet, which IS the staged
    read.

    dl rides with every exploded row (computed once per doc in the same
    projection) — scoring needs no corpus-sized join back for lengths."""
    if store is not None:
        postings, meta = store[:2]
        _check_store(meta, id_col, text_col)
        from photo_vector_search_spark.operators.bm25_store import (
            _pruned_postings,
        )

        tf = _pruned_postings(postings, terms, meta["n_buckets"]).select(
            id_col, "_term", "_tf", "_dl"
        )
        # build_bm25_store refuses n_docs == 0 and sum_dl == 0, so the
        # stats are always usable; avgdl is bit-identical to corpus-mode
        # F.avg (integer-valued doubles sum exactly).
        return tf, int(meta["n_docs"]), meta["sum_dl"] / meta["n_docs"]
    base = docs.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.array_remove(tokens(F.col(text_col)), "").alias("_toks"),
    )

    def _stats_by_agg():
        row = base.agg(
            F.count(F.lit(1)).alias("n"), F.avg(F.size("_toks")).alias("avgdl")
        ).first()
        return (
            int(row["n"]),
            float(row["avgdl"]) if row["avgdl"] is not None else 0.0,
        )

    observed = base
    obs = None
    if stage:
        from pyspark.sql import Observation

        obs = Observation()
        observed = base.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.avg(F.size("_toks")).alias("avgdl"),
        )
    tf = (
        observed.select(
            id_col,
            F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("_term"),
        )
        .filter(F.col("_term").isin(terms))  # map-side, before any shuffle
        .groupBy(id_col, "_term")
        .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
    )
    if stage:
        from photo_vector_search_spark.operators.staging import stage_frame

        tf = stage_frame(tf, prefix)  # the action that fills the observation
        try:
            m = obs.get
            n_docs = int(m["n"])
            avgdl = float(m["avgdl"]) if m["avgdl"] is not None else 0.0
        except Exception:
            # ZERO postings matched: AQE's empty-relation propagation
            # replaced the executed subtree (CollectMetrics included) with
            # an empty relation, so the observation never filled — pay the
            # classic separate stats pass for this degenerate case only
            n_docs, avgdl = _stats_by_agg()
    else:
        n_docs, avgdl = _stats_by_agg()
    return tf, n_docs, avgdl


def _check_store(meta: dict, id_col: str, text_col: str) -> None:
    if meta["id_col"] != id_col or meta["text_col"] != text_col:
        raise ValueError(
            f"store indexes ({meta['id_col']!r}, {meta['text_col']!r}) "
            f"but the call asks for ({id_col!r}, {text_col!r}) — wrong "
            "store for this corpus"
        )


def _idf_expr(n_docs: float, df, lit=F.lit, log=F.log):
    """Lucene idf as a Catalyst expression — ONE definition so the
    broadcast-join path, the folded-literal path and the driver tier share
    the exact expression shape (same IEEE ops in the same order →
    bit-identical doubles every way). ``df`` is either F.col("_df") (join
    path) or a float literal (folded path; Catalyst constant-folds through
    the same StrictMath.log the codegen path calls); the driver tier passes
    a float with ``lit=float`` and ``log=_strict_log``."""
    return log(lit(1.0) + (lit(float(n_docs)) - df + lit(0.5)) / (df + lit(0.5)))


@functools.lru_cache(maxsize=1 << 16)
def _strict_log(x: float) -> float:
    """``java.lang.StrictMath.log``, the log ``_idf_expr`` folds with. C's
    ``math.log`` differs from it in the last bit for about 8 % of idf
    arguments (1,123 of the 14,569 (N, df) pairs tried), so the driver tier
    asks the JVM, once per distinct argument."""
    from pyspark import SparkContext

    return SparkContext._jvm.java.lang.StrictMath.log(x)


def _scored_with_idf(tf, n_docs: int, fold: bool):
    """``tf`` with an ``_idf`` column attached per ``_term``.

    ``fold=True`` (r13, VERDICT item 4): collect per-term df from the
    already-materialized tf frame (staged parquet or pruned store postings —
    a ≤|terms|-row aggregation job over a bounded scan, NO corpus work) and
    fold idf into a constant literal map, deleting the df-aggregation
    subtree and the broadcast join from the scoring plan — one less
    exchange and one less join per scorer call, and the idf map lookup runs
    on the bounded tf rows only (never a corpus pass — the trap that killed
    the reverted r12 observed-df attempt). ``fold=False`` keeps the classic
    agg + broadcast-join shape for tf frames that are NOT cheap to re-scan
    (stage=False pure plans, where the collect would re-run the corpus
    explode)."""
    if not fold:
        df = tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df"))
        return tf.join(
            F.broadcast(
                df.select("_term", _idf_expr(n_docs, F.col("_df")).alias("_idf"))
            ),
            "_term",
        )
    rows = (
        tf.groupBy("_term").agg(F.count(F.lit(1)).alias("_df")).collect()
    )
    if not rows:
        # zero postings matched: the join path would emit zero rows too
        return tf.withColumn("_idf", F.lit(None).cast("double")).filter(
            F.lit(False)
        )
    idf_map = F.create_map(
        *[
            x
            for r in sorted(rows, key=lambda r: r["_term"])
            for x in (
                F.lit(r["_term"]),
                _idf_expr(n_docs, F.lit(float(r["_df"]))),
            )
        ]
    )
    return tf.withColumn("_idf", idf_map[F.col("_term")])


def query_terms(query: str) -> list[str]:
    """The query-side tokenization: distinct whitespace tokens of the
    lowercased query — the Python twin of ``functions.text.tokens`` (same
    \\s+ split, same lowercasing), sorted for determinism."""
    return sorted({t for t in str(query).strip().lower().split() if t})


def bm25_scores(
    docs: DataFrame,
    query: str,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage: bool = True,
    store: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Per-document BM25 scores for ``query``: one row per document
    containing ≥1 query term — (id, bm25 rounded 6dp, n_terms matched).
    Documents matching nothing are absent (their score is exactly 0);
    query terms absent from the corpus contribute nothing (df = 0 rows
    never reach the join). ``k1`` saturates term frequency; ``b`` in [0, 1]
    is the length-normalization strength.

    ``stage``: the tf frame feeds TWO consumers (the df aggregation and the
    scoring join) and Spark re-executes the corpus explode per consumer (the
    stage_frame fan-out trap, plan-audited). Staged — the default — the
    corpus is exploded ONCE and both consumers re-scan the tiny staged
    postings (bounded by matching docs × query terms, never corpus-sized).
    ``stage=False`` keeps the pure plan for audits/composition.
    ``store``: preloaded postings store — see `_tf_and_stats`."""
    _check_kb(k1, b)
    terms = query_terms(query)
    if not terms:
        raise ValueError("query has no terms after tokenization")
    local = _single_store_query(
        store, [(t, 1.0) for t in terms], None, k1, b, id_col, text_col
    )
    if local is not None:
        return local.select(id_col, F.col("score").alias("bm25"), "n_terms")

    tf, n_docs, avgdl = _tf_and_stats(
        docs, terms, id_col, text_col, stage, "pvs_bm25_tf", store=store
    )
    if n_docs == 0 or avgdl == 0.0:
        # empty / all-empty corpus: nothing can match
        return local_frame(
            tf.sparkSession, [], f"`{id_col}` long, bm25 double, n_terms long"
        )

    scored = _scored_with_idf(tf, n_docs, fold=stage or store is not None)
    num, den = _num_den(k1, b, avgdl)
    return scored.groupBy(id_col).agg(
        F.round(F.sum(F.col("_idf") * num / den), 6).alias("bm25"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def bm25_batch_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    stage: bool = True,
    max_queries: int = 4096,
    store: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Batched BM25: Q queries share ONE corpus pass — (query_id, id, bm25,
    rank), rank 1-based per query, ties by ascending id. Result ≡ a Python
    loop of ``bm25_topk`` per query (pinned in tests): idf/avgdl/N are
    corpus statistics, so per-query and batched scoring agree exactly.
    ``store``: preloaded postings store — see `_tf_and_stats`.

    Shape: the postings explode filters to the UNION of all queries' terms
    (one literal IN, map-side — hence ``max_queries`` bounds the driver-side
    term set), tf/df aggregate ONCE over that union, and a broadcast
    (query_id, term) fan-out join assembles per-query sums — per-query work
    rides on shared postings instead of Q corpus scans. The final top-k is
    one per-QUERY window over ≤ matched-docs rows per query. The query
    frame is read once, in one bounded job; the fan-out frame is a local
    relation (`arrowkit.local_frame`), so no job runs a Python worker."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _check_kb(k1, b)
    qrows = bounded_rows(
        queries, (query_id_col, query_col), max_queries,
        f"bm25_batch_topk: >{max_queries} queries — split the query set or "
        "raise max_queries",
        duplicate="duplicate query_id values in queries — each id must be "
        "unique (a duplicate would double its term contributions and corrupt "
        "scores)",
    )
    return _batch_bm25(
        docs.sparkSession, docs, qrows, queries.schema[query_id_col].dataType,
        k, k1, b, id_col, text_col, query_id_col, query_col, stage, store,
    )


def _batch_bm25(
    spark, docs, qrows, qid_type, k, k1, b, id_col, text_col, query_id_col,
    query_col, stage, store,
) -> DataFrame:
    """``bm25_batch_topk`` over already-read query rows: every query term
    weighs 1, so the ``_fanout_topk`` score is the plain BM25 sum."""
    pairs = [
        (r[query_id_col], t, 1.0)
        for r in qrows
        for t in query_terms(r[query_col] or "")
    ]
    if not pairs:
        raise ValueError("no query has any terms after tokenization")
    return _fanout_topk(
        spark, docs, pairs, qid_type, k, k1, b, id_col, text_col,
        query_id_col, stage, store, "pvs_bm25_batch_tf",
    ).select(query_id_col, id_col, F.col("score").alias("bm25"), "rank")


def _fanout_schema(qid_type, id_col, query_id_col) -> T.StructType:
    return T.StructType([
        T.StructField(query_id_col, qid_type),
        T.StructField(id_col, T.LongType()),
        T.StructField("score", T.DoubleType()),
        T.StructField("n_terms", T.LongType()),
        T.StructField("rank", T.IntegerType()),
    ])


def _local_fanout_topk(
    spark, weighted, qid_type, k, k1, b, id_col, text_col, query_id_col, store
) -> DataFrame | None:
    """The driver tier of every store-served BM25 read (``operators/store.py``
    states the tier rule): ``_fanout_topk``'s result, computed on the driver
    from the pruned postings row groups read with pyarrow and returned as a
    local relation, so collecting it runs no Spark job. ``k`` None keeps
    every matching doc. None when ``store`` carries no postings footers (a
    live view with side tables) or its pruned read, each row counted once
    per query holding its term (the fan-out join below), is over
    ``store.LOCAL_READ_ROWS``: the caller then runs its Spark plan.

    The arithmetic is the Spark tier's: df counts the pruned rows per term,
    idf is ``_idf_expr`` under StrictMath's log, a term score is
    ``_idf * num / den`` (``_num_den``), a query's score is
    ``round(Σ weight · term score, 6)`` (``spark_round6``), and each query
    ranks by score descending, then id ascending."""
    from photo_vector_search_spark.operators.bm25_store import term_bucket_py
    from photo_vector_search_spark.operators.store import local_read

    if store is None or len(store) < 3 or store[2] is None:
        return None
    _, meta, footers = store
    _check_store(meta, id_col, text_col)
    fanout = Counter(t for _, t, _ in weighted)
    terms = sorted(fanout)
    batches = local_read(
        footers, "term_bucket",
        {term_bucket_py(t, meta["n_buckets"]) for t in terms},
        (id_col, "_term", "_tf", "_dl"), "_term", fanout,
    )
    if batches is None:
        return None
    schema = _fanout_schema(qid_type, id_col, query_id_col)
    n_docs, sum_dl = int(meta["n_docs"]), meta["sum_dl"]
    batches = list(batches)
    if not (n_docs and sum_dl and batches):
        return local_frame(spark, [], schema)
    rows = pa.Table.from_batches(batches)
    t_of = pc.fill_null(
        pc.index_in(rows["_term"], value_set=pa.array(terms, pa.string())), -1
    ).to_numpy()
    hit = t_of >= 0
    if not hit.any():
        return local_frame(spark, [], schema)
    t_of = t_of[hit]
    ids = rows[id_col].to_numpy()[hit]
    num, den = _num_den(
        k1, b, sum_dl / n_docs,
        rows["_tf"].to_numpy()[hit].astype(np.float64),
        rows["_dl"].to_numpy()[hit].astype(np.float64),
    )
    df = np.bincount(t_of, minlength=len(terms))
    idf = np.array([
        _idf_expr(n_docs, float(d), float, _strict_log) if d else 0.0 for d in df
    ])
    term_score = idf[t_of] * num / den

    # the fan-out join: each posting row once per query holding its term
    qids = list(dict.fromkeys(q for q, _, _ in weighted))
    pos = {t: i for i, t in enumerate(terms)}
    qpos = {q: i for i, q in enumerate(qids)}
    p_t, p_q, p_w = (
        np.array(c) for c in zip(*sorted(
            ((pos[t], qpos[q], float(w)) for q, t, w in weighted),
            key=lambda p: p[0],
        ))
    )
    per_term = np.bincount(p_t, minlength=len(terms))
    reps = per_term[t_of]
    row = np.repeat(np.arange(len(t_of)), reps)
    within = np.arange(len(row)) - np.repeat(np.cumsum(reps) - reps, reps)
    pair = (np.cumsum(per_term) - per_term)[t_of[row]] + within
    q, doc, contrib = p_q[pair], ids[row], p_w[pair] * term_score[row]

    # per (query, doc): Σ in row order, then per query: score desc, id asc
    order = np.lexsort((doc, q))
    q, doc, contrib = q[order], doc[order], contrib[order]
    new = np.r_[True, (q[1:] != q[:-1]) | (doc[1:] != doc[:-1])]
    group = np.cumsum(new) - 1
    score = spark_round6(np.bincount(group, weights=contrib))
    n_terms = np.bincount(group)
    q, doc = q[new], doc[new]
    order = np.lexsort((doc, -score, q))
    q, doc, score, n_terms = q[order], doc[order], score[order], n_terms[order]
    first = np.r_[True, q[1:] != q[:-1]]
    rank = np.arange(len(q)) - np.maximum.accumulate(
        np.where(first, np.arange(len(q)), 0)
    ) + 1
    keep = slice(None) if k is None else rank <= k
    return local_frame(
        spark,
        list(zip(
            [qids[i] for i in q[keep]], doc[keep].tolist(), score[keep].tolist(),
            n_terms[keep].tolist(), rank[keep].tolist(),
        )),
        schema,
    )


def _single_store_query(store, term_weights, k, k1, b, id_col, text_col):
    """A single-query read of a store on the driver tier — a one-query
    fan-out (exact: a query's score is its own Σ weight · term score) —
    as (id, score, n_terms, rank), or None for the Spark tier."""
    if store is None:
        return None
    out = _local_fanout_topk(
        store[0].sparkSession, [(0, t, w) for t, w in term_weights],
        T.LongType(), k, k1, b, id_col, text_col, "query_id", store,
    )
    return None if out is None else out.drop("query_id")


def _fanout_topk(
    spark, docs, weighted, qid_type, k, k1, b, id_col, text_col,
    query_id_col, stage, store, prefix,
) -> DataFrame:
    """Per-query top-k of Σ weight · bm25_term over ONE shared postings pass
    of the union of all queries' terms — (query_id, id, score, n_terms,
    rank). ``weighted``: (query_id, term, weight) triples, broadcast as a
    local relation in the fan-out join. A store read small enough runs on
    the driver tier instead (``_local_fanout_topk``)."""
    local = _local_fanout_topk(
        spark, weighted, qid_type, k, k1, b, id_col, text_col, query_id_col,
        store,
    )
    if local is not None:
        return local
    wq = local_frame(
        spark, weighted,
        T.StructType([
            T.StructField(query_id_col, qid_type),
            T.StructField("_term", T.StringType()),
            T.StructField("_w", T.DoubleType()),
        ]),
    )
    tf, n_docs, avgdl = _tf_and_stats(
        docs, sorted({t for _, t, _ in weighted}), id_col, text_col, stage,
        prefix, store=store,
    )
    if n_docs == 0 or avgdl == 0.0:
        return local_frame(
            spark, [], _fanout_schema(qid_type, id_col, query_id_col)
        )
    num, den = _num_den(k1, b, avgdl)
    postings = _scored_with_idf(
        tf, n_docs, fold=stage or store is not None
    ).select(id_col, "_term", (F.col("_idf") * num / den).alias("_s"))
    per_query = (
        postings.join(F.broadcast(wq), "_term")
        .groupBy(query_id_col, id_col)
        .agg(
            F.round(F.sum(F.col("_w") * F.col("_s")), 6).alias("score"),
            F.count(F.lit(1)).alias("n_terms"),
        )
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        per_query.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "n_terms", "rank")
    )


def bm25_scores_weighted(
    docs: DataFrame,
    term_weights: list[tuple[str, float]],
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage: bool = True,
    store: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Per-document WEIGHTED BM25: score = Σ_w weight_w · bm25_term(w, D) —
    the scoring half of query expansion (RM3 hands this its mixed term
    distribution). ``term_weights``: small driver-side (term, weight) list
    (an expanded query is tens of terms, never corpus-sized); weights enter
    as a codegen map literal, so the plan is the bm25_scores plan with one
    extra multiply — same one-explode/one-agg shape, nothing new shuffles.
    Non-positive weights are rejected (a zero term is a term to omit)."""
    _check_kb(k1, b)
    if not term_weights:
        raise ValueError("term_weights is empty")
    terms = [t for t, _ in term_weights]
    if len(set(terms)) != len(terms):
        raise ValueError("duplicate terms in term_weights")
    for t, w in term_weights:
        if not w > 0:
            raise ValueError(f"weight for {t!r} must be > 0, got {w}")

    tf, n_docs, avgdl = _tf_and_stats(
        docs, terms, id_col, text_col, stage, "pvs_bm25_wtf", store=store
    )
    if n_docs == 0 or avgdl == 0.0:
        return local_frame(
            docs.sparkSession, [], f"`{id_col}` long, score double, n_terms long"
        )
    wmap = F.create_map(
        *[x for t, w in term_weights for x in (F.lit(t), F.lit(float(w)))]
    )
    scored = _scored_with_idf(tf, n_docs, fold=stage or store is not None)
    num, den = _num_den(k1, b, avgdl)
    return scored.groupBy(id_col).agg(
        F.round(
            F.sum(wmap[F.col("_term")] * (F.col("_idf") * num / den)), 6
        ).alias("score"),
        F.count(F.lit(1)).alias("n_terms"),
    )


def rm3_expand(
    docs: DataFrame,
    query: str,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage: bool = True,
    store: tuple[DataFrame, dict] | None = None,
) -> list[tuple[str, float]]:
    """RM3 pseudo-relevance-feedback expansion (Abdul-Jaleel et al. 2004,
    the Lavrenko–Croft relevance model with original-query interpolation —
    the Indri/Anserini baseline): retrieve the BM25 top ``fb_docs``, build
    the relevance model P(w|R) = Σ_D P(w|D)·P(D) with P(w|D) = tf/|D| (MLE)
    and P(D) ∝ the doc's BM25 score, keep the ``fb_terms`` most probable
    terms, and mix weight(w) = α·P_orig(w) + (1−α)·P_rm(w) with P_orig
    uniform over the original terms. Returns the (term, weight) list for
    ``bm25_scores_weighted`` — sorted by term for determinism.

    Scale shape: the feedback set is ``fb_docs`` rows (driver-side scores),
    the term distribution is ONE explode over those fb_docs documents
    (broadcast id filter, map-side) + a term-sum agg + TakeOrdered
    fb_terms — never corpus-sized. Empty feedback (no doc matches) returns
    the original uniform weights unchanged."""
    if fb_docs < 1:
        raise ValueError(f"fb_docs must be >= 1, got {fb_docs}")
    if fb_terms < 0:
        raise ValueError(f"fb_terms must be >= 0, got {fb_terms}")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    orig = query_terms(query)
    if not orig:
        raise ValueError("query has no terms after tokenization")
    p_orig = {t: 1.0 / len(orig) for t in orig}

    fb = bm25_topk(
        docs, query, k=fb_docs, k1=k1, b=b, id_col=id_col,
        text_col=text_col, stage=stage, store=store,
    ).select(id_col, "bm25").collect()
    if not fb or fb_terms == 0:
        # no feedback evidence → the original query, unmixed (ranking is
        # invariant to a constant factor on the weights anyway)
        return [(t, p) for t, p in sorted(p_orig.items())]
    total = sum(r["bm25"] for r in fb)
    if not total > 0:
        return [(t, p) for t, p in sorted(p_orig.items())]
    p_doc = {r[id_col]: r["bm25"] / total for r in fb}

    pd_map = F.create_map(
        *[x for d, p in sorted(p_doc.items()) for x in (F.lit(d), F.lit(p))]
    )
    fb_ids = list(p_doc)
    rm = (
        docs.filter(F.col(id_col).isin(fb_ids))
        .filter(F.col(text_col).isNotNull())
        .select(
            F.col(id_col),
            F.array_remove(tokens(F.col(text_col)), "").alias("_toks"),
        )
        .filter(F.size("_toks") > 0)
        .select(
            id_col,
            F.size("_toks").alias("_dl"),
            F.explode("_toks").alias("_term"),
        )
        .groupBy(id_col, "_term")
        .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
        .select(
            "_term",
            ((F.col("_tf") / F.col("_dl")) * pd_map[F.col(id_col)]).alias(
                "_p"
            ),
        )
        .groupBy("_term")
        .agg(F.sum("_p").alias("_p"))
        .orderBy(F.col("_p").desc(), F.col("_term").asc())
        .limit(fb_terms)
        .collect()
    )
    p_rm = {r["_term"]: r["_p"] for r in rm}
    out: dict[str, float] = {}
    for t in set(p_orig) | set(p_rm):
        w = alpha * p_orig.get(t, 0.0) + (1.0 - alpha) * p_rm.get(t, 0.0)
        if w > 0:
            out[t] = w
    return sorted(out.items())


def rm3_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage: bool = True,
    store: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Full RM3 retrieval: expand, then weighted-BM25 top-k — (id, score,
    rank), ties by ascending id; TakeOrderedAndProject, the bm25_topk
    discipline. Two bounded corpus passes (feedback retrieval + final
    scoring) plus one fb_docs-sized distribution job — the standard price
    of pseudo-relevance feedback. With ``store`` (a preloaded postings
    store), BOTH postings passes read pruned store buckets instead — the
    only corpus touch left is the fb-doc distribution explode over
    ``fb_docs`` id-filtered rows (parquet id pushdown, never corpus-sized);
    values are identical either way (pinned in tests)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    weights = rm3_expand(
        docs, query, fb_docs=fb_docs, fb_terms=fb_terms, alpha=alpha,
        k1=k1, b=b, id_col=id_col, text_col=text_col, stage=stage,
        store=store,
    )
    local = _single_store_query(store, weights, k, k1, b, id_col, text_col)
    if local is not None:
        return local
    scores = bm25_scores_weighted(
        docs, weights, k1=k1, b=b, id_col=id_col, text_col=text_col,
        stage=stage, store=store,
    )
    top = scores.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("score").desc(), F.col(id_col).asc())
        ),
    ).select(id_col, "score", "n_terms", "rank")


def rm3_batch_topk(
    docs: DataFrame,
    queries: DataFrame,
    k: int = 10,
    fb_docs: int = 10,
    fb_terms: int = 10,
    alpha: float = 0.5,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_col: str = "query",
    stage: bool = True,
    max_queries: int = 4096,
    store: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Batched RM3: Q feedback queries share corpus passes instead of 2Q —
    (query_id, id, score, n_terms, rank), ≡ a Python loop of ``rm3_topk``
    per query (pinned in tests; idf/avgdl/N are corpus statistics, so
    shared-pass scoring changes nothing).

    Shape: the query frame is read once, in one bounded job, and stage 1
    is ONE ``bm25_batch_topk`` scoring over those rows (all queries' terms
    share the postings pass); the relevance models come from ONE explode
    over the UNION of all queries' feedback docs (≤ Q·fb_docs docs, broadcast id
    filter) joined to a broadcast (query_id, doc_id, P(D)) frame and
    aggregated per (query, term) with a bounded per-query top-fb_terms
    window; stage 2 is ONE shared postings pass over the union of all
    expanded terms with a broadcast (query_id, term, weight) fan-out —
    the ``bm25_batch_topk`` scoring shape. The three fan-out frames are
    local relations (`arrowkit.local_frame`), so no job runs a Python
    worker.

    With ``store`` (a preloaded postings store) both stage-1 and stage-2
    postings passes read pruned store buckets — zero corpus tokenize
    passes; only the fb-doc distribution explode touches ``docs``, filtered
    to ≤ Q·fb_docs ids (parquet id pushdown). Values identical (pinned)."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if fb_docs < 1:
        raise ValueError(f"fb_docs must be >= 1, got {fb_docs}")
    if fb_terms < 0:
        raise ValueError(f"fb_terms must be >= 0, got {fb_terms}")
    if not 0.0 <= alpha <= 1.0:
        raise ValueError(f"alpha must be in [0, 1], got {alpha}")
    _check_kb(k1, b)
    qrows = bounded_rows(
        queries, (query_id_col, query_col), max_queries,
        f">{max_queries} queries — split the batch or raise max_queries",
        duplicate="duplicate query_id in the batch — per-query feedback is "
        "ill-defined; de-duplicate the query frame first",
        empty="empty query frame",
    )
    qids = [r[query_id_col] for r in qrows]
    spark = docs.sparkSession
    qid_type = queries.schema[query_id_col].dataType
    p_orig: dict = {}
    for r in qrows:
        orig = query_terms(r[query_col] or "")
        if not orig:
            raise ValueError(
                f"query {r[query_id_col]!r} has no terms after tokenization"
            )
        p_orig[r[query_id_col]] = {t: 1.0 / len(orig) for t in orig}

    # ---- stage 1: shared feedback retrieval, then P(D) ∝ bm25 per query
    fb = _batch_bm25(
        spark, docs, qrows, qid_type, fb_docs, k1, b, id_col, text_col,
        query_id_col, query_col, stage, store,
    ).select(query_id_col, id_col, "bm25").collect()
    p_doc: dict = {}
    for r in fb:
        p_doc.setdefault(r[query_id_col], {})[r[id_col]] = r["bm25"]
    for qid, d in list(p_doc.items()):
        total = sum(d.values())
        if not total > 0:
            del p_doc[qid]  # no usable feedback → original query, unmixed
        else:
            p_doc[qid] = {i: s / total for i, s in d.items()}

    # ---- relevance models: ONE explode over the union of feedback docs
    p_rm: dict = {qid: {} for qid in qids}
    if fb_terms > 0 and p_doc:
        pd_df = local_frame(
            spark,
            [
                (qid, doc, p)
                for qid, d in sorted(p_doc.items())
                for doc, p in sorted(d.items())
            ],
            T.StructType([
                T.StructField(query_id_col, qid_type),
                T.StructField(id_col, T.LongType()),
                T.StructField("_pd", T.DoubleType()),
            ]),
        )
        fb_union = sorted({doc for d in p_doc.values() for doc in d})
        rm = (
            docs.filter(F.col(id_col).isin(fb_union))
            .filter(F.col(text_col).isNotNull())
            .select(
                F.col(id_col),
                F.array_remove(tokens(F.col(text_col)), "").alias("_toks"),
            )
            .filter(F.size("_toks") > 0)
            .select(
                id_col,
                F.size("_toks").alias("_dl"),
                F.explode("_toks").alias("_term"),
            )
            .groupBy(id_col, "_term")
            .agg(F.count(F.lit(1)).alias("_tf"), F.first("_dl").alias("_dl"))
            .join(F.broadcast(pd_df), id_col)
            .select(
                query_id_col,
                "_term",
                ((F.col("_tf") / F.col("_dl")) * F.col("_pd")).alias("_p"),
            )
            .groupBy(query_id_col, "_term")
            .agg(F.sum("_p").alias("_p"))
        )
        w = Window.partitionBy(query_id_col).orderBy(
            F.col("_p").desc(), F.col("_term").asc()
        )
        top_terms = (
            rm.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= fb_terms)
            .collect()
        )
        for r in top_terms:
            p_rm[r[query_id_col]][r["_term"]] = r["_p"]

    # ---- mixed weights per query (driver-side, Q·(terms+fb_terms) entries)
    weights: dict = {}
    for qid in qids:
        po, pr = p_orig[qid], p_rm.get(qid, {})
        out = {}
        for t in set(po) | set(pr):
            v = alpha * po.get(t, 0.0) + (1.0 - alpha) * pr.get(t, 0.0)
            if v > 0:
                out[t] = v
        # no feedback evidence → the original query, unmixed (constant
        # factors don't change ranking) — the rm3_expand fallback
        weights[qid] = out if qid in p_doc and fb_terms > 0 else dict(po)

    # ---- stage 2: ONE shared postings pass over the union of all terms
    return _fanout_topk(
        spark, docs,
        [(qid, t, w) for qid in qids for t, w in sorted(weights[qid].items())],
        qid_type, k, k1, b, id_col, text_col, query_id_col, stage, store,
        "pvs_rm3_batch_tf",
    )


def bm25_topk(
    docs: DataFrame,
    query: str,
    k: int = 10,
    k1: float = BM25_K1,
    b: float = BM25_B,
    id_col: str = "doc_id",
    text_col: str = "text",
    stage: bool = True,
    store: tuple[DataFrame, dict] | None = None,
) -> DataFrame:
    """Top-k documents by BM25 — (id, bm25, rank), rank 1-based, ties broken
    by ascending id (the knn ordering discipline, so results are
    partitioning-invariant). The plan ends in TakeOrderedAndProject: no
    global sort, no window over the corpus."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if store is not None:
        _check_kb(k1, b)
        terms = query_terms(query)
        if not terms:
            raise ValueError("query has no terms after tokenization")
        local = _single_store_query(
            store, [(t, 1.0) for t in terms], k, k1, b, id_col, text_col
        )
        if local is not None:
            return local.select(
                id_col, F.col("score").alias("bm25"), "n_terms", "rank"
            )
    scores = bm25_scores(
        docs, query, k1=k1, b=b, id_col=id_col, text_col=text_col,
        stage=stage, store=store,
    )
    top = scores.orderBy(F.col("bm25").desc(), F.col(id_col).asc()).limit(k)
    return top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.col("bm25").desc(), F.col(id_col).asc())
        ),
    ).select(id_col, "bm25", "n_terms", "rank")
