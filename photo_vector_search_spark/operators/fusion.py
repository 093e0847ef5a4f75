"""Reciprocal Rank Fusion (RRF) — hybrid-retrieval result merging (Cormack,
Clarke & Buettcher 2009, "Reciprocal Rank Fusion outperforms Condorcet and
individual Rank Learning Methods"; the fusion Elasticsearch/OpenSearch ship
for BM25 + vector hybrid search).

score(q, d) = Σ_runs w_i / (k + rank_i(q, d)), summed over the runs that
retrieved d for q. Rank-based (not score-based) fusion needs NO score
calibration between runs — a cosine distance and a BM25 score fuse without
normalization, which is why RRF is the production default.

This is the glue between the engine's two retrieval families: the embedding
rungs (knn/ivf/pq/sq) and the lexical rung (`operators/bm25`), both of which
emit the (query_id, doc_id, rank) shape `operators/evaluation` consumes —
so fuse → evaluate composes directly.

Scale shape (100 TB): inputs are rank lists, ≤ k rows per query per run by
construction — the union is (runs · k) rows per query, NOT corpus-sized.
One per-run (q, d) min-rank agg (the duplicate-collapse discipline shared
with retrieval_metrics), one keyed (q, d) sum, one per-QUERY window whose
partitions are bounded by runs·k — no global sort, no corpus scan.

Cf. reference scope: the reference searches by one modality at a time
(photo_vector_search.py:84-130, CLIP image/text query against one HNSW
index); fusion is the missing multi-ranker rung of that family.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.arrowkit import bounded_rows, local_frame

RRF_K = 60  # the paper's (and Elasticsearch's) default rank constant


def hybrid_text_search(
    docs: DataFrame,
    embeddings: DataFrame,
    query: str,
    k: int = 10,
    pool: int | None = None,
    rrf_k: int = RRF_K,
    weights: Sequence[float] = (1.0, 1.0),
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-call hybrid retrieval for a text query: the in-engine embedding
    path (`pipelines/embed.stub_embedding_expr` → exact cosine top-``pool``
    over ``embeddings``, the search_by_text rung) fused with BM25 top-``pool``
    over ``docs`` by RRF — (id, rrf_score, rank), top ``k``.

    ``pool`` (default 3k) is each run's candidate depth — RRF can only
    surface what some run retrieved, so the pool rides deeper than k.
    ``weights`` = (vector_weight, lexical_weight). ``embeddings`` rows join
    the fused ranking by vec_id == ``id_col`` (the fixture convention shared
    with semdedup/label_prototypes).

    This is composition sugar over three audited rungs (knn_topk, bm25_topk,
    rrf_fuse) — it adds no new physical plan of its own."""
    from pyspark.sql import functions as _F

    from photo_vector_search_spark.operators.bm25 import bm25_topk
    from photo_vector_search_spark.operators.knn import knn_topk
    from photo_vector_search_spark.pipelines.embed import stub_embedding_expr

    if len(weights) != 2:
        raise ValueError(f"weights must be (vector, lexical), got {weights}")
    c = pool if pool is not None else 3 * k
    if c < k:
        raise ValueError(f"pool ({c}) must be >= k ({k})")
    qv = [
        float(v)
        for v in docs.sparkSession.range(1)
        .select(stub_embedding_expr(_F.lit(query)).alias("qv"))
        .first()["qv"]
    ]
    # knn_topk returns the ordered (vec_id, label, dist) without a rank
    # column; number its (<= pool)-row result — a tiny window, not corpus
    vec_run = (
        knn_topk(embeddings, qv, k=c)
        .withColumn(
            "rank",
            _F.row_number().over(
                Window.orderBy(_F.col("dist").asc(), _F.col("vec_id").asc())
            ),
        )
        .select(_F.lit(0).alias("query_id"), _F.col("vec_id").alias(id_col), "rank")
    )
    lex_run = bm25_topk(docs, query, k=c, id_col=id_col, text_col=text_col).select(
        _F.lit(0).alias("query_id"), _F.col(id_col), "rank"
    )
    fused = rrf_fuse(
        [vec_run, lex_run],
        k=rrf_k,
        weights=list(weights),
        doc_col=id_col,
        top_n=k,
    )
    return fused.select(id_col, "rrf_score", "rank")


def hybrid_store_search(
    spark,
    bm25_path: str,
    vec_path: str,
    query: str,
    k: int = 10,
    pool: int | None = None,
    nprobe: int = 4,
    rrf_k: int = RRF_K,
    weights: Sequence[float] = (1.0, 1.0),
) -> DataFrame:
    """One-call hybrid retrieval served ENTIRELY from persisted indexes —
    no corpus frame touched: the dense run probes an IVF,SQ8 store
    (`sq.ivf_sq8_store_topk`, cluster-partition-pruned codes) with the
    in-engine text embedding of ``query``; the lexical run reads the BM25
    postings store (`bm25_store.bm25_store_topk`, bucket-partition-pruned
    postings); RRF fuses the two rank lists — (id, rrf_score, rank), top
    ``k``. This is the production serving shape: at 100 TB neither the
    text nor the float corpus is scanned — only probed clusters of 8×
    codes and ≤ q term buckets of postings.

    ``pool`` (default 3k) is each run's candidate depth; ``weights`` =
    (vector_weight, lexical_weight). The stores must index the same corpus
    under the same ids (vec_id == doc_id, the fixture convention).
    Composition sugar over three audited rungs (ivf_sq8_store_topk,
    bm25_store_topk, rrf_fuse) — ≡ fusing the two store runs by hand,
    pinned in tests."""
    from pyspark.sql import functions as _F

    from photo_vector_search_spark.operators.bm25_store import bm25_store_topk
    from photo_vector_search_spark.operators.sq import ivf_sq8_store_topk
    from photo_vector_search_spark.pipelines.embed import stub_embedding_expr

    if len(weights) != 2:
        raise ValueError(f"weights must be (vector, lexical), got {weights}")
    c = pool if pool is not None else 3 * k
    if c < k:
        raise ValueError(f"pool ({c}) must be >= k ({k})")
    # a one-row local relation: the embedding is evaluated on the driver,
    # with no Spark job
    qv = [
        float(v)
        for v in local_frame(spark, [(query,)], "q string")
        .select(stub_embedding_expr(_F.col("q")).alias("qv"))
        .first()["qv"]
    ]
    vec_run = ivf_sq8_store_topk(
        spark, vec_path, qv, k=c, nprobe=nprobe
    ).select(
        _F.lit(0).alias("query_id"), _F.col("vec_id").alias("doc_id"), "rank"
    )
    lex_run = bm25_store_topk(spark, bm25_path, query, k=c).select(
        _F.lit(0).alias("query_id"), _F.col("doc_id"), "rank"
    )
    fused = rrf_fuse(
        [vec_run, lex_run],
        k=rrf_k,
        weights=list(weights),
        doc_col="doc_id",
        top_n=k,
    )
    return fused.select("doc_id", "rrf_score", "rank")


def hybrid_batch_search(
    docs: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    pool: int | None = None,
    rrf_k: int = RRF_K,
    weights: Sequence[float] = (1.0, 1.0),
    id_col: str = "doc_id",
    text_col: str = "text",
    max_queries: int = 4096,
    bm25_store_path: str | None = None,
) -> DataFrame:
    """Batched hybrid retrieval: Q text queries share ONE embedding-side
    pass and ONE lexical-side pass — (query_id, id, rrf_score, rank), ≡ a
    Python loop of ``hybrid_text_search`` per query (pinned in tests).

    Composition of three batched rungs, no new physical plan: the query
    texts stub-embed driver-side (Q bounded rows), `knn.knn_batch_fast`
    retrieves the vector pool for all queries in one map-side-matmul pass,
    `bm25.bm25_batch_topk` retrieves the lexical pool in one shared
    postings pass, and `rrf_fuse` merges per query. ``queries``:
    (query_id, query) text rows; duplicate ids rejected (the shared batch
    contract).

    ``bm25_store_path`` (r13): serve the lexical pool from the persisted
    postings store (`bm25_store.bm25_store_batch_topk` — pruned term-bucket
    scan, no corpus tokenize; the store must index ``docs`` under the same
    ``id_col``/``text_col``). Rank lists — and therefore the fused result —
    are identical either way (store parity pinned in tests)."""
    from pyspark.sql import types as T

    from photo_vector_search_spark.operators.bm25 import bm25_batch_topk
    from photo_vector_search_spark.operators.knn import knn_batch_fast
    from photo_vector_search_spark.pipelines.embed import stub_embed_one

    if len(weights) != 2:
        raise ValueError(f"weights must be (vector, lexical), got {weights}")
    c = pool if pool is not None else 3 * k
    if c < k:
        raise ValueError(f"pool ({c}) must be >= k ({k})")
    qrows = bounded_rows(
        queries, ("query_id", "query"), max_queries,
        f">{max_queries} queries — split the batch or raise max_queries",
        duplicate="duplicate query_id in the batch — per-query fusion is "
        "ill-defined; de-duplicate the query frame first",
        empty="empty query frame",
    )
    from photo_vector_search_spark.operators.bm25 import query_terms

    for r in qrows:
        if not query_terms(r["query"] or ""):
            # the per-query operator raises for a termless query; a batch
            # that silently served vector-only results for it would diverge
            raise ValueError(
                f"query {r['query_id']!r} has no terms after tokenization"
            )
    spark = docs.sparkSession
    qid_field = queries.schema["query_id"]
    qvecs = spark.createDataFrame(
        [(r["query_id"], stub_embed_one(str(r["query"]))) for r in qrows],
        T.StructType(
            [
                T.StructField("query_id", qid_field.dataType),
                T.StructField("query_vec", T.ArrayType(T.DoubleType())),
            ]
        ),
    )
    vec_run = knn_batch_fast(embeddings, qvecs, k=c).select(
        "query_id", F.col("vec_id").alias(id_col), "rank"
    )
    if bm25_store_path is not None:
        from photo_vector_search_spark.operators.bm25_store import (
            bm25_store_batch_topk,
        )

        lex_run = bm25_store_batch_topk(
            spark, bm25_store_path, queries, k=c, max_queries=max_queries
        ).select("query_id", id_col, "rank")
    else:
        lex_run = bm25_batch_topk(
            docs, queries, k=c, id_col=id_col, text_col=text_col,
            max_queries=max_queries,
        ).select("query_id", id_col, "rank")
    return rrf_fuse(
        [vec_run, lex_run],
        k=rrf_k,
        weights=list(weights),
        doc_col=id_col,
        top_n=k,
    )


def rrf_fuse(
    runs: Sequence[DataFrame],
    k: int = RRF_K,
    weights: Sequence[float] | None = None,
    query_col: str = "query_id",
    doc_col: str = "doc_id",
    rank_col: str = "rank",
    top_n: int | None = None,
) -> DataFrame:
    """Fuse ranked result lists into one ranking per query.

    ``runs``: ranked frames (query_col, doc_col, rank_col), rank 1-based —
    the knn_batch / bm25_topk / retrieval_metrics shape. ``weights`` scales
    each run's contribution (default: all 1.0 — the paper's form).
    Duplicate (query, doc) rows WITHIN a run collapse to their best rank
    before contributing (the retrieval_metrics duplicate discipline); the
    same doc across DIFFERENT runs is the point — contributions add.

    Output: (query_col, doc_col, rrf_score rounded 6dp, rank) re-ranked per
    query, ties broken by ascending doc id so the ranking is deterministic
    and partitioning-invariant. ``top_n`` keeps the fused top n per query."""
    if not runs:
        raise ValueError("need at least one run to fuse")
    if k <= 0:
        raise ValueError(f"k must be > 0, got {k}")
    if weights is None:
        weights = [1.0] * len(runs)
    if len(weights) != len(runs):
        raise ValueError(
            f"got {len(runs)} runs but {len(weights)} weights"
        )
    if top_n is not None and top_n < 1:
        raise ValueError(f"top_n must be >= 1, got {top_n}")

    # ONE keyed aggregation for the whole fusion (r12 — was one groupBy-min
    # PER RUN plus a second groupBy over their union, i.e. runs+1 exchanges
    # of the same (q, d) keys): the run list is static, so each run's
    # best-rank collapse pivots into a conditional min inside a single
    # groupBy — min(rank WHERE run = i) — and the score sums the per-run
    # contributions in fixed run order. Same duplicate-collapse semantics,
    # same values (each run's min rank, then the weighted reciprocal sum).
    tagged = [
        run.select(
            F.col(query_col).alias("_q"),
            F.col(doc_col).alias("_d"),
            F.col(rank_col).cast("long").alias("_r"),
            F.lit(i).alias("_run"),
        ).filter(F.col("_r") >= 1)
        for i, run in enumerate(runs)
    ]
    best = (
        reduce(lambda a, b: a.unionByName(b), tagged)
        .groupBy("_q", "_d")
        .agg(
            *[
                F.min(F.when(F.col("_run") == i, F.col("_r"))).alias(f"_r{i}")
                for i in range(len(runs))
            ]
        )
    )
    contrib = None
    for i, w in enumerate(weights):
        c = F.when(
            F.col(f"_r{i}").isNotNull(),
            F.lit(float(w)) / (F.lit(float(k)) + F.col(f"_r{i}")),
        ).otherwise(F.lit(0.0))
        contrib = c if contrib is None else contrib + c
    fused = best.select(
        "_q", "_d", F.round(contrib, 6).alias("rrf_score")
    )
    w_rank = Window.partitionBy("_q").orderBy(
        F.col("rrf_score").desc(), F.col("_d").asc()
    )
    out = fused.withColumn("rank", F.row_number().over(w_rank))
    if top_n is not None:
        out = out.filter(F.col("rank") <= top_n)
    return out.select(
        F.col("_q").alias(query_col),
        F.col("_d").alias(doc_col),
        "rrf_score",
        "rank",
    )
