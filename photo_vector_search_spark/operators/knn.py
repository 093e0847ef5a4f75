"""Exact filtered cosine top-k retrieval — the reference's core query
(photo_vector_search.py:156-193, `store.search`).

Reference semantics reproduced:
- optional metadata equality pre-filter applied BEFORE distance work, mirroring
  Chroma's pre-filtered ANN (photo_vector_search.py:173-176) — in the DataFrame plan
  this puts the filter under the distance projection, and Catalyst pushes it into the
  Parquet scan (check ``PushedFilters`` in .explain).
- ascending-distance order, top ``n_results=k`` (photo_vector_search.py:168-176);
  ties broken by key for determinism (the oracle needs a total order).
- result carries (key, facet, distance) like the reference's
  ``(photo_path, aspect, distance, description)`` tuple (photo_vector_search.py:180-193).

Physical plan notes (what .explain should show, and why it scales):
- ``knn_topk``: scan (+ pushed filter) → project distance → TakeOrderedAndProject.
  No data shuffle: each partition keeps a local top-k, the driver merges
  k·num_partitions rows. At 100 TB this is a single map stage + tiny reduce.
- ``knn_batch``: broadcast the (small) query side, cross-join, per-query rank via a
  Window on query_id. Pure-SQL, oracle-parity path; the shuffle carries N·Q narrow
  rows, fine for modest Q·N.
- ``knn_batch_fast``: the scale path — mapInArrow computes a NumPy matmul of each
  Arrow batch against the whole query matrix and keeps only that batch's top-k per
  query (map-side reduction, no shuffle of the N·Q pairs), then one tiny window
  over ≤ batches·Q·k survivors. This is the plan that survives 100×: shuffle volume
  is independent of N.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.arrowkit import (
    batch_topk,
    bounded_rows,
    cosine_screen,
    fixed_matrix,
)
from photo_vector_search_spark.functions.vector import (
    cosine_distance,
    cosine_distance_to_query,
    make_pandas_cosine_distance_udf,
)
from photo_vector_search_spark.sources.tables import load_table


def fetch_query_vector(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """Look up one stored embedding to use as the query vector (FIXTURES.md: query
    vectors are taken from the table itself so Spark and the oracle see identical
    inputs). A 1-row point lookup, not a data loop."""
    row = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == vec_id)
        .select("embedding")
        .first()
    )
    if row is None:
        raise KeyError(f"vec_id {vec_id} not found in {sf_dir}/embeddings.parquet")
    return list(row[0])


def _valid_dist(col: Column) -> Column:
    """Zero-norm vectors produce NULL (SQL division path) or NaN (NumPy path);
    both mean 'undefined in cosine space' and must never outrank a real
    neighbor (NULLs sort FIRST ascending by default!). Excluded in every path."""
    return col.isNotNull() & ~F.isnan(col)


def knn_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    label: int | None = None,
    fast: bool = False,
    raw: bool = False,
) -> DataFrame:
    """Exact top-k by ascending cosine distance, optional equality pre-filter.

    ``fast=True`` swaps the codegen SQL distance expression for the NumPy-matmul
    pandas UDF (same results modulo ~1e-12; the SQL path is the oracle-parity path).
    Zero-norm vectors have no cosine distance and are excluded from results.
    Output: (vec_id, label, dist) with dist rounded to 6dp, ordered by (dist, vec_id).

    ``raw=True`` is engine-internal: keep ``dist`` unrounded so a caller merging
    partial top-ks (``ivf_topk_adaptive``) can reproduce the GLOBAL raw-distance
    ordering — merging on rounded values could flip a tie at the k-boundary
    against a single-pass exact run. Callers must round before emitting.
    """
    df = embeddings
    if label is not None:
        df = df.filter(F.col("label") == label)  # pre-filter BEFORE distance (P2)
    if fast:
        dist = make_pandas_cosine_distance_udf(query_vec)(F.col("embedding"))
    else:
        dist = cosine_distance_to_query(F.col("embedding"), query_vec)
    ranked = (
        df.select("vec_id", "label", dist.alias("_dist"))
        .filter(_valid_dist(F.col("_dist")))
        .orderBy(F.col("_dist").asc(), F.col("vec_id").asc())  # TakeOrderedAndProject
        .limit(k)
    )
    out_dist = F.col("_dist") if raw else F.round("_dist", 6)
    return ranked.select("vec_id", "label", out_dist.alias("dist"))


def knn_batch(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Per-query exact top-k, pure-DataFrame formulation (oracle-parity path).

    The reference's single-query search is the |Q|=1 case (SURVEY §2.3 J1); batching
    is the engine's native form. ``queries`` needs columns (query_id, query_vec).
    Output: (query_id, vec_id, label, dist, rank).
    """
    q = F.broadcast(queries.select("query_id", "query_vec"))
    pairs = embeddings.crossJoin(q).select(
        "query_id",
        "vec_id",
        "label",
        cosine_distance(F.col("embedding"), F.col("query_vec")).alias("_dist"),
    ).filter(_valid_dist(F.col("_dist")))
    win = Window.partitionBy("query_id").orderBy(F.col("_dist").asc(), F.col("vec_id").asc())
    return (
        pairs.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "label", F.round("_dist", 6).alias("dist"), "rank")
    )


MAX_BATCH_QUERIES = 65_536


def knn_batch_fast(embeddings: DataFrame, queries: DataFrame, k: int = 5) -> DataFrame:
    """Per-query exact top-k, scale path: map-side matmul + per-batch top-k
    (``arrowkit.batch_topk``, which states the cut and the tie order).

    Same results as ``knn_batch``; shuffle volume O(batches·Q·k) instead of
    O(N·Q). ``queries`` (query_id, query_vec) is read in one bounded job;
    duplicate query ids are rejected.
    """
    qrows = bounded_rows(
        queries, ("query_id", "query_vec"), MAX_BATCH_QUERIES,
        f">{MAX_BATCH_QUERIES} queries — split the query set",
        duplicate="duplicate query_id in the batch — per-query top-k is "
        "ill-defined; de-duplicate the query frame first",
        empty="empty query frame",
    )
    qmat = np.vstack([np.asarray(r["query_vec"], dtype=np.float64) for r in qrows])
    qnorm = np.linalg.norm(qmat, axis=1)
    bq = embeddings.sparkSession.sparkContext.broadcast((qmat, qnorm))

    def _screen(batch):
        mat, nrm = bq.value
        m, keep = fixed_matrix(batch.column("embedding"), mat.shape[1])
        return None if m is None else cosine_screen(m, keep, mat, nrm, True)

    ranked = batch_topk(
        embeddings.select("vec_id", "label", "embedding"), "vec_id",
        [r["query_id"] for r in qrows], k, _screen, carry=("label",),
    )
    return ranked.select(
        "query_id", "vec_id", "label", F.round("_dist", 6).alias("dist"), "rank"
    )


def mmr_rerank(
    candidates: DataFrame,
    embeddings: DataFrame,
    query_vec,
    k: int = 5,
    lambda_: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_candidates: int = 4096,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998) diversity
    re-ranking over a BOUNDED candidate set — the serving tail after any
    top-R retrieval (``knn_topk``, ``pq_topk(rerank=R)``, ``ivf_topk``):
    greedily pick the candidate maximizing
    ``lambda * sim(q, d) - (1 - lambda) * max_{s in picked} sim(d, s)``,
    so near-duplicate results stop crowding out distinct ones.
    ``lambda_=1`` reduces to plain relevance order.

    Scale shape: the candidate ids drive ONE broadcast semi-join into the
    (partition-prunable) float table, and the R surviving vectors collect
    to the driver — R is the caller's rerank budget, guarded at
    ``max_candidates``; the greedy loop is O(R·k) NumPy on R rows, the same
    driver footprint as the top-k merge every search already pays. Returns
    (id, sim, rank) with rank in MMR pick order; ties break to the lowest
    id (deterministic)."""
    if not 0.0 <= lambda_ <= 1.0:
        raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
    ids_df = candidates.select(id_col).distinct()
    rows = (
        embeddings.join(F.broadcast(ids_df), id_col)
        .select(id_col, vec_col)
        .limit(max_candidates + 1)
        .collect()
    )
    if len(rows) > max_candidates:
        raise ValueError(
            f"mmr_rerank: >{max_candidates} candidates — MMR is the tail "
            "AFTER a top-R retrieval; shrink R or raise max_candidates"
        )
    spark = candidates.sparkSession
    # Output id field copies the input's type (the pq_topk id_field
    # pattern) so string ids — e.g. the photo surfaces' `path` — work too.
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        StructField,
        StructType,
    )

    id_field = [f for f in candidates.schema.fields if f.name == id_col][0]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField("sim", DoubleType(), True),
            StructField("rank", IntegerType(), True),
        ]
    )
    if not rows:
        return spark.createDataFrame([], out_schema)
    # deterministic input order: greedy argmax ties resolve to lowest id
    rows = sorted(rows, key=lambda r: r[id_col])
    ids = [r[id_col] for r in rows]
    mat = np.vstack([np.asarray(r[vec_col], dtype=np.float64) for r in rows])
    mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-300)
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-300)
    rel = mat @ q
    picked: list[int] = []
    max_red = np.full(len(ids), -np.inf)
    out = []
    for rank in range(min(k, len(ids))):
        red = np.where(np.isinf(max_red), 0.0, max_red)
        score = lambda_ * rel - (1.0 - lambda_) * red
        score[picked] = -np.inf
        best = int(np.argmax(score))  # first (lowest-id) argmax on ties
        picked.append(best)
        out.append((ids[best], round(float(rel[best]), 6), rank + 1))
        max_red = np.maximum(max_red, mat @ mat[best])
    return spark.createDataFrame(out, out_schema)


def rocchio_expand(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    fb_k: int = 10,
    alpha: float = 1.0,
    beta: float = 0.75,
    gamma: float = 0.0,
    neg_k: int = 0,
    label: int | None = None,
) -> list[float]:
    """Rocchio (1971) pseudo-relevance feedback for DENSE retrieval — the
    vector-space dual of `bm25.rm3_expand`: pull the query toward the
    centroid of its own top ``fb_k`` neighbors (and, with ``gamma``/
    ``neg_k``, away from the centroid of the corpus' FARTHEST vectors):

        q' = alpha * q  +  beta * mean(top fb_k)  -  gamma * mean(bottom neg_k)

    Returns the expanded query vector (unnormalized — cosine is
    scale-invariant, and knn_topk normalizes inside the distance). The
    feedback sets are ``fb_k``/``neg_k`` driver-side rows; both passes are
    the knn_topk TakeOrdered plan — no new shuffle shapes. Deterministic
    and DuckDB-replayable (tests/test_rocchio.py twins the whole loop)."""
    import numpy as np

    if fb_k < 1:
        raise ValueError(f"fb_k must be >= 1, got {fb_k}")
    if neg_k < 0:
        raise ValueError(f"neg_k must be >= 0, got {neg_k}")
    if gamma != 0.0 and neg_k == 0:
        raise ValueError("gamma != 0 needs neg_k > 0 (a negative set)")
    q = np.asarray(query_vec, dtype=np.float64)
    fb_ids = [
        r["vec_id"] for r in knn_topk(embeddings, query_vec, k=fb_k, label=label).collect()
    ]
    if not fb_ids:
        return [float(v) for v in q]
    fb = (
        embeddings.filter(F.col("vec_id").isin(fb_ids))
        .select(F.col("embedding").cast("array<double>"))
        .collect()
    )
    centroid = np.mean([np.asarray(r[0]) for r in fb], axis=0)
    out = alpha * q + beta * centroid
    if neg_k > 0 and gamma != 0.0:
        # the negative pass honors the same `label` scope as the positive
        # pass (ADVICE r11): with a filter set, negatives must come from the
        # SAME searchable subset, or the query is pushed away from vectors
        # the final knn_topk(label=...) could never return anyway
        neg_pool = embeddings
        if label is not None:
            neg_pool = neg_pool.filter(F.col("label") == label)
        worst = (
            neg_pool.select(
                "vec_id",
                cosine_distance_to_query(F.col("embedding"), query_vec).alias(
                    "_d"
                ),
            )
            .filter(_valid_dist(F.col("_d")))
            .orderBy(F.col("_d").desc(), F.col("vec_id").asc())
            .limit(neg_k)
            .collect()
        )
        neg_ids = [r["vec_id"] for r in worst]
        neg = (
            neg_pool.filter(F.col("vec_id").isin(neg_ids))
            .select(F.col("embedding").cast("array<double>"))
            .collect()
        )
        out = out - gamma * np.mean([np.asarray(r[0]) for r in neg], axis=0)
    return [float(v) for v in out]


def rocchio_batch_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    fb_k: int = 10,
    alpha: float = 1.0,
    beta: float = 0.75,
    gamma: float = 0.0,
    neg_k: int = 0,
    label: int | None = None,
    max_queries: int = 4096,
) -> DataFrame:
    """Batched Rocchio: Q feedback queries share corpus passes instead of
    paying 2Q of them — (query_id, vec_id, label, dist, rank), ≡ a Python
    loop of ``rocchio_topk`` per query (pinned in tests).

    Shape (the bm25_batch_topk discipline): ONE batched feedback pass
    (`knn_batch_fast` — map-side matmul, shuffle O(batches·Q·fb_k)), one
    BOUNDED fetch of the union of feedback vectors (≤ Q·fb_k rows), the
    centroid mix driver-side in NumPy, then ONE batched final pass with the
    expanded query matrix. With ``gamma``/``neg_k`` the negative sets come
    from a third shared pass over NEGATED query vectors: dist(−q, d) =
    2 − dist(q, d), so ascending order under −q IS farthest-first under q
    with the same vec_id tie-break — no separate bottom-k operator needed.
    ``label`` scopes every pass (feedback, negative, final) to the same
    searchable subset, matching the per-query operator."""
    import numpy as np

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if fb_k < 1:
        raise ValueError(f"fb_k must be >= 1, got {fb_k}")
    if neg_k < 0:
        raise ValueError(f"neg_k must be >= 0, got {neg_k}")
    if gamma != 0.0 and neg_k == 0:
        raise ValueError("gamma != 0 needs neg_k > 0 (a negative set)")
    qrows = bounded_rows(
        queries, ("query_id", "query_vec"), max_queries,
        f">{max_queries} queries — split the batch or raise max_queries",
        duplicate="duplicate query_id in the batch — per-query feedback is "
        "ill-defined; de-duplicate the query frame first",
        empty="empty query frame",
    )
    qids = [r["query_id"] for r in qrows]
    qmat = {
        r["query_id"]: np.asarray(r["query_vec"], dtype=np.float64)
        for r in qrows
    }
    pool = embeddings
    if label is not None:
        pool = pool.filter(F.col("label") == label)
    spark = embeddings.sparkSession

    def _vec_lookup(ids: set) -> dict:
        """Bounded fetch: the union of feedback ids (≤ Q·fb_k rows)."""
        if not ids:
            return {}
        rows = (
            pool.filter(F.col("vec_id").isin(list(ids)))
            .select("vec_id", F.col("embedding").cast("array<double>"))
            .collect()
        )
        return {r[0]: np.asarray(r[1], dtype=np.float64) for r in rows}

    fb_run = knn_batch_fast(pool, queries, k=fb_k).select(
        "query_id", "vec_id"
    ).collect()
    fb_ids: dict = {}
    for r in fb_run:
        fb_ids.setdefault(r["query_id"], []).append(r["vec_id"])
    fb_vecs = _vec_lookup({v for ids in fb_ids.values() for v in ids})

    neg_ids: dict = {}
    neg_vecs: dict = {}
    if neg_k > 0 and gamma != 0.0:
        negated = spark.createDataFrame(
            [(qid, [float(-x) for x in vec]) for qid, vec in qmat.items()],
            "query_id long, query_vec array<double>",
        )
        neg_run = knn_batch_fast(pool, negated, k=neg_k).select(
            "query_id", "vec_id"
        ).collect()
        for r in neg_run:
            neg_ids.setdefault(r["query_id"], []).append(r["vec_id"])
        neg_vecs = _vec_lookup({v for ids in neg_ids.values() for v in ids})

    expanded = []
    for qid in qids:
        q = qmat[qid]
        ids = fb_ids.get(qid, [])
        if not ids:
            out = q
        else:
            centroid = np.mean([fb_vecs[i] for i in ids], axis=0)
            out = alpha * q + beta * centroid
            nids = neg_ids.get(qid, [])
            if nids:
                out = out - gamma * np.mean(
                    [neg_vecs[i] for i in nids], axis=0
                )
        expanded.append((qid, [float(v) for v in out]))
    exp_df = spark.createDataFrame(
        expanded, "query_id long, query_vec array<double>"
    )
    return knn_batch_fast(pool, exp_df, k=k)


def rocchio_topk(
    embeddings: DataFrame,
    query_vec: Sequence[float],
    k: int = 5,
    fb_k: int = 10,
    alpha: float = 1.0,
    beta: float = 0.75,
    gamma: float = 0.0,
    neg_k: int = 0,
    label: int | None = None,
) -> DataFrame:
    """Feedback-expanded exact top-k: rocchio_expand then knn_topk — two
    TakeOrdered passes over the corpus, the standard price of
    pseudo-relevance feedback (the RM3 shape on the dense side)."""
    q2 = rocchio_expand(
        embeddings, query_vec, fb_k=fb_k, alpha=alpha, beta=beta,
        gamma=gamma, neg_k=neg_k, label=label,
    )
    return knn_topk(embeddings, q2, k=k, label=label)
