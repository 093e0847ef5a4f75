"""Cascade (multi-stage) ANN serving: 1-bit Hamming shortlist → SQ8
asymmetric rerank → exact float rerank — the production retrieval funnel
that reads the cheapest representation first and touches floats only for
a bounded candidate pool (the FAISS/ScaNN two-level rerank pattern,
composed here from the engine's own ladder rungs `operators/bq` and
`operators/sq`).

Why a cascade at 100 TB: the 1-bit codes are 64× smaller than float64 and
their scan is pure whole-stage codegen (`bit_count(code XOR q)` into
TakeOrderedAndProject — zero exchanges, zero Python); SQ8 then re-scores
only the c1-row shortlist (broadcast-size join against the 8× codes); the
exact pass reads c2 float rows. Total float bytes read: c2 vectors,
regardless of corpus size.

Pool semantics are MONOTONE: widening c1/c2 can only improve the final
top-k (candidate supersets), and c1 = c2 = N reproduces exact knn bit for
bit — both pinned in tests/test_cascade.py.

``prefilter`` (an arbitrary boolean Column over the BQ frame's columns)
applies at the FIRST stage — the filtered-search discipline: filtering
after shortlisting collapses recall for selective predicates, filtering
before the cheapest scan costs nothing (it rides the same codegen stage).

Cf. reference scope: the reference's single HNSW index serves raw floats
(photo_vector_search.py:17-20); this is the storage/serving-axis extension
of the mandated similarity-search family (SURVEY §2.10).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.arrowkit import bounded_rows

from .bq import BQModel, hamming_expr, encode_query, load_bq_store
from .sq import SQ8Model, load_sq8_store, sq8_topk


def cascade_topk(
    coded_bq: DataFrame,
    bq_model: BQModel,
    coded_sq8: DataFrame,
    sq8_model: SQ8Model,
    source: DataFrame,
    query_vec,
    k: int = 5,
    c1: int = 200,
    c2: int = 50,
    prefilter: Column | None = None,
    vec_col: str = "embedding",
) -> DataFrame:
    """Three-stage cascade top-k — (vec_id, label, dist, rank) with the
    EXACT cosine distance of the final pass (the sq8_topk rerank contract).
    ``coded_bq``/``coded_sq8`` carry (vec_id, label, bq)/(vec_id, label,
    sq8); ``source`` carries the floats for the exact tail. Pools must
    nest: k ≤ c2 ≤ c1."""
    if not k >= 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not k <= c2 <= c1:
        raise ValueError(f"pools must nest: k={k} <= c2={c2} <= c1={c1}")
    qwords = encode_query(bq_model, query_vec)
    stage1 = coded_bq.filter(F.col("bq").isNotNull())
    if prefilter is not None:
        stage1 = stage1.filter(prefilter)
    shortlist = (
        stage1.select("vec_id", hamming_expr("bq", qwords).alias("_h"))
        .orderBy(F.col("_h").asc(), F.col("vec_id").asc())
        .limit(c1)
        .select("vec_id")
    )
    pool_sq8 = coded_sq8.join(F.broadcast(shortlist), "vec_id")
    return sq8_topk(
        pool_sq8,
        sq8_model,
        query_vec,
        k=k,
        rerank=c2,
        vec_col=vec_col,
        rerank_source=source,
    )


def cascade_store_topk(
    spark,
    bq_path: str,
    sq8_path: str,
    source: DataFrame,
    query_vec,
    k: int = 5,
    c1: int = 200,
    c2: int = 50,
    prefilter: Column | None = None,
) -> DataFrame:
    """One-call cascade over the two PERSISTED code stores (each loaded
    under its own crash-consistency contract — a torn pair in either store
    refuses the whole cascade). The at-rest serving shape: 1-bit codes
    scanned, 8-bit codes read for c1 rows, floats for c2."""
    coded_bq, bq_model = load_bq_store(spark, bq_path)
    coded_sq8, sq8_model = load_sq8_store(spark, sq8_path)
    return cascade_topk(
        coded_bq,
        bq_model,
        coded_sq8,
        sq8_model,
        source,
        query_vec,
        k=k,
        c1=c1,
        c2=c2,
        prefilter=prefilter,
    )


def cascade_batch_topk(
    coded_bq: DataFrame,
    bq_model: BQModel,
    coded_sq8: DataFrame,
    sq8_model: SQ8Model,
    source: DataFrame,
    queries: DataFrame,
    k: int = 5,
    c1: int = 200,
    c2: int = 50,
    vec_col: str = "embedding",
    max_queries: int = 4096,
) -> DataFrame:
    """Batched cascade: Q queries share ONE pass over each representation —
    (query_id, vec_id, label, dist, rank) with the exact cosine of the
    final pass. Stage 1: `hamming_batch_topk` top-c1 per query (one codes
    pass, O(batches·Q·c1) survivors); stage 2: the per-query shortlists
    join the SQ8 codes by vec_id (≤ Q·c1 rows — candidate rows, never the
    corpus) and one Arrow kernel decodes+scores each row against its own
    query; stage 3: the per-query top-c2 joins the float source for the
    exact tail. Result ≡ a Python loop of `cascade_topk` per query (pinned
    in tests). Duplicate query ids are rejected (the batched-serving
    contract)."""
    import numpy as np
    import pyarrow as pa

    from ..functions.arrowkit import fixed_matrix, rank_per_query
    from ..functions.vector import cosine_distance
    from ..operators.bq import hamming_batch_topk
    from ..operators.knn import _valid_dist

    if not k >= 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if not k <= c2 <= c1:
        raise ValueError(f"pools must nest: k={k} <= c2={c2} <= c1={c1}")
    qrows = bounded_rows(
        queries, ("query_id", "query_vec"), max_queries,
        f"cascade_batch_topk: >{max_queries} queries — split the query "
        "set or raise max_queries",
    )
    # stage 1: shared-pass Hamming shortlist per query (dup ids rejected
    # inside hamming_batch_topk)
    shortlist = hamming_batch_topk(
        coded_bq, bq_model, queries, k=c1
    ).select("query_id", "vec_id")

    # stage 2: SQ8 re-score of the per-query candidate rows
    qids = [int(r["query_id"]) for r in qrows]
    qmat = np.vstack(
        [np.asarray(r["query_vec"], dtype=np.float64) for r in qrows]
    )
    qnorms = np.linalg.norm(qmat, axis=1)
    if not (qnorms > 0).all():
        bad = [q for q, n in zip(qids, qnorms) if not n > 0]
        raise ValueError(f"queries {bad} have non-positive norm")
    qindex = {q: i for i, q in enumerate(qids)}
    sc = coded_sq8.sparkSession.sparkContext
    b = sc.broadcast((sq8_model.vmin, sq8_model.scale, qmat, qnorms, qindex))

    cand = shortlist.join(
        coded_sq8.select("vec_id", "label", F.col("sq8").alias("_code")),
        "vec_id",
    )

    def _score(batches):
        vmin, step, qm, qn, qi = b.value
        for batch in batches:
            codes, keep = fixed_matrix(batch.column("_code"), len(vmin))
            if codes is None:
                continue
            rows = np.flatnonzero(keep)
            qid = batch.column("query_id").to_numpy()[rows]
            rows_q = np.asarray([qi[q] for q in qid.tolist()], dtype=np.int64)
            x = vmin + codes * step
            with np.errstate(divide="ignore", invalid="ignore"):
                dots = np.einsum("ij,ij->i", x, qm[rows_q])
                dist = 1.0 - dots / (np.linalg.norm(x, axis=1) * qn[rows_q])
            fin = np.isfinite(dist)
            yield pa.record_batch(
                [
                    pa.array(qid[fin]),
                    batch.column("vec_id").take(pa.array(rows[fin])),
                    pa.array(dist[fin]),
                ],
                names=["query_id", "vec_id", "_d8"],
            )

    scored = cand.select("query_id", "vec_id", "_code").mapInArrow(
        _score, schema="query_id long, vec_id long, _d8 double"
    )
    pool = rank_per_query(scored, "_d8", "vec_id", c2).select(
        "query_id", "vec_id"
    )

    # stage 3: exact tail from the float source (<= Q*c2 rows)
    qvecs = (
        queries.sparkSession.createDataFrame(
            [(int(q), [float(v) for v in vec]) for q, vec in (
                (r["query_id"], r["query_vec"]) for r in qrows
            )],
            "query_id long, _qv array<double>",
        )
    )
    exact = (
        pool.join(source.select("vec_id", "label", vec_col), "vec_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "vec_id",
            "label",
            cosine_distance(
                F.col(vec_col).cast("array<double>"), F.col("_qv")
            ).alias("_dist"),
        )
        .filter(_valid_dist(F.col("_dist")))
    )
    return rank_per_query(exact, "_dist", "vec_id", k).select(
        "query_id", "vec_id", "label", F.round("_dist", 6).alias("dist"), "rank"
    )
