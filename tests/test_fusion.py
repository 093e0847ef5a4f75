"""Reciprocal Rank Fusion: hand-computed paper-formula values, a DuckDB
twin over two real rankers (vector knn + BM25), weighted fusion, per-run
duplicate collapse, top_n, validation, and composition with the retrieval
metrics operator."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.bm25 import bm25_topk
from photo_vector_search_spark.operators.evaluation import retrieval_metrics
from photo_vector_search_spark.operators.fusion import rrf_fuse
from photo_vector_search_spark.operators.knn import knn_batch
from photo_vector_search_spark.sources.tables import load_table


def _run(spark, rows):
    return spark.createDataFrame(
        pd.DataFrame(rows, columns=["query_id", "doc_id", "rank"])
    )


def test_hand_computed_paper_formula(spark):
    a = _run(spark, [(1, "x", 1), (1, "y", 2), (1, "z", 3)])
    b = _run(spark, [(1, "y", 1), (1, "x", 2), (1, "w", 3)])
    out = {r["doc_id"]: r.asDict() for r in rrf_fuse([a, b], k=60).collect()}
    assert set(out) == {"x", "y", "z", "w"}
    assert out["x"]["rrf_score"] == pytest.approx(
        round(1 / 61 + 1 / 62, 6), abs=1e-6
    )
    assert out["y"]["rrf_score"] == pytest.approx(
        round(1 / 62 + 1 / 61, 6), abs=1e-6
    )
    assert out["z"]["rrf_score"] == pytest.approx(round(1 / 63, 6), abs=1e-6)
    # x and y tie exactly; the deterministic tiebreak is ascending doc id
    assert out["x"]["rank"] == 1 and out["y"]["rank"] == 2
    assert out["z"]["rank"] > out["w"]["rank"]  # 1/63 < 1/63... equal ranks 3
    # both singles scored 1/63: tie broken by id ('w' < 'z')
    assert out["w"]["rank"] == 3 and out["z"]["rank"] == 4


def test_weights_and_topn(spark):
    a = _run(spark, [(1, "x", 1), (1, "y", 2)])
    b = _run(spark, [(1, "y", 1), (1, "x", 2)])
    out = {
        r["doc_id"]: r.asDict()
        for r in rrf_fuse([a, b], k=10, weights=[2.0, 1.0]).collect()
    }
    assert out["x"]["rrf_score"] == pytest.approx(
        round(2 / 11 + 1 / 12, 6), abs=1e-6
    )
    assert out["x"]["rank"] == 1  # the doubled run dominates
    top1 = rrf_fuse([a, b], k=10, weights=[2.0, 1.0], top_n=1).collect()
    assert len(top1) == 1 and top1[0]["doc_id"] == "x"


def test_duplicates_within_a_run_collapse(spark):
    clean = _run(spark, [(1, "x", 1), (1, "y", 2)])
    dup = _run(spark, [(1, "x", 1), (1, "x", 2), (1, "y", 2), (1, "y", 2)])
    want = sorted(map(tuple, rrf_fuse([clean], k=60).collect()))
    got = sorted(map(tuple, rrf_fuse([dup], k=60).collect()))
    assert got == want


def test_fuses_real_vector_and_lexical_runs_matches_duckdb(spark, sf_correct):
    """End-to-end hybrid: knn_batch over embeddings + bm25_topk over
    documents, fused; DuckDB recomputes the fusion from the SAME two rank
    lists (the fusion math is the twin target — the input rankers have
    their own declared oracles)."""
    emb = load_table(spark, sf_correct, "embeddings")
    docs = load_table(spark, sf_correct, "documents")
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    vec_run = knn_batch(emb, queries, k=8).select(
        "query_id", F.col("vec_id").alias("doc_id"), "rank"
    )
    lex = bm25_topk(docs, "the quick brown fox", k=8).select(
        F.col("doc_id"), "rank"
    )
    # same lexical list replicated per query (a one-query ranker fanned out)
    lex_run = queries.select("query_id").crossJoin(lex)

    fused = rrf_fuse([vec_run, lex_run], k=60)
    got = fused.toPandas()

    con = duckdb.connect()
    try:
        con.register("va", vec_run.toPandas())
        con.register("lx", lex_run.toPandas())
        want = con.execute(
            """
            WITH u AS (
              SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM va
              UNION ALL
              SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM lx
            ),
            s AS (SELECT query_id, doc_id, round(sum(c), 6) AS rrf_score
                  FROM u GROUP BY query_id, doc_id)
            SELECT query_id, doc_id, rrf_score,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
            FROM s
            """
        ).fetchdf()
    finally:
        con.close()
    cols = ["query_id", "doc_id", "rrf_score", "rank"]
    a = sorted(map(tuple, got[cols].astype(str).itertuples(index=False)))
    b = sorted(map(tuple, want[cols].astype(str).itertuples(index=False)))
    assert len(a) == len(b) > 0
    assert a == b

    # fuse -> evaluate composes: gold = same-label leave-one-out docs
    gold = vec_run.select("query_id", "doc_id")  # self-gold: sanity only
    per_q = retrieval_metrics(fused, gold, k=8, doc_col="doc_id")
    assert per_q.count() == 4


def test_validation(spark):
    a = _run(spark, [(1, "x", 1)])
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="k must"):
        rrf_fuse([a], k=0)
    with pytest.raises(ValueError, match="weights"):
        rrf_fuse([a, a], weights=[1.0])
    with pytest.raises(ValueError, match="top_n"):
        rrf_fuse([a], top_n=0)


def test_hybrid_store_search_composes_the_store_runs(
    spark, sf_correct, tmp_path
):
    """All-store hybrid serving: dense from the IVF,SQ8 store + lexical
    from the BM25 postings store, fused by RRF — ≡ fusing the two store
    runs by hand with `rrf_fuse`, row for row and in schema, with no
    corpus frame touched at serve time."""
    from photo_vector_search_spark.operators.bm25_store import (
        bm25_store_topk,
        build_bm25_store,
    )
    from photo_vector_search_spark.operators.fusion import hybrid_store_search
    from photo_vector_search_spark.operators.sq import (
        build_ivf_sq8_store,
        ivf_sq8_store_topk,
    )
    from photo_vector_search_spark.pipelines.embed import stub_embedding_expr

    docs = load_table(spark, sf_correct, "documents")
    emb = load_table(spark, sf_correct, "embeddings")
    bm25_path = str(tmp_path / "bm25")
    vec_path = str(tmp_path / "ivfsq8")
    build_bm25_store(docs, bm25_path)
    build_ivf_sq8_store(emb, vec_path, n_clusters=8)

    query = "the quick brown fox"
    hybrid = hybrid_store_search(
        spark, bm25_path, vec_path, query, k=5, pool=15, nprobe=4
    )
    got = [tuple(r) for r in hybrid.collect()]
    assert len(got) == 5

    qv = [
        float(v)
        for v in spark.range(1)
        .select(stub_embedding_expr(F.lit(query)).alias("qv"))
        .first()["qv"]
    ]
    vec_run = ivf_sq8_store_topk(spark, vec_path, qv, k=15, nprobe=4).select(
        F.lit(0).alias("query_id"), F.col("vec_id").alias("doc_id"), "rank"
    )
    lex_run = bm25_store_topk(spark, bm25_path, query, k=15).select(
        F.lit(0).alias("query_id"), "doc_id", "rank"
    )
    fused = rrf_fuse([vec_run, lex_run], top_n=5).select(
        "doc_id", "rrf_score", "rank"
    )
    assert got == [tuple(r) for r in fused.collect()]
    assert hybrid.schema == fused.schema

    with pytest.raises(ValueError, match="pool"):
        hybrid_store_search(spark, bm25_path, vec_path, query, k=5, pool=3)
    with pytest.raises(ValueError, match="weights"):
        hybrid_store_search(
            spark, bm25_path, vec_path, query, weights=(1.0,)
        )
