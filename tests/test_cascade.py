"""Cascade serving (`operators/cascade`): full-pool exactness vs knn,
pool monotonicity, realistic-pool recall, first-stage prefilter semantics,
persisted two-store composition, and guards."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.bq import build_bq_store, encode_bq, fit_bq
from photo_vector_search_spark.operators.cascade import (
    cascade_store_topk,
    cascade_topk,
)
from photo_vector_search_spark.operators.knn import knn_topk
from photo_vector_search_spark.operators.sq import build_sq8_store, encode_sq8, fit_sq8
from photo_vector_search_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def ladder(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    bq_model = fit_bq(emb)
    coded_bq = encode_bq(emb, bq_model).select("vec_id", "label", "bq").cache()
    sq8_model = fit_sq8(emb)
    coded_sq8 = (
        encode_sq8(emb, sq8_model).select("vec_id", "label", "sq8").cache()
    )
    coded_bq.count(), coded_sq8.count()
    yield emb, bq_model, coded_bq, sq8_model, coded_sq8
    coded_bq.unpersist(), coded_sq8.unpersist()


def test_full_pools_reproduce_exact_knn(ladder):
    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    n = emb.count()
    q = emb.filter(F.col("vec_id") == 3).first()["embedding"]
    got = cascade_topk(
        coded_bq, bq_model, coded_sq8, sq8_model, emb, q, k=5, c1=n, c2=n
    ).toPandas()
    want = knn_topk(emb, q, k=5).toPandas()
    assert got[["vec_id", "label", "dist"]].values.tolist() == (
        want[["vec_id", "label", "dist"]].values.tolist()
    )


def test_pool_widening_is_monotone(ladder):
    """Wider pools search candidate SUPERSETS, so each final distance can
    only improve (deterministic, not statistical)."""
    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    q = emb.filter(F.col("vec_id") == 7).first()["embedding"]
    narrow = cascade_topk(
        coded_bq, bq_model, coded_sq8, sq8_model, emb, q, k=5, c1=50, c2=20
    ).toPandas()
    wide = cascade_topk(
        coded_bq, bq_model, coded_sq8, sq8_model, emb, q, k=5, c1=200, c2=80
    ).toPandas()
    for dw, dn in zip(wide.dist, narrow.dist):
        assert dw <= dn + 1e-12


def test_realistic_pools_recall(ladder):
    """c1=100, c2=30 over 500 vectors: ≥ 4/5 overlap with exact top-5
    across several queries (the sq/pq recall bar)."""
    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    hits = total = 0
    for qid in (0, 11, 42, 123):
        q = emb.filter(F.col("vec_id") == qid).first()["embedding"]
        got = {
            r["vec_id"]
            for r in cascade_topk(
                coded_bq, bq_model, coded_sq8, sq8_model, emb, q,
                k=5, c1=100, c2=30,
            ).collect()
        }
        want = {r["vec_id"] for r in knn_topk(emb, q, k=5).collect()}
        hits += len(got & want)
        total += 5
    assert hits / total >= 0.8, f"cascade recall {hits}/{total}"


def test_prefilter_applies_at_stage_one(ladder):
    """Filtered cascade with full pools ≡ the exact filtered knn — the
    predicate restricts the candidate space, not the result post-hoc."""
    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    n = emb.count()
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    got = cascade_topk(
        coded_bq, bq_model, coded_sq8, sq8_model,
        emb.filter(F.col("label") == 5), q, k=5, c1=n, c2=n,
        prefilter=F.col("label") == 5,
    ).toPandas()
    want = knn_topk(emb, q, k=5, label=5).toPandas()
    assert got[["vec_id", "dist"]].values.tolist() == (
        want[["vec_id", "dist"]].values.tolist()
    )
    # every survivor satisfies the predicate
    assert set(got.label) == {5}


def test_persisted_two_store_cascade(spark, sf_dir, tmp_path, ladder):
    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    bq_path = str(tmp_path / "bq")
    sq8_path = str(tmp_path / "sq8")
    build_bq_store(emb, bq_path)
    build_sq8_store(emb, sq8_path)
    q = emb.filter(F.col("vec_id") == 3).first()["embedding"]
    got = cascade_store_topk(
        spark, bq_path, sq8_path, emb, q, k=5, c1=100, c2=30
    ).toPandas()
    want = cascade_topk(
        coded_bq, bq_model, coded_sq8, sq8_model, emb, q, k=5, c1=100, c2=30
    ).toPandas()
    assert got.values.tolist() == want.values.tolist()

    # a torn BQ store refuses the whole cascade
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    snapshot_overwrite(
        spark.createDataFrame(
            [("thresholds", [0.0] * 64, "deadbeefdeadbeef")],
            "kind string, vec array<double>, build_id string",
        ),
        bq_path + ".bqmeta",
    )
    with pytest.raises(ValueError, match="crashed between"):
        cascade_store_topk(spark, bq_path, sq8_path, emb, q, k=5)


def test_guards(ladder):
    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    q = emb.first()["embedding"]
    with pytest.raises(ValueError, match="pools must nest"):
        cascade_topk(
            coded_bq, bq_model, coded_sq8, sq8_model, emb, q, k=5, c1=10, c2=20
        )
    with pytest.raises(ValueError, match="pools must nest"):
        cascade_topk(
            coded_bq, bq_model, coded_sq8, sq8_model, emb, q, k=10, c1=50, c2=5
        )
    with pytest.raises(ValueError, match="k must be"):
        cascade_topk(
            coded_bq, bq_model, coded_sq8, sq8_model, emb, q, k=0
        )


def test_batch_cascade_equals_single_loop(ladder):
    """cascade_batch_topk ≡ a Python loop of cascade_topk per query —
    shared passes change the cost, never the values."""
    from photo_vector_search_spark.operators.cascade import cascade_batch_topk

    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    queries = emb.filter(F.col("vec_id").isin([0, 7, 42])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    got = (
        cascade_batch_topk(
            coded_bq, bq_model, coded_sq8, sq8_model, emb, queries,
            k=4, c1=100, c2=30,
        )
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    rows = []
    for r in queries.collect():
        one = cascade_topk(
            coded_bq, bq_model, coded_sq8, sq8_model, emb,
            r["query_vec"], k=4, c1=100, c2=30,
        ).toPandas()
        for _, x in one.iterrows():
            rows.append(
                (r["query_id"], x.vec_id, x.label, x.dist, x["rank"])
            )
    want = sorted(rows, key=lambda t: (t[0], t[4]))
    assert list(map(tuple, got.values.tolist())) == want


def test_batch_cascade_reads_the_query_frame_once(spark, ladder):
    """Building the batch cascade reads a list-built query frame in one
    Spark job: the Hamming stage is handed the rows the cascade read."""
    from photo_vector_search_spark.operators.cascade import cascade_batch_topk
    from tests.test_store_maintenance import _jobs

    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    vecs = [
        (r["vec_id"], [float(v) for v in r["embedding"]])
        for r in emb.filter(F.col("vec_id") < 4).collect()
    ]
    queries = spark.createDataFrame(vecs, "query_id long, query_vec array<double>")
    frame, jobs = _jobs(
        spark, cascade_batch_topk, coded_bq, bq_model, coded_sq8, sq8_model,
        emb, queries, 3, 20, 10,
    )
    assert jobs == 1
    assert frame.count() == 4 * 3


def test_batch_cascade_guards(ladder):
    from photo_vector_search_spark.operators.cascade import cascade_batch_topk

    emb, bq_model, coded_bq, sq8_model, coded_sq8 = ladder
    dup = emb.filter(F.col("vec_id") < 2).select(
        F.lit(1).alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    with pytest.raises(ValueError, match="duplicate query_id"):
        cascade_batch_topk(
            coded_bq, bq_model, coded_sq8, sq8_model, emb, dup, k=2
        )
    ok = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("query_vec"),
    )
    with pytest.raises(ValueError, match="pools must nest"):
        cascade_batch_topk(
            coded_bq, bq_model, coded_sq8, sq8_model, emb, ok,
            k=5, c1=10, c2=20,
        )
