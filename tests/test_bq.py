"""Binary quantization (1-bit sign codes) + Hamming serving rung
(`operators/bq`): DuckDB oracle of the declared query, NumPy twins of the
packing/popcount kernels, ladder parity (rerank ≡ exact knn), batch ≡
single-query loop, NULL/guard discipline, and the persisted store's
crash-consistency contract."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.bq import (
    BQModel,
    _pack_rows,
    _popcount64,
    bq_store_topk,
    build_bq_store,
    encode_bq,
    encode_query,
    fit_bq,
    hamming_batch_topk,
    hamming_topk,
    load_bq_store,
)
from photo_vector_search_spark.sources.tables import load_table
from tests.oracle import assert_matches, run_oracle


@pytest.fixture(scope="module")
def fitted(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    model = fit_bq(emb)
    coded = encode_bq(emb, model).cache()
    coded.count()
    yield emb, model, coded
    coded.unpersist()


def test_declared_hamming_topk_matches_oracle(spark, sf_dir):
    """The declared query (fit → encode → codegen Hamming top-8) against the
    DuckDB sign-mismatch oracle — the packed representation is value-checked
    end to end (same compare the driver runs)."""
    import __spark_entry__ as m

    assert_matches(
        m.queries()["hamming_topk"](spark, sf_dir),
        m.oracle_sql()["hamming_topk"],
        sf_dir,
    )


def test_thresholds_match_duckdb_means(spark, sf_dir, fitted):
    """fit_bq's partial-sums mean (rounded half-away 6dp) agrees with
    DuckDB's avg per component — the engine-portable sign boundary."""
    _, model, _ = fitted
    got = run_oracle(
        """
        WITH e AS (SELECT embedding::DOUBLE[] AS v FROM embeddings),
        c AS (SELECT r.range AS i, round(avg(v[r.range]), 6) AS a
              FROM e, range(1, 65) r GROUP BY 1)
        SELECT a FROM c ORDER BY i
        """,
        sf_dir,
    )["a"].to_numpy()
    assert np.array_equal(model.thresholds, got)


def test_hamming_matches_numpy_twin(fitted):
    """Engine Hamming (packed XOR+bit_count codegen) == direct sign-mismatch
    count computed by an independent NumPy walk, over every row."""
    emb, model, coded = fitted
    pdf = emb.toPandas().sort_values("vec_id").reset_index(drop=True)
    X = np.vstack(pdf.embedding.to_numpy()).astype(np.float64)
    q = X[0]
    bits = X > model.thresholds
    want = (bits != (q > model.thresholds)).sum(axis=1)
    n = len(pdf)
    got = (
        hamming_topk(coded, model, q, k=n)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    assert np.array_equal(got["hamming"].to_numpy(), want)


def test_rerank_full_pool_equals_exact_knn(fitted):
    """Hamming coarse pass + exact rerank with pool == corpus must equal the
    exact knn bit for bit — the ladder's correctness anchor (the sq8/pq
    contract)."""
    from photo_vector_search_spark.operators.knn import knn_topk

    emb, model, coded = fitted
    q = emb.filter(F.col("vec_id") == 3).first()["embedding"]
    n = coded.count()
    got = hamming_topk(coded, model, q, k=5, rerank=n).toPandas()
    want = knn_topk(emb, q, k=5).toPandas()
    assert got[["vec_id", "label", "dist"]].values.tolist() == (
        want[["vec_id", "label", "dist"]].values.tolist()
    )


def test_batch_equals_single_query_loop(fitted):
    """hamming_batch_topk ≡ a Python loop of hamming_topk per query."""
    emb, model, coded = fitted
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    got = (
        hamming_batch_topk(coded, model, queries, k=3)
        .toPandas()
        .sort_values(["query_id", "rank"])
        .reset_index(drop=True)
    )
    rows = []
    for r in queries.collect():
        one = hamming_topk(coded, model, r["query_vec"], k=3).toPandas()
        for _, x in one.iterrows():
            rows.append(
                (r["query_id"], x.vec_id, x.label, x.hamming, x["rank"])
            )
    want = sorted(rows, key=lambda t: (t[0], t[4]))
    assert list(map(tuple, got.values.tolist())) == want


def test_batch_rejects_duplicate_query_ids(fitted):
    emb, model, coded = fitted
    dup = emb.filter(F.col("vec_id") < 2).select(
        F.lit(7).alias("query_id"), F.col("embedding").alias("query_vec")
    )
    with pytest.raises(ValueError, match="duplicate query_id"):
        hamming_batch_topk(coded, model, dup, k=2)


def test_batch_hamming_exact_on_full_64_bit_words(spark):
    """Packed words use all 64 bits. Stacked through float64, a word with
    bit 63 set loses its low bits past 2^53, and these four words would
    score alike; the batch kernel stacks them as exact int64."""
    import pyarrow as pa

    from photo_vector_search_spark.functions.arrowkit import (
        fixed_matrix,
        local_frame,
    )

    w = -(2**63) + 2**53 + 1
    words = [w, w ^ 1, w + 2, w ^ (1 << 62)]
    col = pa.array([[x] for x in words] + [None], type=pa.list_(pa.int64()))
    mat, keep = fixed_matrix(col, 1, np.int64)
    assert mat[:, 0].tolist() == words and keep.tolist() == [True] * 4 + [False]

    coded = local_frame(
        spark, [(i, 0, [x]) for i, x in enumerate(words)],
        "vec_id long, label int, bq array<bigint>",
    )
    queries = local_frame(
        spark, [(0, [-1.0] * 64)], "query_id long, query_vec array<double>"
    )
    got = {
        r["vec_id"]: r["hamming"]
        for r in hamming_batch_topk(
            coded, BQModel(np.zeros(64)), queries, k=4
        ).collect()
    }
    # the all-negative query packs to word 0: Hamming is the popcount
    assert got == {i: bin(x % 2**64).count("1") for i, x in enumerate(words)}
    assert sorted(got.values()) == [2, 3, 4, 4]


def test_null_vectors_never_rank(spark, fitted):
    """NULL embedding → NULL code at encode; NULL codes are filtered before
    scoring (the knn/sq8 discipline)."""
    emb, model, _ = fitted
    with_null = emb.unionByName(
        spark.createDataFrame(
            [(999_999, None, 0)], "vec_id long, embedding array<float>, label int"
        )
    )
    coded = encode_bq(with_null, model)
    assert (
        coded.filter(F.col("vec_id") == 999_999).first()["bq"] is None
    )
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]
    n = coded.count()
    got = hamming_topk(coded, model, q, k=n).toPandas()
    assert 999_999 not in set(got["vec_id"])


def test_codes_only_rerank_needs_source(fitted):
    emb, model, coded = fitted
    codes_only = coded.select("vec_id", "label", "bq")
    q = emb.first()["embedding"]
    with pytest.raises(ValueError, match="rerank_source"):
        hamming_topk(codes_only, model, q, k=3, rerank=10)


def test_non_multiple_of_64_dims_pad_correctly(spark):
    """d=70 → 2 words, pad bits zero on BOTH sides so padding never
    contributes to the XOR popcount; engine Hamming == NumPy mismatch count."""
    rng = np.random.default_rng(11)
    X = rng.normal(size=(40, 70))
    pdf_rows = [
        (i, [float(x) for x in X[i]], int(i % 3)) for i in range(len(X))
    ]
    emb = spark.createDataFrame(
        pdf_rows, "vec_id long, embedding array<double>, label int"
    )
    model = fit_bq(emb)
    assert model.n_words == 2
    coded = encode_bq(emb, model)
    q = X[7]
    got = (
        hamming_topk(coded, model, q, k=40)
        .toPandas()
        .sort_values("vec_id")["hamming"]
        .to_numpy()
    )
    bits = X > model.thresholds
    want = (bits != (q > model.thresholds)).sum(axis=1)
    assert np.array_equal(got, want)


@settings(max_examples=200, deadline=None)
@given(
    st.integers(1, 8).flatmap(
        lambda n: st.integers(1, 150).flatmap(
            lambda d: st.lists(
                st.lists(st.booleans(), min_size=d, max_size=d),
                min_size=n,
                max_size=n,
            )
        )
    )
)
def test_pack_popcount_twin(bit_rows):
    """Property: packing + byte-table popcount of XORed words == the direct
    bit-mismatch count, for any dim (incl. non-multiples of 64) and any bit
    pattern — the kernel the batched path and hamming_expr both rely on."""
    bits = np.array(bit_rows, dtype=bool)
    words = np.vstack(_pack_rows(bits))
    a, b = words[0:1], words
    ham = _popcount64(a ^ b).sum(axis=1)
    want = (bits[0:1] != bits).sum(axis=1)
    assert np.array_equal(ham, want)


def test_store_roundtrip_torn_pair_and_guard(spark, sf_dir, tmp_path):
    """Persisted BQ store: serving read path ≡ in-memory search; a sidecar
    from a different build is refused (crash-consistency contract); rerank
    over the codes-only store without a source raises."""
    emb = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "bq_store")
    model = build_bq_store(emb, path)
    q = emb.filter(F.col("vec_id") == 0).first()["embedding"]

    got = bq_store_topk(spark, path, q, k=5).toPandas()
    coded, loaded = load_bq_store(spark, path)
    assert np.array_equal(loaded.thresholds, model.thresholds)
    want = hamming_topk(coded, loaded, q, k=5).toPandas()
    assert got.values.tolist() == want.values.tolist()

    exact = bq_store_topk(
        spark, path, q, k=5, rerank=100, rerank_source=emb
    ).toPandas()
    from photo_vector_search_spark.operators.knn import knn_topk

    assert (
        exact[["vec_id", "dist"]].values.tolist()
        == knn_topk(emb, q, k=5).toPandas()[["vec_id", "dist"]].values.tolist()
    )

    with pytest.raises(ValueError, match="rerank_source"):
        bq_store_topk(spark, path, q, k=5, rerank=10)

    # torn pair: sidecar stamped by a different build
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    meta = [("thresholds", [0.0] * 64, "deadbeefdeadbeef")]
    snapshot_overwrite(
        spark.createDataFrame(
            meta, "kind string, vec array<double>, build_id string"
        ),
        path + ".bqmeta",
    )
    with pytest.raises(ValueError, match="crashed between"):
        load_bq_store(spark, path)


def test_hamming_topk_plan_is_codegen_takeordered(fitted):
    """The non-rerank plan must be bit_count codegen into
    TakeOrderedAndProject — no exchange, no Python on the scan path."""
    emb, model, coded = fitted
    q = emb.first()["embedding"]
    plan = (
        hamming_topk(coded, model, q, k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan
    assert "bit_count" in plan
    assert "Exchange" not in plan.split("TakeOrderedAndProject")[1]
