"""Product quantization: encode parity vs an independently-written per-row
reference, reconstruction-error properties, ADC-vs-exact distance fidelity,
recall floors (raw ADC and the exact-rerank serving path, alone and composed
with IVF), determinism + partitioning invariance, NULL contracts."""

from __future__ import annotations

import numpy as np
import pytest

from photo_vector_search_spark.operators.pq import (
    adc_table,
    encode_pq,
    ivf_pq_topk,
    pq_topk,
    train_pq,
)


def _mog(n=400, d=64, n_modes=8, seed=3):
    """Clustered mixture-of-Gaussians vectors — the realistic embedding
    geometry (same generator family as the IVF recall tests)."""
    rng = np.random.RandomState(seed)
    modes = rng.randn(n_modes, d) * 3.0
    x = modes[rng.randint(0, n_modes, size=n)] + rng.randn(n, d) * 0.7
    return x.astype(np.float64)


def _df(spark, x):
    return spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(x)],
        "vec_id long, embedding array<double>",
    )


# --- independent reference: per-row, per-subspace loops -------------------
def _ref_encode(x, books):
    xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    m, _, sub = books.shape
    out = []
    for row in xn:
        code = []
        for j in range(m):
            seg = row[j * sub : (j + 1) * sub]
            best, best_d = 0, None
            for c, cent in enumerate(books[j]):
                dist = float(((seg - cent) ** 2).sum())
                if best_d is None or dist < best_d:
                    best, best_d = c, dist
            code.append(best)
        out.append(code)
    return out


def test_encode_matches_independent_reference_and_is_invariant(spark):
    x = _mog(n=120)
    df = _df(spark, x)
    books = train_pq(df, m=8, k=32, sample=120, seed=1)
    got = {
        r["vec_id"]: list(r["pq_code"])
        for r in encode_pq(df, books).collect()
    }
    want = _ref_encode(x, books)
    assert got == {i: want[i] for i in range(len(x))}
    got2 = {
        r["vec_id"]: list(r["pq_code"])
        for r in encode_pq(df.repartition(7), books).collect()
    }
    assert got2 == got


def test_reconstruction_improves_with_codebook_size(spark):
    x = _mog(n=300)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    df = _df(spark, x)
    errs = {}
    for k in (4, 16, 64):
        books = train_pq(df, m=8, k=k, sample=300, seed=1)
        codes = np.array(_ref_encode(x, books))
        m, _, sub = books.shape
        recon = np.hstack([books[j][codes[:, j]] for j in range(m)])
        errs[k] = float(((xn - recon) ** 2).sum(axis=1).mean())
    assert errs[64] < errs[16] < errs[4]
    # and far below the trivial zero-vector quantizer (MSE == 1 on the sphere)
    assert errs[64] < 0.15


def test_adc_approximates_exact_distance(spark):
    x = _mog(n=300)
    df = _df(spark, x)
    books = train_pq(df, m=8, k=64, sample=300, seed=1)
    q = x[7]
    qn = q / np.linalg.norm(q)
    lut = adc_table(q, books)
    codes = np.array(_ref_encode(x, books))
    adc = lut[np.arange(8)[None, :], codes].sum(axis=1)
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    exact = ((xn - qn) ** 2).sum(axis=1)
    # mean absolute ADC error well under the exact-distance spread
    assert np.abs(adc - exact).mean() < 0.25 * exact.std()


def _exact_topk_ids(x, qi, k):
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    sims = xn @ xn[qi]
    order = np.argsort(-sims, kind="stable")
    return list(order[:k])


def test_rerank_recall_and_raw_adc_floor(spark):
    x = _mog(n=400)
    df = _df(spark, x)
    books = train_pq(df, m=8, k=64, sample=400, seed=1)
    coded = encode_pq(df, books)
    coded.persist().count()
    hits_rerank = hits_raw = total = 0
    for qi in (0, 17, 99, 250, 333):
        want = set(_exact_topk_ids(x, qi, 5))
        rer = pq_topk(
            coded, books, x[qi], k=5, rerank=50, embeddings=df
        ).collect()
        raw = pq_topk(coded, books, x[qi], k=5).collect()
        hits_rerank += len(want & {r["vec_id"] for r in rer})
        hits_raw += len(want & {r["vec_id"] for r in raw})
        total += 5
        # reranked sims are EXACT cosines, descending
        sims = [r["sim"] for r in rer]
        assert sims == sorted(sims, reverse=True)
    coded.unpersist()
    assert hits_rerank / total >= 0.9   # the serving path
    assert hits_raw / total >= 0.5      # raw quantized ordering


def test_ivf_pq_composition_recall(spark):
    from photo_vector_search_spark.operators.ann import (
        assign_clusters,
        train_centroids,
    )

    x = _mog(n=400)
    df = _df(spark, x)
    cents = train_centroids(df, n_clusters=8, sample=400)
    books = train_pq(df, m=8, k=64, sample=400, seed=1)
    indexed = encode_pq(assign_clusters(df, cents, n_assign=2), books)
    indexed.persist().count()
    hits = total = 0
    for qi in (3, 44, 150, 301):
        want = set(_exact_topk_ids(x, qi, 5))
        got = ivf_pq_topk(
            indexed,
            cents,
            books,
            x[qi],
            k=5,
            nprobe=4,
            rerank=50,
            embeddings=df,
        ).collect()
        hits += len(want & {r["vec_id"] for r in got})
        total += 5
    indexed.unpersist()
    assert hits / total >= 0.85


def test_null_vectors_and_guards(spark):
    x = _mog(n=40)
    rows = [(i, r.tolist()) for i, r in enumerate(x)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = train_pq(df.filter("embedding IS NOT NULL"), m=8, k=8, sample=40)
    coded = {r["vec_id"]: r["pq_code"] for r in encode_pq(df, books).collect()}
    assert coded[99] is None
    assert all(v is not None for i, v in coded.items() if i != 99)
    # NULL codes are skipped by scoring, not crashed on
    out = pq_topk(encode_pq(df, books), books, x[0], k=3).collect()
    assert len(out) == 3 and all(r["vec_id"] != 99 for r in out)
    with pytest.raises(ValueError, match="divisible"):
        train_pq(_df(spark, _mog(n=20, d=60)), m=8, sample=20)
    with pytest.raises(ValueError, match="rerank requires"):
        pq_topk(encode_pq(df, books), books, x[0], k=3, rerank=10)


def test_ivfpq_store_round_trip_and_query(spark, tmp_path):
    """build -> load returns byte-equal centroids/codebooks, the at-rest
    store carries CODES ONLY (no float column), and a query through the
    loaded store matches querying the in-memory build."""
    x = _mog(n=300)
    df = _df(spark, x)
    path = str(tmp_path / "ivfpq")
    cents, books, rot = __import__(
        "photo_vector_search_spark.operators.pq", fromlist=["build_ivfpq_store"]
    ).build_ivfpq_store(df, path, n_clusters=8, m=8, k=32, sample=300, n_assign=2)
    assert rot is None  # plain build persists no rotation
    from photo_vector_search_spark.operators.pq import load_ivfpq_store

    store, cents2, books2, rot2 = load_ivfpq_store(spark, path)
    assert rot2 is None
    assert np.array_equal(cents, cents2)
    assert np.array_equal(books, books2)
    assert set(store.columns) == {"vec_id", "cluster_id", "pq_code", "build_id"}

    want = ivf_pq_topk(
        encode_pq(
            __import__(
                "photo_vector_search_spark.operators.ann",
                fromlist=["assign_clusters"],
            ).assign_clusters(df, cents, n_assign=2),
            books,
        ),
        cents, books, x[11], k=5, nprobe=4, rerank=30, embeddings=df,
    ).collect()
    got = ivf_pq_topk(
        store, cents2, books2, x[11], k=5, nprobe=4, rerank=30, embeddings=df
    ).collect()
    assert [(r["vec_id"], r["sim"]) for r in got] == [
        (r["vec_id"], r["sim"]) for r in want
    ]


def test_ivfpq_store_refuses_torn_build(spark, tmp_path):
    from photo_vector_search_spark.operators.pq import (
        build_ivfpq_store,
        load_ivfpq_store,
    )
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    x = _mog(n=80)
    df = _df(spark, x)
    path = str(tmp_path / "ivfpq_torn")
    build_ivfpq_store(df, path, n_clusters=4, m=8, k=8, sample=80)
    # simulate a crash between swaps: sidecar from a DIFFERENT build
    meta = spark.read.parquet(path + ".pqmeta")
    import pyspark.sql.functions as SF

    snapshot_overwrite(
        meta.withColumn("build_id", SF.lit("deadbeef00000000")),
        path + ".pqmeta",
    )
    with pytest.raises(ValueError, match="crashed between"):
        load_ivfpq_store(spark, path)


def test_incremental_ivfpq_stream(spark, tmp_path):
    """Streamed vectors join an existing IVF-PQ store: assigned to the frozen
    coarse centroids, encoded against the frozen codebooks, merged by vec_id
    — streamed codes are byte-identical to the batch encode, the store stays
    codes-only, and the build stamp survives (torn-pair check passes)."""
    from photo_vector_search_spark.operators.ann import assign_clusters
    from photo_vector_search_spark.operators.pq import (
        build_ivfpq_store,
        load_ivfpq_store,
    )
    from photo_vector_search_spark.streaming.incremental import (
        incremental_ivfpq_index,
    )

    x = _mog(n=120)
    rows = [(i, r.tolist(), 0) for i, r in enumerate(x)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    in_dir = str(tmp_path / "in")
    store_path = str(tmp_path / "store")
    ckpt = str(tmp_path / "ckpt")

    base = df.filter("vec_id < 80")
    cents, books, _rot = build_ivfpq_store(
        base, store_path, n_clusters=4, m=8, k=16, sample=200, n_assign=2
    )
    new = df.filter("vec_id >= 80")
    new.write.mode("append").parquet(in_dir)
    q = incremental_ivfpq_index(spark, in_dir, store_path, ckpt)
    assert q.awaitTermination(600)

    grown, cents2, books2, _ = load_ivfpq_store(spark, store_path)
    assert np.array_equal(cents, cents2) and np.array_equal(books, books2)
    assert set(grown.columns) == {"vec_id", "cluster_id", "pq_code", "build_id"}
    # streamed rows == batch path (assignment AND codes), incl. multi-assign
    want = {
        (r["vec_id"], r["cluster_id"]): list(r["pq_code"])
        for r in encode_pq(
            assign_clusters(new, cents, n_assign=2), books
        ).collect()
    }
    got = {
        (r["vec_id"], r["cluster_id"]): list(r["pq_code"])
        for r in grown.filter("vec_id >= 80").collect()
    }
    assert got == want
    # upsert: re-streaming vec 80-89 with CHANGED vectors replaces their codes
    changed = spark.createDataFrame(
        [(i, (-x[i]).tolist(), 0) for i in range(80, 90)],
        "vec_id long, embedding array<float>, label int",
    )
    changed.write.mode("append").parquet(in_dir)
    q = incremental_ivfpq_index(spark, in_dir, store_path, ckpt)
    assert q.awaitTermination(600)
    grown2, _, _, _ = load_ivfpq_store(spark, store_path)
    n_ids = grown2.select("vec_id").distinct().count()
    assert n_ids == 120
    new_codes = {
        (r["vec_id"], r["cluster_id"]): list(r["pq_code"])
        for r in grown2.filter("vec_id >= 80 AND vec_id < 90").collect()
    }
    flipped = {
        (r["vec_id"], r["cluster_id"]): list(r["pq_code"])
        for r in encode_pq(
            assign_clusters(changed, cents, n_assign=2), books
        ).collect()
    }
    assert new_codes == flipped


# --- OPQ -------------------------------------------------------------------
def _aniso(n=400, d=64, seed=11):
    """Anisotropic vectors: correlated dimensions via a random mixing map —
    the geometry where fixed coordinate blocks waste code budget."""
    rng = np.random.RandomState(seed)
    z = rng.randn(n, 8)  # 8 latent factors
    mix = rng.randn(8, d)
    return (z @ mix + 0.05 * rng.randn(n, d)).astype(np.float64)


def _mse(x, books, rot):
    xn = x / np.linalg.norm(x, axis=1, keepdims=True)
    xr = xn @ rot if rot is not None else xn
    from photo_vector_search_spark.operators.pq import _encode_rows

    codes = _encode_rows(xr, books)
    m = books.shape[0]
    recon = np.hstack([books[j][codes[:, j]] for j in range(m)])
    return float(((xr - recon) ** 2).sum(axis=1).mean())


def test_opq_rotation_is_orthogonal_and_beats_plain_pq(spark):
    from photo_vector_search_spark.operators.pq import train_opq

    x = _aniso()
    df = _df(spark, x)
    books_pq = train_pq(df, m=8, k=16, sample=400, seed=1)
    rot, books_opq = train_opq(df, m=8, k=16, sample=400, seed=1, opq_iters=6)
    assert np.allclose(rot @ rot.T, np.eye(rot.shape[0]), atol=1e-9)
    mse_pq = _mse(x, books_pq, None)
    mse_opq = _mse(x, books_opq, rot)
    # identity-init first round == plain PQ, later rounds only improve on
    # the training sample — and on this correlated geometry the improvement
    # is substantial, not epsilon
    assert mse_opq <= mse_pq + 1e-9
    assert mse_opq < 0.9 * mse_pq, (mse_opq, mse_pq)


def test_opq_end_to_end_search(spark):
    from photo_vector_search_spark.operators.pq import train_opq

    x = _aniso()
    df = _df(spark, x)
    rot, books = train_opq(df, m=8, k=32, sample=400, seed=1, opq_iters=4)
    coded = encode_pq(df, books, rotation=rot)
    hits = total = 0
    for qi in (5, 120, 333):
        want = set(_exact_topk_ids(x, qi, 5))
        got = pq_topk(
            coded, books, x[qi], k=5, rerank=50, embeddings=df, rotation=rot
        ).collect()
        hits += len(want & {r["vec_id"] for r in got})
        total += 5
    assert hits / total >= 0.9
    # identity rotation == the plain path, bit-for-bit
    eye = np.eye(x.shape[1])
    books_p = train_pq(df, m=8, k=16, sample=400, seed=1)
    a = {r["vec_id"]: list(r["pq_code"]) for r in encode_pq(df, books_p).collect()}
    b = {
        r["vec_id"]: list(r["pq_code"])
        for r in encode_pq(df, books_p, rotation=eye).collect()
    }
    assert a == b


def test_ivfpq_store_opq_round_trip_and_stream(spark, tmp_path):
    """opq=True persists the rotation in the sidecar; load returns it
    byte-equal, queries through the loaded triple work, and streamed
    increments encode against the SAME rotation (streamed == batch codes)."""
    from photo_vector_search_spark.operators.ann import assign_clusters
    from photo_vector_search_spark.operators.pq import (
        build_ivfpq_store,
        load_ivfpq_store,
    )
    from photo_vector_search_spark.streaming.incremental import (
        incremental_ivfpq_index,
    )

    x = _aniso(n=150)
    df = spark.createDataFrame(
        [(i, r.tolist(), 0) for i, r in enumerate(x)],
        "vec_id long, embedding array<float>, label int",
    )
    path = str(tmp_path / "opq_store")
    cents, books, rot = build_ivfpq_store(
        df.filter("vec_id < 120"), path, n_clusters=4, m=8, k=16,
        sample=300, opq=True,
    )
    assert rot is not None
    store, c2, b2, r2 = load_ivfpq_store(spark, path)
    assert np.array_equal(rot, r2) and np.array_equal(books, b2)

    got = ivf_pq_topk(
        store, c2, b2, x[3], k=5, nprobe=4, rerank=30,
        embeddings=df, rotation=r2,
    ).collect()
    assert len(got) == 5

    in_dir = str(tmp_path / "in")
    df.filter("vec_id >= 120").write.mode("append").parquet(in_dir)
    q = incremental_ivfpq_index(spark, in_dir, path, str(tmp_path / "ck"))
    assert q.awaitTermination(600)
    grown, _, _, _ = load_ivfpq_store(spark, path)
    want = {
        (r["vec_id"], r["cluster_id"]): list(r["pq_code"])
        for r in encode_pq(
            assign_clusters(df.filter("vec_id >= 120"), cents), books,
            rotation=rot,
        ).collect()
    }
    got2 = {
        (r["vec_id"], r["cluster_id"]): list(r["pq_code"])
        for r in grown.filter("vec_id >= 120").collect()
    }
    assert got2 == want


def test_pq_batch_topk_matches_single_query_path(spark):
    """The batched ADC path returns exactly the single-query pq_topk result
    for every query (same distances, same id tie-break), and the guard
    rejects oversized query sets."""
    x = _mog(n=250)
    df = _df(spark, x)
    books = train_pq(df, m=8, k=32, sample=250, seed=1)
    coded = encode_pq(df, books)
    coded.persist().count()
    qids = [0, 7, 99, 200]
    queries = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in qids],
        "query_id long, query_vec array<double>",
    )
    from photo_vector_search_spark.operators.pq import pq_batch_topk

    batch = pq_batch_topk(coded, books, queries, k=5)
    got = {
        (r["query_id"], r["rank"]): (r["vec_id"], r["adc_dist"])
        for r in batch.collect()
    }
    assert len(got) == len(qids) * 5
    for qi in qids:
        single = pq_topk(coded, books, x[qi], k=5).collect()
        for rank, r in enumerate(single, start=1):
            assert got[(qi, rank)] == (r["vec_id"], r["adc_dist"]), (qi, rank)
    coded.unpersist()

    import pytest

    with pytest.raises(ValueError, match="queries"):
        pq_batch_topk(coded, books, queries, k=5, max_queries=2)


def test_mmr_rerank_diversifies_and_reduces_to_topk_at_lambda_one(spark):
    """MMR picks the most relevant candidate first, defers a near-duplicate
    of an already-picked result behind a distinct one, reduces to plain
    relevance order at lambda=1, and guards its candidate budget."""
    import pytest

    from photo_vector_search_spark.operators.knn import mmr_rerank

    rng = np.random.RandomState(4)
    q = rng.randn(64)
    a = q + 0.05 * rng.randn(64)          # most relevant
    a_dup = a + 0.01 * rng.randn(64)      # near-duplicate of a
    b = rng.randn(64) + 0.3 * q           # distinct, less relevant
    x = np.vstack([a, a_dup, b])
    df = _df(spark, x)
    cands = df.select("vec_id")

    top = mmr_rerank(cands, df, q, k=3, lambda_=0.5).collect()
    order = [r["vec_id"] for r in sorted(top, key=lambda r: r["rank"])]
    assert order[0] == 0          # relevance first
    assert order[1] == 2          # the duplicate is deferred behind b
    assert order[2] == 1

    plain = mmr_rerank(cands, df, q, k=3, lambda_=1.0).collect()
    rels = {r["vec_id"]: r["sim"] for r in plain}
    order1 = [r["vec_id"] for r in sorted(plain, key=lambda r: r["rank"])]
    assert order1 == sorted(rels, key=lambda i: (-rels[i], i))

    with pytest.raises(ValueError, match="candidates"):
        mmr_rerank(cands, df, q, k=2, max_candidates=1)
    with pytest.raises(ValueError, match="lambda"):
        mmr_rerank(cands, df, q, k=2, lambda_=1.5)


def test_mmr_rerank_string_ids(spark):
    """The output id column copies the input's type (the pq_topk id_field
    pattern) — string ids like the photo surfaces' `path` must work, and
    the empty-candidate schema must carry the same id type (r8 ADVICE)."""
    from photo_vector_search_spark.operators.knn import mmr_rerank

    rng = np.random.RandomState(7)
    q = rng.randn(16)
    vecs = [q + 0.02 * rng.randn(16), rng.randn(16), rng.randn(16)]
    rows = [(f"/photos/img_{i}.jpg", [float(v) for v in vec])
            for i, vec in enumerate(vecs)]
    df = spark.createDataFrame(rows, "path string, embedding array<double>")
    cands = df.select("path")

    top = mmr_rerank(cands, df, q, k=2, lambda_=0.7, id_col="path")
    assert dict(top.dtypes)["path"] == "string"
    got = sorted(top.collect(), key=lambda r: r["rank"])
    assert got[0]["path"] == "/photos/img_0.jpg"  # most relevant first
    assert all(isinstance(r["path"], str) for r in got)

    empty = mmr_rerank(
        cands.filter("path = 'none'"), df, q, k=2, id_col="path"
    )
    assert dict(empty.dtypes)["path"] == "string"
    assert empty.count() == 0


def test_opq_error_is_monotone_over_rounds(spark):
    """Each additional OPQ round can only lower (or hold) sample
    quantization error — the warm-started alternation's invariant (a fresh
    random re-init per round broke it)."""
    from photo_vector_search_spark.operators.pq import train_opq

    x = _aniso(n=250, seed=21)
    df = _df(spark, x)
    errs = []
    for rounds in (1, 2, 4, 8):
        rot, books = train_opq(
            df, m=8, k=16, sample=250, seed=3, opq_iters=rounds
        )
        errs.append(_mse(x, books, rot))
    for a, b in zip(errs, errs[1:]):
        assert b <= a + 1e-9, errs


def test_ivf_pq_no_rerank_returns_k_distinct_on_multiassign_store(spark):
    """nprobe covering both home clusters of multi-assigned vectors must
    still return k DISTINCT neighbors on the raw-ADC path (regression: the
    dedup only ran with rerank set, so duplicates crowded out results)."""
    from photo_vector_search_spark.operators.ann import (
        assign_clusters,
        train_centroids,
    )

    x = _mog(n=200)
    df = _df(spark, x)
    cents = train_centroids(df, n_clusters=4, sample=200)
    books = train_pq(df, m=8, k=32, sample=200, seed=1)
    indexed = encode_pq(assign_clusters(df, cents, n_assign=2), books)
    got = ivf_pq_topk(indexed, cents, books, x[9], k=5, nprobe=4).collect()
    ids = [r["vec_id"] for r in got]
    assert len(ids) == 5 and len(set(ids)) == 5


def test_ivf_pq_search_one_call_ladder(spark, tmp_path):
    """ivf_pq_search = load + route: the plain call equals the manual
    ivf_pq_topk composition; mmr_lambda reaches the MMR tail exactly as the
    hand-built retrieval + mmr_rerank pipeline; MMR without the float table
    is refused (the store holds codes only)."""
    from photo_vector_search_spark.operators.knn import mmr_rerank
    from photo_vector_search_spark.operators.pq import (
        build_ivfpq_store,
        ivf_pq_search,
        load_ivfpq_store,
    )

    x = _mog(n=250)
    df = _df(spark, x)
    path = str(tmp_path / "ivfpq_search")
    build_ivfpq_store(df, path, n_clusters=6, m=8, k=16, sample=250, n_assign=2)
    q = x[17]

    got = ivf_pq_search(spark, path, q, k=5, nprobe=3).collect()
    store, cents, books, rot = load_ivfpq_store(spark, path)
    want = ivf_pq_topk(store, cents, books, q, k=5, nprobe=3, rotation=rot).collect()
    assert [(r["vec_id"], r["adc_dist"]) for r in got] == [
        (r["vec_id"], r["adc_dist"]) for r in want
    ]

    k, lam = 3, 0.5
    mmr_got = ivf_pq_search(
        spark, path, q, k=k, nprobe=3, mmr_lambda=lam, embeddings=df
    ).collect()
    cands = ivf_pq_topk(store, cents, books, q, k=4 * k, nprobe=3, rotation=rot)
    mmr_want = mmr_rerank(
        cands.select("vec_id"), df, q, k=k, lambda_=lam
    ).collect()
    assert [(r["vec_id"], r["sim"], r["rank"]) for r in mmr_got] == [
        (r["vec_id"], r["sim"], r["rank"]) for r in mmr_want
    ]

    with pytest.raises(ValueError, match="embeddings"):
        ivf_pq_search(spark, path, q, k=3, mmr_lambda=0.5)


def test_ivf_pq_batch_search_matches_per_query_loop(spark, tmp_path):
    """One union-pruned scan with the per-query probe mask returns exactly
    what a Python loop of per-query ivf_pq_topk calls returns — including
    on a multi-assign store, where duplicate (id, cluster) rows must
    neither hide a probed copy nor rank twice."""
    from photo_vector_search_spark.operators.pq import (
        build_ivfpq_store,
        ivf_pq_batch_search,
        load_ivfpq_store,
    )

    x = _mog(n=250, seed=9)
    df = _df(spark, x)
    path = str(tmp_path / "ivfpq_batch")
    build_ivfpq_store(df, path, n_clusters=6, m=8, k=16, sample=250, n_assign=2)
    store, cents, books, rot = load_ivfpq_store(spark, path)

    qidx = [3, 40, 111, 200]
    queries = spark.createDataFrame(
        [(int(i), x[i].tolist()) for i in qidx],
        "query_id long, query_vec array<double>",
    )
    got = ivf_pq_batch_search(spark, path, queries, k=5, nprobe=3).collect()
    got_by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["rank"])):
        got_by_q.setdefault(r["query_id"], []).append(
            (r["vec_id"], r["adc_dist"])
        )
    for i in qidx:
        want = ivf_pq_topk(
            store, cents, books, x[i], k=5, nprobe=3, rotation=rot
        ).collect()
        assert got_by_q[i] == [(r["vec_id"], r["adc_dist"]) for r in want], i
        assert len({v for v, _ in got_by_q[i]}) == 5  # deduped, k distinct


def test_pq_batch_topk_refuses_duplicate_and_empty_queries(spark):
    """A repeated query_id would rank each neighbour once per copy; it is
    refused whether pq_batch_topk reads the query frame or is handed the
    rows, as is an empty query frame."""
    from photo_vector_search_spark.operators.pq import pq_batch_topk

    x = _mog(n=60)
    df = _df(spark, x)
    books = train_pq(df, m=8, k=8, sample=60)
    coded = encode_pq(df, books)
    schema = "query_id long, query_vec array<double>"
    dup = spark.createDataFrame([(7, x[0].tolist()), (7, x[0].tolist())], schema)
    with pytest.raises(ValueError, match="duplicate query_id"):
        pq_batch_topk(coded, books, dup, k=3)
    rows = [{"query_id": 7, "query_vec": x[0].tolist()}] * 2
    with pytest.raises(ValueError, match="duplicate query_id"):
        pq_batch_topk(coded, books, dup, k=3, qrows=rows)
    with pytest.raises(ValueError, match="empty query frame"):
        pq_batch_topk(coded, books, spark.createDataFrame([], schema), k=3)


def test_pq_batch_topk_mask_args_must_pair(spark):
    from photo_vector_search_spark.operators.pq import pq_batch_topk

    x = _mog(n=60)
    df = _df(spark, x)
    books = train_pq(df, m=8, k=8, sample=60)
    coded = encode_pq(df, books)
    queries = spark.createDataFrame(
        [(0, x[0].tolist())], "query_id long, query_vec array<double>"
    )
    with pytest.raises(ValueError, match="together"):
        pq_batch_topk(coded, books, queries, allowed={0: [0]})
    with pytest.raises(ValueError, match="together"):
        pq_batch_topk(coded, books, queries, cluster_col="cluster_id")
