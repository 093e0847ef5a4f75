"""The batch top-k scorers return the same rows whatever the Arrow batch
and partition layout, and equal a per-query loop of their single-query
twins (``arrowkit.batch_topk`` states the rule that makes this hold).

Every frame is tiny and built to bite: a NULL vector or code row beside
valid rows, exact-duplicate vectors (or codes) that straddle the k-th
rank, and for MaxSim two docs whose raw scores differ by less than 1e-6
but round to the same 6-dp score. Each scorer runs under
``spark.sql.execution.arrow.maxRecordsPerBatch`` 1, 3 and the session
default, with the input repartitioned to 1 and 7 partitions (the
persisted-store path reads its own files, so only the batch size varies
there)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.arrowkit import local_frame

BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
DIM = 64


def _across_layouts(spark, run, parts=(1, 7)):
    """{(batch size, partitions): run(partitions)} over the layout grid."""
    default = spark.conf.get(BATCH_KEY)
    out = {}
    try:
        for batch in (default, "3", "1"):
            spark.conf.set(BATCH_KEY, batch)
            for n in parts:
                out[(batch, n)] = run(n)
    finally:
        spark.conf.set(BATCH_KEY, default)
    return out


def _assert_layout_free(spark, run, want, parts=(1, 7)):
    for layout, got in _across_layouts(spark, run, parts).items():
        assert got == want, layout


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


@pytest.fixture(scope="module")
def dup_vectors(spark):
    """37 vectors holding four copies of vector 15 and three of vector 5,
    a NULL row, and five queries beside those two vectors: the copies tie
    across the k=2 cut. (On a 4-core x86 host with OpenBLAS, this seed
    made the BLAS-keyed cut of the earlier kernels pick copies by rounding
    noise under 3-row batches.)"""
    rng = np.random.default_rng(10)
    x = rng.standard_normal((37, DIM))
    for first, *copies in ((15, 21, 33, 36), (5, 9, 30)):
        x[copies] = x[first]
    rows = [(i, i % 3, x[i].tolist()) for i in range(len(x))]
    rows.append((37, 1, None))
    emb = local_frame(spark, 
        rows, "vec_id long, label int, embedding array<double>"
    )
    qvecs = {
        j: (x[a] + 1e-3 * rng.standard_normal(DIM)).tolist()
        for j, a in enumerate((15, 15, 15, 5, 5))
    }
    queries = local_frame(spark, 
        sorted(qvecs.items()), "query_id long, query_vec array<double>"
    )
    return emb, queries, qvecs


def test_knn_batch_fast_layout_free(spark, dup_vectors):
    from photo_vector_search_spark.operators.knn import knn_batch_fast, knn_topk

    emb, queries, qvecs = dup_vectors
    cols = ("query_id", "vec_id", "label", "dist", "rank")
    want = sorted(
        (qid, r["vec_id"], r["label"], r["dist"], rank)
        for qid, q in qvecs.items()
        for rank, r in enumerate(knn_topk(emb, q, k=2).collect(), start=1)
    )
    _assert_layout_free(
        spark,
        lambda n: _rows(knn_batch_fast(emb.repartition(n), queries, k=2), *cols),
        want,
    )


def test_sq8_batch_topk_layout_free(spark, dup_vectors):
    from photo_vector_search_spark.operators.sq import (
        encode_sq8,
        fit_sq8,
        sq8_batch_topk,
        sq8_topk,
    )

    emb, queries, qvecs = dup_vectors
    model = fit_sq8(emb)
    coded = encode_sq8(emb, model).cache()
    cols = ("query_id", "vec_id", "label", "dist", "rank")
    want = sorted(
        (qid, r["vec_id"], r["label"], r["dist"], r["rank"])
        for qid, q in qvecs.items()
        for r in sq8_topk(coded, model, q, k=2).collect()
    )
    _assert_layout_free(
        spark,
        lambda n: _rows(
            sq8_batch_topk(coded.repartition(n), model, queries, k=2), *cols
        ),
        want,
    )
    coded.unpersist()


def test_hamming_batch_topk_layout_free(spark, dup_vectors):
    from photo_vector_search_spark.operators.bq import (
        encode_bq,
        fit_bq,
        hamming_batch_topk,
        hamming_topk,
    )

    emb, queries, qvecs = dup_vectors
    model = fit_bq(emb)
    coded = encode_bq(emb, model).cache()
    cols = ("query_id", "vec_id", "label", "hamming", "rank")
    want = sorted(
        (qid, r["vec_id"], r["label"], r["hamming"], r["rank"])
        for qid, q in qvecs.items()
        for r in hamming_topk(coded, model, q, k=3).collect()
    )
    _assert_layout_free(
        spark,
        lambda n: _rows(
            hamming_batch_topk(coded.repartition(n), model, queries, k=3), *cols
        ),
        want,
    )
    coded.unpersist()


def test_pq_batch_topk_layout_free_with_probe_masks(spark, dup_vectors):
    """Codes with duplicate rows, a NULL code and per-query cluster probes
    (the IVF mask of ``ivf_pq_batch_search``)."""
    from photo_vector_search_spark.operators.pq import pq_batch_topk, pq_topk

    _, queries, qvecs = dup_vectors
    rng = np.random.default_rng(5)
    books = rng.standard_normal((4, 8, DIM // 4))
    codes = rng.integers(0, 8, size=(40, 4))
    codes[20:30] = codes[10:20]  # ten exact-duplicate codes
    rows = [(i, codes[i].tolist(), i % 3) for i in range(40)]
    rows.append((40, None, 0))
    coded = local_frame(spark, 
        rows, "vec_id long, pq_code array<int>, cluster_id int"
    )
    allowed = {q: [q % 3, (q + 1) % 3] for q in qvecs}
    want = sorted(
        (qid, r["vec_id"], r["adc_dist"], rank)
        for qid, q in qvecs.items()
        for rank, r in enumerate(
            pq_topk(
                coded.filter(F.col("cluster_id").isin(allowed[qid])), books, q,
                k=4,
            ).collect(),
            start=1,
        )
    )
    _assert_layout_free(
        spark,
        lambda n: _rows(
            pq_batch_topk(
                coded.repartition(n), books, queries, k=4,
                cluster_col="cluster_id", allowed=allowed,
            ),
            "query_id", "vec_id", "adc_dist", "rank",
        ),
        want,
    )


QUERIES = [(0, "alpha"), (1, "beta")]


def _near_tie_tokens():
    """{doc_id: token list or None}: for each one-token query, docs at raw
    MaxSim 0.7·|q|² and 0.7·|q|² + 7e-10 — the same 6-dp score, so the
    lower id ranks first — above random docs and beside a NULL matrix."""
    from photo_vector_search_spark.operators.late_interaction import (
        _query_token_vecs,
    )

    rng = np.random.default_rng(11)
    docs = {}
    for j, (_, text) in enumerate(QUERIES):
        (q,) = np.asarray(_query_token_vecs(text, 8, DIM))
        docs[10 * j + 1] = [(0.7 * q).tolist()]
        docs[10 * j + 2] = [((0.7 + 7e-10) * q).tolist(), (0.1 * q).tolist()]
        for i in range(3, 9):
            t = rng.standard_normal((3, DIM))
            docs[10 * j + i] = (0.05 * t / np.linalg.norm(t, axis=1)[:, None]).tolist()
    docs[99] = None
    return docs


def _maxsim_want(score_one):
    return sorted(
        (qid, r["doc_id"], r["maxsim"], r["rank"])
        for qid, text in QUERIES
        for r in score_one(text).collect()
    )


def test_maxsim_batch_topk_layout_free(spark):
    from photo_vector_search_spark.operators.late_interaction import (
        maxsim_batch_topk,
        maxsim_topk,
    )

    toks = local_frame(spark, 
        sorted(_near_tie_tokens().items()),
        "doc_id long, tok_embs array<array<double>>",
    )
    queries = local_frame(spark, QUERIES, "query_id long, query string")
    want = _maxsim_want(lambda text: maxsim_topk(toks, text, k=1))
    assert [t[1] for t in want] == [1, 11]
    _assert_layout_free(
        spark,
        lambda n: _rows(
            maxsim_batch_topk(toks.repartition(n), queries, k=1),
            "query_id", "doc_id", "maxsim", "rank",
        ),
        want,
    )


def test_compressed_maxsim_batch_topk_layout_free(spark):
    """The near-tie docs as compressed codes whose decode is exact: every
    token is its own centroid and the residual range is zero."""
    from photo_vector_search_spark.operators.token_compression import (
        TokenQuantizer,
        maxsim_batch_topk_compressed,
        maxsim_topk_compressed,
    )

    docs = _near_tie_tokens()
    cents, rows = [], []
    for doc_id, toks in sorted(docs.items()):
        if toks is None:
            rows.append((doc_id, None, None))
            continue
        cids = list(range(len(cents), len(cents) + len(toks)))
        cents.extend(toks)
        rows.append((doc_id, cids, [[0] * DIM for _ in toks]))
    coded = local_frame(spark, 
        rows, "doc_id long, tok_cids array<int>, tok_codes array<array<smallint>>"
    )
    quant = TokenQuantizer(np.asarray(cents), np.zeros(DIM), np.zeros(DIM))
    queries = local_frame(spark, QUERIES, "query_id long, query string")
    want = _maxsim_want(lambda text: maxsim_topk_compressed(coded, quant, text, k=1))
    assert [t[1] for t in want] == [1, 11]
    _assert_layout_free(
        spark,
        lambda n: _rows(
            maxsim_batch_topk_compressed(coded.repartition(n), quant, queries, k=1),
            "query_id", "doc_id", "maxsim", "rank",
        ),
        want,
    )


def test_maxsim_store_prefilter_layout_free(spark, tmp_path):
    """The pooled prefilter of the store batch path: duplicate documents
    tie on their pooled cosine, and a NULL text has no tokens."""
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
        maxsim_store_batch_search,
        maxsim_store_search,
    )

    texts = [
        "quick brown fox", "brown fox jumps", "lazy dog sleeps",
        "quick brown fox", "fox and dog", "lazy brown dog",
        "dog jumps over fox", "brown fox jumps", None, "quick lazy fox",
    ]
    docs = local_frame(spark, 
        list(enumerate(texts)), "doc_id long, text string"
    )
    path = str(tmp_path / "store")
    build_maxsim_store(docs, path, max_tokens=4, dim=16)
    qs = [(0, "quick fox"), (1, "brown dog")]
    queries = local_frame(spark, qs, "query_id long, query string")
    want = sorted(
        (qid, r["doc_id"], r["maxsim"], r["rank"])
        for qid, text in qs
        for r in maxsim_store_search(
            spark, path, text, k=2, prefilter_n=4
        ).collect()
    )
    _assert_layout_free(
        spark,
        lambda _: _rows(
            maxsim_store_batch_search(spark, path, queries, k=2, prefilter_n=4),
            "query_id", "doc_id", "maxsim", "rank",
        ),
        want,
        parts=(1,),
    )
