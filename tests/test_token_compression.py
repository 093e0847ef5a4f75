"""ColBERTv2-style residual compression: encode/decode roundtrip error
bound (the SQ8 step/2 rule, per token per dim), an independent NumPy replay
of the whole compressed scoring chain, the exact-rerank identity vs
uncompressed MaxSim, the persisted store (roundtrip, at-rest compression
ratio, torn-pair refusal, prefilter-covers-corpus identity), and parameter
validation."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.late_interaction import (
    doc_token_embeddings,
    maxsim_topk,
)
from photo_vector_search_spark.operators.token_compression import (
    build_colbertv2_store,
    colbertv2_store_search,
    decode_token_matrices,
    encode_token_matrices,
    fit_token_quantizer,
    load_colbertv2_store,
    maxsim_scores_compressed,
    maxsim_topk_compressed,
)
from photo_vector_search_spark.pipelines.embed import stub_embed_one
from photo_vector_search_spark.sources.tables import load_table

QUERY = "the quick brown fox"


def _doc_toks(spark, sf_correct, n=None):
    docs = load_table(spark, sf_correct, "documents")
    if n is not None:
        docs = docs.filter(F.col("doc_id") < n)
    return doc_token_embeddings(docs)


def test_roundtrip_error_bounded_by_half_step(spark, sf_correct):
    toks = _doc_toks(spark, sf_correct, n=60)
    quant = fit_token_quantizer(toks, n_centroids=8)
    coded = encode_token_matrices(toks, quant)
    decoded = {
        r["doc_id"]: r["tok_embs"]
        for r in decode_token_matrices(coded, quant).collect()
    }
    bound = quant.scale / 2.0 + 1e-9
    for r in toks.collect():
        got = decoded[r["doc_id"]]
        assert len(got) == len(r["tok_embs"])  # token order + count preserved
        for orig, rec in zip(r["tok_embs"], got):
            err = np.abs(np.asarray(orig) - np.asarray(rec))
            assert (err <= bound).all(), err.max()


def test_compressed_scores_match_numpy_replay(spark, sf_correct):
    """Independent replay: NumPy recomputes assignment, quantization,
    decode, and the MaxSim fold from the RAW token matrices — the Spark
    kernel must agree after the shared 6dp round."""
    toks = _doc_toks(spark, sf_correct, n=40)
    quant = fit_token_quantizer(toks, n_centroids=8)
    coded = encode_token_matrices(toks, quant)
    got = {
        r["doc_id"]: r["maxsim"]
        for r in maxsim_scores_compressed(coded, quant, QUERY).collect()
    }

    qtoks = [t for t in QUERY.strip().lower().split() if t][:8]
    qmat = np.asarray([stub_embed_one(t, dim=64) for t in qtoks])
    cent, vmin, step = quant.centroids, quant.vmin, quant.scale
    safe = np.where(step > 0, step, 1.0)
    want = {}
    for r in toks.collect():
        x = np.asarray(r["tok_embs"], dtype=np.float64)
        m = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
        assign = np.argmax(m @ cent.T, axis=1)
        res = x - cent[assign]
        c = np.rint((res - vmin) / safe)
        c[:, step == 0] = 0.0
        c = np.clip(c, 0, 255)
        xhat = cent[assign] + vmin + c * step
        sims = qmat @ xhat.T
        want[r["doc_id"]] = round(float(sims.max(axis=1).sum()), 6)
    assert set(got) == set(want)
    for d in got:
        assert got[d] == pytest.approx(want[d], abs=2e-6), d


def test_exact_rerank_matches_uncompressed_maxsim(spark, sf_correct):
    """The serving ladder's whole point: compressed pool → exact rescore
    must equal exact MaxSim bit-for-bit once the pool covers the corpus."""
    toks = _doc_toks(spark, sf_correct, n=80).localCheckpoint(eager=True)
    n = toks.count()
    quant = fit_token_quantizer(toks, n_centroids=16)
    coded = encode_token_matrices(toks, quant)

    got = maxsim_topk_compressed(
        coded, quant, QUERY, k=5, rerank=n, rerank_source=toks
    ).collect()
    want = maxsim_topk(toks, QUERY, k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # and even WITHOUT rerank the compressed ranking is close: the true
    # top-1 must sit in the compressed top-5 (8-bit residuals are tiny)
    comp = [r["doc_id"] for r in maxsim_topk_compressed(coded, quant, QUERY, k=5).collect()]
    assert want[0]["doc_id"] in comp


def test_store_roundtrip_compression_and_serving(spark, sf_correct, tmp_path):
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
    )

    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "cv2")
    raw_path = str(tmp_path / "raw")
    build_id = build_colbertv2_store(docs, path, n_centroids=32)
    build_maxsim_store(docs, raw_path)

    coded, quant, meta = load_colbertv2_store(spark, path)
    assert meta["build_id"] == build_id
    assert "tok_embs" not in coded.columns  # codes-only at rest
    assert quant.centroids.shape == (32, 64)

    # at-rest compression vs the float token store (data files only)
    import os

    def _bytes(p):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _d, fs in os.walk(p)
            for f in fs
            if not f.startswith((".", "_"))
        )

    # the fixture UNDERSTATES the at-rest win: stub token embeddings repeat
    # across docs (same token → same 64-vector), so parquet dictionary-
    # encodes the float store almost as well as the codes; real contextual
    # embeddings are unique per occurrence and incompressible (the logical
    # widths are 8 B/dim float64 vs 2 B/dim smallint code + 4 B/token id —
    # the 7.5x claim uses 1 B/dim at-rest, which parquet byte-packs).
    # Even against dictionary-friendly data the codes must win:
    ratio = _bytes(raw_path) / _bytes(path)
    assert ratio > 1.15, ratio

    # store-served ≡ in-memory compressed search over the same build
    got = colbertv2_store_search(spark, path, QUERY, k=5).collect()
    want = maxsim_topk_compressed(coded, quant, QUERY, k=5).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]

    # prefilter covering the corpus reproduces the unfiltered result
    cov = colbertv2_store_search(
        spark, path, QUERY, k=5, prefilter_n=meta["n_docs"]
    ).collect()
    assert [tuple(r) for r in cov] == [tuple(r) for r in want]

    # exact rerank from the raw token frame ≡ exact MaxSim over the corpus
    toks = doc_token_embeddings(docs)
    rer = colbertv2_store_search(
        spark, path, QUERY, k=5, rerank=meta["n_docs"], rerank_source=toks
    ).collect()
    exact = maxsim_topk(toks, QUERY, k=5).collect()
    assert [tuple(r) for r in rer] == [tuple(r) for r in exact]


def test_parameter_validation(spark, sf_correct):
    toks = _doc_toks(spark, sf_correct, n=20)
    quant = fit_token_quantizer(toks, n_centroids=4)
    coded = encode_token_matrices(toks, quant)
    with pytest.raises(ValueError, match="k must be"):
        maxsim_topk_compressed(coded, quant, QUERY, k=0)
    with pytest.raises(ValueError, match="rerank pool"):
        maxsim_topk_compressed(coded, quant, QUERY, k=5, rerank=3, rerank_source=toks)
    with pytest.raises(ValueError, match="rerank_source"):
        maxsim_topk_compressed(coded, quant, QUERY, k=5, rerank=10)
    with pytest.raises(ValueError, match="n_centroids"):
        fit_token_quantizer(toks, n_centroids=0)


def test_batch_matches_per_query_loop(spark, sf_correct, tmp_path):
    """The batched-serving contract extended to compressed codes: one
    shared decode+score pass ≡ a loop of single-query compressed top-k."""
    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "cv2")
    build_colbertv2_store(docs, path, n_centroids=16)

    from photo_vector_search_spark.operators.token_compression import (
        colbertv2_store_batch_search,
    )

    qs = [(0, "the quick brown fox"), (1, "slow window scan"), (2, "customer data")]
    queries = spark.createDataFrame(qs, "query_id long, query string")
    got = sorted(
        tuple(r)
        for r in colbertv2_store_batch_search(spark, path, queries, k=5).collect()
    )
    want = []
    for qid, q in qs:
        for r in colbertv2_store_search(spark, path, q, k=5).collect():
            want.append((qid, r["doc_id"], r["maxsim"], r["rank"]))
    assert got == sorted(want)

    with pytest.raises(ValueError, match="duplicate query_id"):
        colbertv2_store_batch_search(
            spark,
            path,
            spark.createDataFrame([(1, "a"), (1, "b")], "query_id long, query string"),
        )
