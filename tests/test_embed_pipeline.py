"""Embedding pipeline tests: stub parity across all three implementations
(pandas UDF / SQL expression / Python), index_photos semantics, error paths."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.pipelines.embed import (
    Describer,
    Embedder,
    STUB_DIM,
    embed_documents,
    index_photos,
    stub_embed_one,
    stub_embedder,
    stub_embedding_expr,
)
from photo_vector_search_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").limit(50).cache()


def test_stub_udf_matches_sql_expression(spark, docs):
    """The pandas-UDF embedder and the JVM expression compute the same vectors."""
    via_udf = embed_documents(docs).select("doc_id", "embedding")
    via_expr = docs.select(
        "doc_id", stub_embedding_expr(F.col("text")).alias("embedding")
    )
    a = {r.doc_id: r.embedding for r in via_udf.collect()}
    b = {r.doc_id: r.embedding for r in via_expr.collect()}
    assert a.keys() == b.keys()
    for k in a:
        assert a[k] == pytest.approx(b[k], abs=1e-6)


def test_stub_python_twin(spark):
    df = spark.createDataFrame([("hello world",)], "text string")
    got = df.select(stub_embedding_expr(F.col("text")).alias("e")).first()["e"]
    assert got == pytest.approx(stub_embed_one("hello world"), abs=1e-9)
    assert len(got) == STUB_DIM
    assert sum(x * x for x in got) == pytest.approx(1.0, abs=1e-9)


def test_stub_python_twin_is_exact(spark):
    """`stub_embed_one` equals `stub_embedding_expr` to the bit — the two
    hybrid paths embed their query with it in place of the expression —
    over seeded corpus-term queries, the empty string, non-ASCII text and
    runs of spaces."""
    import numpy as np

    from photo_vector_search_spark.functions.arrowkit import local_frame
    from tests.test_store_maintenance import WORDS

    rng = np.random.default_rng(23)
    texts = [
        " ".join(rng.choice(WORDS, size=int(rng.integers(1, 6))))
        for _ in range(300)
    ]
    texts += [
        "", " ", "   quick   brown  fox ", "a\tb\nc", "naïve café",
        "日本語のテキスト", "emoji 🦊 fox", "Ünïcödé  ÀÉÎ", "quick" * 50,
    ]
    got = (
        local_frame(spark, list(enumerate(texts)), "i long, text string")
        .select("i", stub_embedding_expr(F.col("text")).alias("e"))
        .toArrow()
        .sort_by("i")["e"]
        .to_pylist()
    )
    for text, e in zip(texts, got):
        assert e == stub_embed_one(text), repr(text)


def _files_df(spark, names):
    rows = [(f"/photos/{n}.jpg", f"IMGBYTES:{n}".encode()) for n in names]
    return spark.createDataFrame(rows, "path string, content binary")


def test_index_photos_end_to_end(spark):
    files = _files_df(spark, ["a", "b", "c"])
    state = index_photos(files, existing=None)
    rows = {r.id: r for r in state.collect()}
    assert len(rows) == 3
    r = rows["/photos/a.jpg_default"]
    assert r.photo_path == "/photos/a.jpg" and r.aspect_name == "default"
    assert len(r.embedding) == STUB_DIM and r.description.startswith("desc-")


def test_index_photos_idempotent_upsert(spark):
    files = _files_df(spark, ["a", "b"])
    s1 = index_photos(files, existing=None)
    s2 = index_photos(files, existing=s1)  # re-index same photos
    assert s2.count() == 2
    assert sorted(map(tuple, s1.collect())) == sorted(map(tuple, s2.collect()))
    more = _files_df(spark, ["b", "z"])
    s3 = index_photos(more, existing=s1)
    assert s3.count() == 3  # b replaced, z added


def test_describe_error_yields_empty_but_row_indexed(spark):
    """Reference semantics photo_vector_search.py:80-82: description failure → ''
    and the row is still written."""

    def make_fn():
        def boom(v, prompt):
            raise RuntimeError("ollama down")

        return boom

    files = _files_df(spark, ["a"])
    state = index_photos(files, existing=None, describer=Describer(make_fn=make_fn))
    r = state.collect()[0]
    assert r.description == "" and len(r.embedding) == STUB_DIM


def test_ollama_describer_dead_server_degrades_to_empty(spark):
    """Real-backend adapter with no server: every row degrades to '' but is
    still indexed — the reference's silent-empty path over the same interface."""
    from photo_vector_search_spark.pipelines.models import ollama_describer

    files = _files_df(spark, ["a"])
    state = index_photos(
        files,
        existing=None,
        describer=ollama_describer(host="http://localhost:1"),  # nothing listens
    )
    r = state.collect()[0]
    assert r.description == "" and len(r.embedding) == STUB_DIM


def test_embed_failure_aborts_row(spark):
    """Reference semantics photo_vector_search.py:102-104: embedding failure
    aborts that row (dropped), others proceed."""

    def make_fn():
        def flaky(s):
            return s.map(
                lambda t: None if b"poison" in (t or b"") else stub_embed_one(str(t))
            )

        return flaky

    files = spark.createDataFrame(
        [("/p/ok.jpg", b"fine"), ("/p/bad.jpg", b"poison-pill")],
        "path string, content binary",
    )
    state = index_photos(
        files, existing=None, embedder=Embedder(dim=STUB_DIM, make_fn=make_fn)
    )
    ids = [r.id for r in state.collect()]
    assert ids == ["/p/ok.jpg_default"]
