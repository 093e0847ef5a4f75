"""Persisted BM25 postings store: serving parity with the on-the-fly
operator AND its DuckDB twin, realized bucket-partition pruning on runtime
scan metrics, torn-pair refusal, batch ≡ loop, the driver/Spark bucket-hash
identity, and the delta/tombstone lifecycle (upsert/delete/live/compact,
zero-token-doc semantics, crash-orphan postings, replay healing)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.bm25 import bm25_topk
from photo_vector_search_spark.operators.bm25_store import (
    bm25_store_batch_topk,
    bm25_store_scores,
    bm25_store_topk,
    build_bm25_store,
    compact_bm25_store,
    delete_from_bm25_store,
    live_bm25_topk,
    load_bm25_store,
    load_live_bm25,
    term_bucket_col,
    term_bucket_py,
    upsert_bm25_store,
)
from photo_vector_search_spark.sources.tables import load_table
from tests.oracle import assert_matches
from tests.test_bm25 import _twin_sql
from tests.test_scale_design import _scan_metrics

QUERY = "the quick brown fox"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bucket_hash_py_matches_spark_col(spark):
    terms = ["the", "quick", "Fox", "naïve", "重复", "a b", "", "0", "x" * 99]
    got = spark.createDataFrame(
        [(t,) for t in terms], "term string"
    ).select("term", term_bucket_col(F.col("term"), 64).alias("b")).collect()
    for r in got:
        assert r["b"] == term_bucket_py(r["term"], 64), r["term"]


def test_store_serving_matches_on_the_fly_and_duckdb(
    spark, sf_correct, tmp_path
):
    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "bm25")
    meta = build_bm25_store(docs, path)
    assert meta["n_docs"] == docs.filter(F.col("text").isNotNull()).count()

    # scores ≡ the on-the-fly operator's DuckDB twin (independent replay)
    assert_matches(bm25_store_scores(spark, path, QUERY), _twin_sql(QUERY), sf_correct)
    # top-k ≡ bm25_topk value-for-value, across a second (k1, b) setting
    for k1, b in ((1.2, 0.75), (0.9, 0.4)):
        got = _rows(bm25_store_topk(spark, path, QUERY, k=7, k1=k1, b=b))
        want = _rows(bm25_topk(docs, QUERY, k=7, k1=k1, b=b))
        assert got == want and len(got) == 7


def test_store_prunes_bucket_partitions(spark, sf_correct, tmp_path):
    """The store's whole point: a q-term query must scan ONLY its terms'
    bucket directories — asserted on runtime FileSourceScan metrics."""
    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "bm25")
    build_bm25_store(docs, path, n_buckets=16)
    postings, _dl, meta = load_bm25_store(spark, path)

    n_parts = postings.select("term_bucket").distinct().count()
    # two in-vocabulary terms from DIFFERENT buckets (a term whose bucket
    # has no rows at all prunes to zero directories — even better, but not
    # what this test measures)
    by_bucket = {
        r["term_bucket"]: r["_term"]
        for r in postings.select("_term", "term_bucket").distinct().collect()
    }
    assert len(by_bucket) >= 3
    picked = sorted(by_bucket.items())[:2]
    terms = [t for _, t in picked]
    buckets = sorted({term_bucket_py(t, 16) for t in terms})
    assert buckets == [b for b, _ in picked]
    probed = postings.filter(F.col("term_bucket").isin(buckets))
    metrics = _scan_metrics(probed)
    assert metrics["numPartitions"] == len(buckets), metrics
    full = _scan_metrics(postings)
    assert metrics["numFiles"] < full["numFiles"], (metrics, full)
    assert n_parts > len(buckets)  # pruning actually skipped something


def test_torn_pair_and_missing_store_refused(spark, sf_correct, tmp_path):
    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "bm25")
    with pytest.raises(ValueError, match="no BM25 store"):
        load_bm25_store(spark, path)

    build_bm25_store(docs, path)
    other = str(tmp_path / "bm25b")
    build_bm25_store(docs.limit(100), other)
    # sidecar from ANOTHER build paired with these postings → refused
    shutil.rmtree(path + ".meta")
    shutil.copytree(other + ".meta", path + ".meta")
    with pytest.raises(ValueError, match="content signature"):
        load_bm25_store(spark, path)

    # missing doclens half → refused with the missing piece named
    shutil.rmtree(path + ".meta")
    shutil.copytree(other + ".meta", path + ".meta")
    shutil.rmtree(path + ".doclens")
    with pytest.raises(ValueError, match="doclens"):
        load_bm25_store(spark, path)


def test_batch_matches_per_query_loop(spark, sf_correct, tmp_path):
    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "bm25")
    build_bm25_store(docs, path)
    qs = [(0, "the quick brown fox"), (1, "slow window scan"), (2, "customer data")]
    queries = spark.createDataFrame(qs, "query_id long, query string")
    got = _rows(
        bm25_store_batch_topk(spark, path, queries, k=5).select(
            "query_id", "doc_id", "bm25", "rank"
        )
    )
    want = []
    for qid, q in qs:
        for r in bm25_store_topk(spark, path, q, k=5).collect():
            want.append((qid, r["doc_id"], r["bm25"], r["rank"]))
    assert got == sorted(want)

    with pytest.raises(ValueError, match="duplicate query_id"):
        bm25_store_batch_topk(
            spark,
            path,
            spark.createDataFrame([(1, "a"), (1, "b")], "query_id long, query string"),
        )


def _composed(docs, new_docs, id_col="doc_id"):
    """The corpus an upsert semantically produces: new docs win by id."""
    return docs.join(
        new_docs.select(id_col), id_col, "left_anti"
    ).unionByName(new_docs)


def test_upsert_delete_live_compact_lifecycle(spark, sf_correct, tmp_path):
    docs = load_table(spark, sf_correct, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") < 400)
    path = str(tmp_path / "bm25")
    build_bm25_store(base, path)

    # upsert: 3 replaced docs + 2 brand-new ids
    new = spark.createDataFrame(
        [
            (0, "quick quick fox jumps"),
            (1, "an entirely new text about nothing"),
            (2, "fox fox fox"),
            (9000, "the quick addition"),
            (9001, "brown fox brown fox"),
        ],
        "doc_id long, text string",
    )
    assert upsert_bm25_store(spark, path, new) == 5
    composed = _composed(base, new)
    got = _rows(live_bm25_topk(spark, path, QUERY, k=8))
    want = _rows(bm25_topk(composed, QUERY, k=8))
    assert got == want

    # delete: one base doc and one upserted doc
    assert delete_from_bm25_store(spark, path, [0, 9001]) == 2
    composed2 = composed.filter(~F.col("doc_id").isin([0, 9001]))
    assert _rows(live_bm25_topk(spark, path, QUERY, k=8)) == _rows(
        bm25_topk(composed2, QUERY, k=8)
    )

    # revive: re-upserting a tombstoned id brings it back (delta wins)
    revive = spark.createDataFrame(
        [(9001, "fox quick fox quick")], "doc_id long, text string"
    )
    assert upsert_bm25_store(spark, path, revive) == 1
    composed3 = _composed(composed2, revive)
    live_before = _rows(live_bm25_topk(spark, path, QUERY, k=8))
    assert live_before == _rows(bm25_topk(composed3, QUERY, k=8))

    # compact folds everything; base serving ≡ the live view before it,
    # side tables are gone, and live == base afterwards
    n = compact_bm25_store(spark, path)
    assert n == composed3.count()
    assert _rows(bm25_store_topk(spark, path, QUERY, k=8)) == live_before
    assert _rows(live_bm25_topk(spark, path, QUERY, k=8)) == live_before
    import os

    for side in (".delta", ".dldelta", ".tombstones"):
        assert not os.path.exists(path + side)
    # exact live stats survived the fold
    _p, _d, meta = load_bm25_store(spark, path)
    assert meta["n_docs"] == composed3.count()


def test_zero_token_upsert_shadows_old_postings(spark, sf_correct, tmp_path):
    """A doc updated to empty text must stop matching but still count
    toward N/avgdl — exactly the on-the-fly semantics (and the place the
    BM25 store is MORE capable than the MaxSim store, which refuses)."""
    docs = load_table(spark, sf_correct, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25")
    build_bm25_store(docs, path)
    top = bm25_store_topk(spark, path, QUERY, k=1).first()
    hit = int(top["doc_id"])

    empty = spark.createDataFrame([(hit, "")], "doc_id long, text string")
    assert upsert_bm25_store(spark, path, empty) == 1
    composed = _composed(docs, empty)
    got = _rows(live_bm25_topk(spark, path, QUERY, k=8))
    assert got == _rows(bm25_topk(composed, QUERY, k=8))
    assert hit not in {r[0] for r in got}
    # still counted: live stats include the now-empty doc
    _p, _d, live_meta = load_live_bm25(spark, path)
    assert live_meta["n_docs"] == docs.count()

    # NULL text, by contrast, is unindexable and refused
    with pytest.raises(ValueError, match="NULL text"):
        upsert_bm25_store(
            spark,
            path,
            spark.createDataFrame([(hit, None)], "doc_id long, text string"),
        )
    with pytest.raises(ValueError, match="duplicate ids"):
        upsert_bm25_store(
            spark,
            path,
            spark.createDataFrame(
                [(5, "a"), (5, "b")], "doc_id long, text string"
            ),
        )


def test_crash_orphan_postings_ignored_and_replay_heals(
    spark, sf_correct, tmp_path
):
    """Simulated crash between the postings-delta swap and the dldelta
    swap: the orphan postings rows must be IGNORED (the old doc version
    keeps serving) and replaying the upsert heals — the module's write-order
    contract."""
    docs = load_table(spark, sf_correct, "documents").select("doc_id", "text")
    path = str(tmp_path / "bm25")
    build_bm25_store(docs, path)
    base_rows = _rows(bm25_store_topk(spark, path, QUERY, k=8))

    new = spark.createDataFrame(
        [(0, "quick fox replay"), (9000, "quick brown everything")],
        "doc_id long, text string",
    )
    assert upsert_bm25_store(spark, path, new) == 2
    # crash simulation: the dldelta swap never happened
    shutil.rmtree(path + ".dldelta", ignore_errors=True)
    shutil.rmtree(path + ".dldelta.old", ignore_errors=True)
    assert _rows(live_bm25_topk(spark, path, QUERY, k=8)) == base_rows

    # replay the SAME upsert → the intended composed view
    assert upsert_bm25_store(spark, path, new) == 2
    assert _rows(live_bm25_topk(spark, path, QUERY, k=8)) == _rows(
        bm25_topk(_composed(docs, new), QUERY, k=8)
    )


def test_dldelta_left_by_compaction_crash_keeps_upserted_docs(spark, tmp_path):
    """A dldelta left behind without its postings delta — what a compaction
    that crashes between clearing the two leaves when the postings delta
    goes first — must not shadow the folded postings: live serving and a
    re-run compaction still find the upserted docs."""
    docs = spark.createDataFrame(
        [(i, f"common words for doc {i}") for i in range(20)],
        "doc_id long, text string",
    )
    path = str(tmp_path / "bm25")
    build_bm25_store(docs, path, n_buckets=8)
    new = spark.createDataFrame(
        [(2, "zebra crossing"), (9000, "zebra stripes everywhere")],
        "doc_id long, text string",
    )
    upsert_bm25_store(spark, path, new)
    keep = str(tmp_path / "dldelta")
    shutil.copytree(path + ".dldelta", keep)
    compact_bm25_store(spark, path)
    shutil.copytree(keep, path + ".dldelta")

    live = _rows(live_bm25_topk(spark, path, "zebra", k=5))
    assert {r[0] for r in live} == {2, 9000}
    assert compact_bm25_store(spark, path) == 21
    assert _rows(bm25_store_topk(spark, path, "zebra", k=5)) == live


def test_parameter_validation(spark, sf_correct, tmp_path):
    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "bm25")
    build_bm25_store(docs, path)
    with pytest.raises(ValueError, match="no terms"):
        bm25_store_topk(spark, path, "   ")
    with pytest.raises(ValueError, match="k must be"):
        bm25_store_topk(spark, path, QUERY, k=0)
    with pytest.raises(ValueError, match="b must be"):
        bm25_store_topk(spark, path, QUERY, b=1.5)
    with pytest.raises(ValueError, match="n_buckets"):
        build_bm25_store(docs, str(tmp_path / "x"), n_buckets=0)
    with pytest.raises(ValueError, match="nothing to index"):
        build_bm25_store(
            docs.limit(0), str(tmp_path / "y")
        )


def test_streaming_incremental_bm25_index(spark, sf_correct, tmp_path):
    """Structured-Streaming rung (`incremental_bm25_index`): drained batches
    land in the delta segments (base untouched), live serving ≡ the composed
    corpus, NULL-text rows are dropped not refused, and a full replay from a
    fresh checkpoint leaves byte-identical delta state (replay idempotence)."""
    import os

    from photo_vector_search_spark.streaming.incremental import (
        incremental_bm25_index,
    )

    docs = load_table(spark, sf_correct, "documents").select("doc_id", "text")
    path = str(tmp_path / "store")
    build_bm25_store(docs.filter(F.col("doc_id") < 400), path)
    base_files = set(os.listdir(path))

    inp = str(tmp_path / "in")
    os.makedirs(inp)
    docs.filter((F.col("doc_id") >= 400) & (F.col("doc_id") < 450)).coalesce(
        1
    ).write.parquet(f"{inp}/b1")
    # batch 2 carries a NULL-text row (dropped) and an EMPTY-text doc
    # (indexed: dl=0, matches nothing — the semantics the MaxSim rung lacks)
    extra = docs.filter((F.col("doc_id") >= 450) & (F.col("doc_id") < 500))
    extra.unionByName(
        spark.createDataFrame(
            [(99999, None), (88888, "")], "doc_id long, text string"
        )
    ).coalesce(1).write.parquet(f"{inp}/b2")

    q = incremental_bm25_index(spark, inp + "/*", path, str(tmp_path / "c1"))
    q.awaitTermination()
    _post, _dl, live_meta = load_live_bm25(spark, path)
    assert live_meta["n_docs"] == 501  # 400 base + 100 streamed + empty doc
    assert set(os.listdir(path)) == base_files  # base untouched

    composed = docs.filter(F.col("doc_id") < 500).unionByName(
        spark.createDataFrame([(88888, "")], "doc_id long, text string")
    )
    got = _rows(live_bm25_topk(spark, path, QUERY, k=6))
    assert got == _rows(bm25_topk(composed, QUERY, k=6))

    def _delta_state():
        post = sorted(tuple(r) for r in spark.read.parquet(path + ".delta").collect())
        dl = sorted(tuple(r) for r in spark.read.parquet(path + ".dldelta").collect())
        return post, dl

    before = _delta_state()
    q2 = incremental_bm25_index(spark, inp + "/*", path, str(tmp_path / "c2"))
    q2.awaitTermination()
    assert _delta_state() == before


def test_rm3_store_serving_matches_corpus_rm3(spark, sf_correct, tmp_path):
    """r13: RM3 with both postings passes served from the store ≡ the
    corpus-pass `rm3_topk`/`rm3_batch_topk` value-for-value — the serving
    rung the bench's rm3 cases now measure."""
    from photo_vector_search_spark.operators.bm25 import (
        rm3_batch_topk,
        rm3_topk,
    )
    from photo_vector_search_spark.operators.bm25_store import (
        rm3_store_batch_topk,
        rm3_store_topk,
    )

    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "bm25_rm3")
    build_bm25_store(docs, path)

    got = rm3_store_topk(
        spark, path, docs, QUERY, k=8, fb_docs=5, fb_terms=6
    )
    want = rm3_topk(docs, QUERY, k=8, fb_docs=5, fb_terms=6)
    assert _rows(got) == _rows(want)

    queries = spark.createDataFrame(
        [
            (0, "the quick brown fox"),
            (1, "lazy dog jumps"),
            (2, "old river bank"),
        ],
        "query_id long, query string",
    )
    got_b = rm3_store_batch_topk(
        spark, path, docs, queries, k=8, fb_docs=5, fb_terms=6
    )
    want_b = rm3_batch_topk(docs, queries, k=8, fb_docs=5, fb_terms=6)
    assert _rows(got_b) == _rows(want_b)
    # non-default (k1, b) thread through both stages identically
    got_kb = rm3_store_topk(
        spark, path, docs, QUERY, k=5, fb_docs=4, fb_terms=3, k1=0.9, b=0.4
    )
    want_kb = rm3_topk(docs, QUERY, k=5, fb_docs=4, fb_terms=3, k1=0.9, b=0.4)
    assert _rows(got_kb) == _rows(want_kb)


def test_store_wrong_corpus_columns_refused(spark, sf_correct, tmp_path):
    """A store built over different (id, text) columns is refused by the
    shared `_tf_and_stats` store source, not silently mis-served."""
    from photo_vector_search_spark.operators.bm25 import bm25_topk as _topk

    docs = load_table(spark, sf_correct, "documents").select(
        F.col("doc_id").alias("pid"), F.col("text").alias("body")
    )
    path = str(tmp_path / "bm25_cols")
    build_bm25_store(docs, path, id_col="pid", text_col="body")
    postings, _dl, meta = load_bm25_store(spark, path)
    with pytest.raises(ValueError, match="wrong store"):
        _topk(
            docs, QUERY, k=3, id_col="doc_id", text_col="text",
            store=(postings, meta),
        )


def test_file_build_ids_footer_check(spark, sf_correct, tmp_path):
    """r13: the per-load build check reads parquet FOOTER stats (O(files)
    driver metadata, no Spark job) — same verdict as the full-scan distinct
    it replaced: a single clean build yields exactly its id; a dir holding
    files from two builds yields both (and would be refused)."""
    import os

    from photo_vector_search_spark.operators.store import _file_build_ids

    docs = load_table(spark, sf_correct, "documents")
    path = str(tmp_path / "bm25")
    meta = build_bm25_store(docs, path)
    assert _file_build_ids(path) == {meta["build_id"]}
    assert _file_build_ids(path + ".doclens") == {meta["build_id"]}

    other = str(tmp_path / "bm25b")
    meta_b = build_bm25_store(docs.limit(100), other)
    mixed = str(tmp_path / "mixed")
    os.makedirs(mixed)
    n = 0
    for src in (path + ".doclens", other + ".doclens"):
        for f in os.listdir(src):
            if f.endswith(".parquet"):
                shutil.copy(os.path.join(src, f), f"{mixed}/{n}.parquet")
                n += 1
    assert _file_build_ids(mixed) == {meta["build_id"], meta_b["build_id"]}
