"""Persisted MaxSim token store (`operators/late_interaction`,
build_maxsim_store / load_maxsim_store / maxsim_store_search): roundtrip
identity, torn-pair refusal under the shared content-signature contract,
store-served ≡ in-memory search, and the no-re-embed serving property
(serving reads the store's parquet, never the documents table)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.late_interaction import (
    build_maxsim_store,
    doc_token_embeddings,
    load_maxsim_store,
    maxsim_search,
    maxsim_store_search,
)
from photo_vector_search_spark.sources.tables import load_table

QUERY = "quick brown fox"


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)


def test_roundtrip_identity_and_meta(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "colbert_store")
    build_id = build_maxsim_store(docs, path, max_tokens=12, dim=32)
    toks, meta = load_maxsim_store(spark, path)
    assert meta["build_id"] == build_id
    assert (meta["max_tokens"], meta["dim"], meta["id_col"]) == (12, 32, "doc_id")
    want = {
        r["doc_id"]: [list(v) for v in r["tok_embs"]]
        for r in doc_token_embeddings(docs, max_tokens=12, dim=32).collect()
    }
    got = {
        r["doc_id"]: [list(v) for v in r["tok_embs"]] for r in toks.collect()
    }
    assert got == want  # byte-identical matrices, token order preserved
    assert meta["n_docs"] == len(want)


def test_store_served_equals_in_memory_search(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "colbert_store")
    build_maxsim_store(docs, path)
    for pf in (None, 40):
        served = maxsim_store_search(
            spark, path, QUERY, k=5, prefilter_n=pf
        ).collect()
        direct = maxsim_search(docs, QUERY, k=5, prefilter_n=pf).collect()
        assert [tuple(r) for r in served] == [tuple(r) for r in direct]


def test_torn_pair_is_refused(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "colbert_store")
    build_maxsim_store(docs, path)
    # simulate a crash between the two snapshot swaps: the main store is
    # rewritten (fresh part files -> new content signature) but the sidecar
    # still records the previous build
    toks = doc_token_embeddings(docs.limit(10))
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    snapshot_overwrite(toks, path)
    with pytest.raises(ValueError, match="torn"):
        load_maxsim_store(spark, path)
    # and a content-preserving rename inside the dir also trips it
    path2 = str(tmp_path / "colbert_store2")
    build_maxsim_store(docs.limit(20), path2)
    part = next(
        f for f in os.listdir(path2) if f.endswith(".parquet")
    )
    os.rename(
        os.path.join(path2, part), os.path.join(path2, "renamed-" + part)
    )
    with pytest.raises(ValueError, match="torn"):
        load_maxsim_store(spark, path2)


def test_serving_never_rereads_documents(spark, sf_dir, tmp_path, monkeypatch):
    """The store's point: serving must not re-embed the corpus. On the
    Spark tier the served plan's file scans read ONLY store paths — the
    documents parquet appears nowhere in the executed plan; on the driver
    tier the files pyarrow opens are store files, and the served frame
    reads none."""
    import pyarrow.parquet as pq

    from photo_vector_search_spark.operators import store as store_mod

    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "colbert_store")
    build_maxsim_store(docs, path)
    opened = []
    real = pq.ParquetFile
    monkeypatch.setattr(
        pq, "ParquetFile", lambda f, *a, **kw: opened.append(f) or real(f, *a, **kw)
    )
    out = maxsim_store_search(spark, path, QUERY, k=5, prefilter_n=40)
    assert out.collect() and not out.inputFiles()
    assert opened and all(f.startswith(path) for f in opened), opened  # + sidecars
    monkeypatch.setattr(store_mod, "LOCAL_READ_ROWS", 0)
    out = maxsim_store_search(spark, path, QUERY, k=5, prefilter_n=40)
    files = out.inputFiles()
    assert files, "plan reads no files?"
    assert all("colbert_store" in f for f in files), files
    assert not any("documents" in f for f in files), files


def test_clustered_store_full_probe_is_exact_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    """PLAID-style clustered layout: nprobe == n_clusters reproduces the
    unclustered result exactly; nprobe < n_clusters prunes whole cluster
    DIRECTORIES — asserted on runtime FileSourceScan metrics, not plan
    text (the ivf_sq8_store discipline)."""
    from tests.test_scale_design import _scan_metrics

    docs = _docs(spark, sf_dir)
    flat_path = str(tmp_path / "flat_store")
    clus_path = str(tmp_path / "clustered_store")
    build_maxsim_store(docs, flat_path)
    build_maxsim_store(docs, clus_path, n_clusters=4)
    toks, meta = load_maxsim_store(spark, clus_path)
    assert meta["n_clusters"] == 4
    assert set(toks.select("cluster_id").distinct().toPandas()["cluster_id"]) <= {
        0, 1, 2, 3
    }

    full = maxsim_store_search(
        spark, clus_path, QUERY, k=5, prefilter_n=40, nprobe=4
    ).collect()
    want = maxsim_store_search(
        spark, flat_path, QUERY, k=5, prefilter_n=40
    ).collect()
    assert [tuple(r) for r in full] == [tuple(r) for r in want]

    # pruning: a 2-of-4 probe must scan exactly 2 hive partitions
    probed = toks.filter(F.col("cluster_id").isin([0, 1]))
    metrics = _scan_metrics(probed)
    assert metrics["numPartitions"] == 2, metrics
    assert metrics["numFiles"] < _scan_metrics(toks)["numFiles"]

    # narrow probe still returns k results, each a TRUE MaxSim score
    narrow = maxsim_store_search(
        spark, clus_path, QUERY, k=5, prefilter_n=40, nprobe=1
    ).collect()
    assert len(narrow) == 5
    exact_scores = {(r["doc_id"], r["maxsim"]) for r in want} | {
        (r["doc_id"], r["maxsim"])
        for r in maxsim_store_search(spark, flat_path, QUERY, k=500).collect()
    }
    for r in narrow:
        assert (r["doc_id"], r["maxsim"]) in exact_scores


def test_clustered_store_guards_and_torn_centroids(spark, sf_dir, tmp_path):
    import pytest as _pytest

    docs = _docs(spark, sf_dir)
    flat_path = str(tmp_path / "flat_store")
    build_maxsim_store(docs, flat_path)
    with _pytest.raises(ValueError, match="CLUSTERED"):
        maxsim_store_search(spark, flat_path, QUERY, k=5, nprobe=2)

    clus_path = str(tmp_path / "clustered_store")
    build_maxsim_store(docs, clus_path, n_clusters=3)
    # stale centroids from a different build must refuse to probe
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    cents = spark.read.parquet(clus_path + ".centroids")
    snapshot_overwrite(
        cents.withColumn("build_id", F.lit("deadbeef")),
        clus_path + ".centroids",
    )
    with _pytest.raises(ValueError, match="torn"):
        maxsim_store_search(spark, clus_path, QUERY, k=5, nprobe=2)
    with _pytest.raises(ValueError, match="n_clusters"):
        build_maxsim_store(docs, str(tmp_path / "x"), n_clusters=0)
    # nprobe=0 guard needs a valid clustered store to reach the check
    clus2 = str(tmp_path / "clustered_store2")
    build_maxsim_store(docs.limit(30), clus2, n_clusters=2)
    with _pytest.raises(ValueError, match="nprobe must be"):
        maxsim_store_search(spark, clus2, QUERY, k=5, nprobe=0)


def test_sidecar_shape_guard(spark, sf_dir, tmp_path):
    docs = _docs(spark, sf_dir)
    path = str(tmp_path / "colbert_store")
    build_maxsim_store(docs, path)
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    meta = spark.read.parquet(path + ".meta")
    snapshot_overwrite(meta.unionByName(meta), path + ".meta")
    with pytest.raises(ValueError, match="exactly 1"):
        load_maxsim_store(spark, path)


def test_store_batch_search_equals_per_query_loop(spark, sf_dir, tmp_path):
    """maxsim_store_batch_search ≡ a Python loop of maxsim_store_search per
    query, across all three serving shapes: flat store + prefilter,
    clustered store + per-query probes + prefilter, and brute force."""
    from photo_vector_search_spark.operators.late_interaction import (
        maxsim_store_batch_search,
    )

    docs = _docs(spark, sf_dir)
    flat = str(tmp_path / "flat")
    clus = str(tmp_path / "clus")
    build_maxsim_store(docs, flat)
    build_maxsim_store(docs, clus, n_clusters=4)
    QS = [(0, "quick brown fox"), (1, "the lazy dog"), (2, "quality data")]
    queries = spark.createDataFrame(QS, "query_id long, query string")

    for path, kw in (
        (flat, dict(prefilter_n=40)),
        (clus, dict(prefilter_n=40, nprobe=2)),
        (clus, dict(prefilter_n=40, nprobe=4)),
        (flat, dict()),  # brute force (delegates to maxsim_batch_topk)
        (clus, dict(nprobe=2)),  # probed brute force (pair materialization)
    ):
        got = maxsim_store_batch_search(spark, path, queries, k=5, **kw)
        by_q = {}
        for r in got.collect():
            by_q.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["maxsim"], r["rank"])
            )
        for qid, qtext in QS:
            want = [
                (r["doc_id"], r["maxsim"], r["rank"])
                for r in maxsim_store_search(
                    spark, path, qtext, k=5, **kw
                ).collect()
            ]
            assert (
                sorted(by_q.get(qid, []), key=lambda t: t[2]) == want
            ), (path, kw, qid)
        assert sum(1 for q, _ in QS if by_q.get(q)) == 3

    import pytest as _pytest

    dup = spark.createDataFrame([(1, "a"), (1, "b")], "query_id long, query string")
    with _pytest.raises(ValueError, match="duplicate query_id"):
        maxsim_store_batch_search(spark, flat, dup, k=3)
    with _pytest.raises(ValueError, match="CLUSTERED"):
        maxsim_store_batch_search(spark, flat, queries, k=3, nprobe=2)
