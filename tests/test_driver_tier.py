"""The driver-local read tier (`operators/store.py` states the tier rule):
every store read it serves returns exactly the Spark tier's rows — forced
by setting `store.LOCAL_READ_ROWS` to 0 — and a single read runs no Spark
job and plans as a bare `LocalTableScan`. The formula twins the tier
scores with, Spark's `round(x, 6)`, the StrictMath idf and the driver's
RRF fusion, equal Spark's values, and choosing the tier reads no footer
the open did not read."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest
from pyspark.sql import functions as F

from photo_vector_search_spark.operators import store as store_mod
from tests.test_store_maintenance import WORDS, _jobs

N_TEXT = 40
TIES = (50, 51, 52)  # the same text and the same vector: exact score ties
DIM = 64  # the stub text embedding's, so the hybrid call can probe the store
# hand-written MaxSim rows: NULL tokens, no tokens beside a pooled vector
# aimed at NEAR_QUERY, one zero token, and two docs whose raw MaxSim
# against NEAR_QUERY is 2 - 4e-7 (id 73) and 2 - 1e-7 (id 74): the same
# 6-dp score, so they rank by id
NULL_TOKS, NO_TOKS, ZERO_TOK, NEAR_LOW, NEAR_HIGH = 70, 71, 72, 73, 74
NEAR_QUERY = "zzqa zzqb"  # terms in no corpus text


def _missing_bucket_term(path: str) -> str:
    """A term whose `term_bucket=` directory the store does not have."""
    from photo_vector_search_spark.operators.bm25_store import term_bucket_py

    for i in range(10_000):
        term = f"nowhere{i}"
        if not os.path.isdir(f"{path}/term_bucket={term_bucket_py(term)}"):
            return term
    raise AssertionError("every bucket holds a term")


@pytest.fixture(scope="module")
def stores(spark, tmp_path_factory):
    """A BM25 and an IVF,SQ8 store over one small corpus — zero-token docs,
    a NULL-text doc and three tied duplicates included — plus a copy of
    each with pending deltas and a copy compacted after the same upserts,
    and a MaxSim store over the corpus, unclustered and in 3 clusters,
    each with the hand-written rows added."""
    from photo_vector_search_spark.operators.bm25_store import (
        build_bm25_store,
        compact_bm25_store,
        upsert_bm25_store,
    )
    from photo_vector_search_spark.operators.index_maintenance import (
        compact_ivf_sq8_store,
        upsert_ivf_sq8_store,
    )
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
    )
    from photo_vector_search_spark.operators.sq import build_ivf_sq8_store

    rng = np.random.default_rng(11)
    texts = {
        i: " ".join(rng.choice(WORDS, size=int(rng.integers(5, 12))))
        for i in range(N_TEXT)
    }
    texts.update({40: "", 41: "   ", 42: None})
    texts.update(dict.fromkeys(TIES, "zebra zebra quick"))
    vecs = rng.normal(size=(N_TEXT, DIM))
    vecs = {i: v / np.linalg.norm(v) for i, v in enumerate(vecs)}
    vecs.update(dict.fromkeys(TIES, vecs[0]))

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    def vectors(rows):
        return spark.createDataFrame(
            [(i, i % 3, [float(x) for x in v]) for i, v in rows],
            "vec_id long, label int, embedding array<float>",
        )

    root = tmp_path_factory.mktemp("driver_tier")
    paths = {name: str(root / name) for name in ("bm25", "ivf")}
    build_bm25_store(docs(sorted(texts.items())), paths["bm25"])
    build_ivf_sq8_store(vectors(sorted(vecs.items())), paths["ivf"], n_clusters=4)
    new_texts = [(3, "zebra river stone"), (60, "quick quick fox"), (61, "")]
    new_vecs = [(3, vecs[7]), (60, -vecs[1])]
    for kind in ("deltas", "compacted"):
        for store in ("bm25", "ivf"):
            paths[f"{store}_{kind}"] = f"{paths[store]}_{kind}"
            for part in (".meta", ".doclens", ".ivfsqmeta", ""):
                src = paths[store] + part
                if os.path.isdir(src):
                    shutil.copytree(src, paths[f"{store}_{kind}"] + part)
        upsert_bm25_store(spark, paths[f"bm25_{kind}"], docs(new_texts))
        upsert_ivf_sq8_store(spark, paths[f"ivf_{kind}"], vectors(new_vecs))
    compact_bm25_store(spark, paths["bm25_compacted"])
    compact_ivf_sq8_store(spark, paths["ivf_compacted"])
    for name, n_clusters in (("maxsim", None), ("maxsim_clustered", 3)):
        paths[name] = str(root / name)
        build_maxsim_store(
            docs(sorted(texts.items())), paths[name], n_clusters=n_clusters
        )
        _add_maxsim_rows(spark, paths[name])
    paths["nowhere"] = _missing_bucket_term(paths["bm25"])
    paths["vec"] = [float(x) for x in vecs[0]]
    paths["docs"] = docs(sorted(texts.items()))
    return paths


def _add_maxsim_rows(spark, path: str) -> None:
    """Append the hand-written rows to the MaxSim store at ``path`` (into
    cluster 0 of a clustered one) and re-sign its ``.meta``."""
    from photo_vector_search_spark.operators.late_interaction import (
        _META_SCHEMA,
        load_maxsim_store,
    )
    from photo_vector_search_spark.operators.store import write_meta
    from photo_vector_search_spark.pipelines.embed import stub_embed_one

    toks, meta = load_maxsim_store(spark, path)
    q1, q2 = (np.array(stub_embed_one(t, DIM)) for t in NEAR_QUERY.split())
    near = {
        NEAR_LOW: [q1 * (1 - 4e-7), q2],
        NEAR_HIGH: [q1 * (1 - 1e-7), q2],
        ZERO_TOK: [np.zeros(DIM)],
    }
    rows = [(NULL_TOKS, None, None), (NO_TOKS, [], (q1 + q2).tolist())]
    rows += [
        (i, [t.tolist() for t in m], np.mean(m, axis=0).tolist())
        for i, m in near.items()
    ]
    clustered = "cluster_id" in toks.columns
    extra = spark.createDataFrame(
        [r + (0,) if clustered else r for r in rows], toks.schema
    )
    writer = extra.coalesce(1).write.mode("append")
    if clustered:
        writer = writer.partitionBy("cluster_id")
    writer.parquet(path)
    write_meta(
        spark, path, {**meta.asDict(), "n_docs": meta["n_docs"] + len(rows)},
        _META_SCHEMA,
    )


def _queries(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "query_id long, query string"
    )


def _cases():
    """name → call(spark, stores) returning the served frame."""
    from photo_vector_search_spark.operators import bm25_store as b
    from photo_vector_search_spark.operators.fusion import hybrid_store_search
    from photo_vector_search_spark.operators.index_maintenance import (
        live_ivf_sq8_topk,
    )
    from photo_vector_search_spark.operators.late_interaction import (
        maxsim_store_search as ms,
    )
    from photo_vector_search_spark.operators.maxsim_maintenance import (
        live_maxsim_search,
    )
    from photo_vector_search_spark.operators.sq import ivf_sq8_store_topk

    return {
        "bm25_topk": lambda s, p: b.bm25_store_topk(s, p["bm25"], "quick fox river", k=5),
        "bm25_absent_term": lambda s, p: b.bm25_store_topk(
            s, p["bm25"], "fox absentterm", k=5
        ),
        "bm25_missing_bucket": lambda s, p: b.bm25_store_topk(
            s, p["bm25"], f"{p['nowhere']} stone", k=5
        ),
        "bm25_only_missing_bucket": lambda s, p: b.bm25_store_topk(
            s, p["bm25"], p["nowhere"], k=5
        ),
        "bm25_ties_at_k": lambda s, p: b.bm25_store_topk(s, p["bm25"], "zebra", k=2),
        "bm25_k_over_matches": lambda s, p: b.bm25_store_topk(
            s, p["bm25"], "zebra", k=10
        ),
        "bm25_scores": lambda s, p: b.bm25_store_scores(s, p["bm25"], "quick zebra"),
        "bm25_batch": lambda s, p: b.bm25_store_batch_topk(
            s, p["bm25"], _queries(s, ["quick fox", "zebra", "stone absentterm"]), k=2
        ),
        "rm3_topk": lambda s, p: b.rm3_store_topk(
            s, p["bm25"], p["docs"], "river stone", k=5, fb_docs=3, fb_terms=4
        ),
        "rm3_batch": lambda s, p: b.rm3_store_batch_topk(
            s, p["bm25"], p["docs"], _queries(s, ["river stone", "zebra"]), k=5,
            fb_docs=3, fb_terms=4,
        ),
        "hybrid": lambda s, p: hybrid_store_search(
            s, p["bm25"], p["ivf"], "quick fox", k=5, nprobe=2
        ),
        # every fused score 0.0: the cut at k falls inside one tie
        "hybrid_ties_at_k": lambda s, p: hybrid_store_search(
            s, p["bm25"], p["ivf"], "quick fox", k=3, pool=6, nprobe=2,
            weights=(0.0, 0.0),
        ),
        "ivf_topk": lambda s, p: ivf_sq8_store_topk(s, p["ivf"], p["vec"], k=3, nprobe=2),
        "ivf_all_clusters": lambda s, p: ivf_sq8_store_topk(
            s, p["ivf"], p["vec"], k=6, nprobe=4
        ),
        "bm25_live_compacted": lambda s, p: b.live_bm25_topk(
            s, p["bm25_compacted"], "zebra quick", k=5
        ),
        "ivf_live_compacted": lambda s, p: live_ivf_sq8_topk(
            s, p["ivf_compacted"], p["vec"], k=5, nprobe=2
        ),
        "bm25_live_deltas": lambda s, p: b.live_bm25_topk(
            s, p["bm25_deltas"], "zebra quick", k=5
        ),
        "ivf_live_deltas": lambda s, p: live_ivf_sq8_topk(
            s, p["ivf_deltas"], p["vec"], k=5, nprobe=2
        ),
        "maxsim": lambda s, p: ms(s, p["maxsim"], "quick fox river", k=3, prefilter_n=8),
        "maxsim_near_tie": lambda s, p: ms(s, p["maxsim"], NEAR_QUERY, k=1, prefilter_n=4),
        "maxsim_prefilter_all": lambda s, p: ms(
            s, p["maxsim"], NEAR_QUERY, k=6, prefilter_n=100
        ),
        "maxsim_probe": lambda s, p: ms(
            s, p["maxsim_clustered"], "quick fox river", k=3, prefilter_n=8, nprobe=2
        ),
        "maxsim_all_clusters": lambda s, p: ms(
            s, p["maxsim_clustered"], NEAR_QUERY, k=4, prefilter_n=100, nprobe=3
        ),
        "maxsim_live_no_sides": lambda s, p: live_maxsim_search(
            s, p["maxsim"], "quick fox river", k=3, prefilter_n=8
        ),
        "maxsim_filter": lambda s, p: ms(
            s, p["maxsim"], "quick fox river", k=3, prefilter_n=8,
            filter=F.col("doc_id") < 30,
        ),
        "maxsim_expression": lambda s, p: ms(
            s, p["maxsim"], "quick fox river", k=3, prefilter_n=8, fast=False
        ),
    }


SINGLE = {
    "bm25_topk", "bm25_absent_term", "bm25_missing_bucket",
    "bm25_only_missing_bucket", "bm25_ties_at_k", "bm25_k_over_matches",
    "bm25_scores", "ivf_topk", "ivf_all_clusters", "bm25_live_compacted",
    "ivf_live_compacted", "hybrid", "hybrid_ties_at_k", "maxsim",
    "maxsim_near_tie", "maxsim_prefilter_all", "maxsim_probe",
    "maxsim_all_clusters", "maxsim_live_no_sides",
}
# the driver tier serves their reads; other Spark work remains
PARTLY = {"bm25_batch", "rm3_topk", "rm3_batch"}
# side tables present, a filter over the store's columns, or the
# expression scorer
SPARK_ONLY = {
    "bm25_live_deltas", "ivf_live_deltas", "maxsim_filter", "maxsim_expression",
}
# fused on the driver from the two collected runs on either tier
FUSED = {"hybrid", "hybrid_ties_at_k"}


def _plan(frame) -> list[str]:
    return frame._jdf.queryExecution().executedPlan().toString().strip().splitlines()


@pytest.mark.parametrize("case", sorted(SINGLE | PARTLY | SPARK_ONLY))
def test_driver_tier_equals_spark_tier(spark, stores, monkeypatch, case):
    call = _cases()[case]

    def served():
        frame = call(spark, stores)
        return frame, frame.collect()

    served()  # warm
    (frame, got), jobs = _jobs(spark, served)
    monkeypatch.setattr(store_mod, "LOCAL_READ_ROWS", 0)
    (spark_frame, want), spark_jobs = _jobs(spark, served)

    assert sorted(map(tuple, got)) == sorted(map(tuple, want))
    assert got or case == "bm25_only_missing_bucket"
    if case.startswith(("maxsim", "hybrid")):
        assert frame.schema == spark_frame.schema
    if case in SINGLE:
        assert jobs == 0
        assert len(_plan(frame)) == 1 and _plan(frame)[0].startswith("LocalTableScan")
    if case in SINGLE - {"bm25_only_missing_bucket"}:
        assert spark_jobs > 0
    if case in SINGLE - {"bm25_only_missing_bucket"} - FUSED:
        assert len(_plan(spark_frame)) > 1
    if case in PARTLY:
        assert 0 < jobs < spark_jobs
    if case in SPARK_ONLY:
        assert jobs == spark_jobs > 0 and len(_plan(frame)) > 1


def test_driver_tier_batch_equals_corpus_batch(spark, stores):
    """The store batch served on the driver tier equals the corpus-mode
    batch over the indexed docs, which stays on Spark."""
    from photo_vector_search_spark.operators.bm25 import bm25_batch_topk
    from photo_vector_search_spark.operators.bm25_store import (
        bm25_store_batch_topk,
    )

    queries = _queries(spark, ["quick fox", "zebra", "stone absentterm"])
    got = bm25_store_batch_topk(spark, stores["bm25"], queries, k=3).collect()
    want = bm25_batch_topk(stores["docs"], queries, k=3).collect()
    assert got and sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_batch_fanout_over_the_bound_runs_on_spark(spark, stores, monkeypatch):
    """A batch's driver-tier cost counts each postings row once per query
    holding its term: with the bound at the single read's rows, the single
    read stays on the driver and a 3-query batch over the same terms runs
    its Spark plan, with the same rows as on the driver tier."""
    from photo_vector_search_spark.operators.bm25_store import (
        _open_bm25,
        bm25_store_batch_topk,
        bm25_store_topk,
        term_bucket_py,
    )

    path, terms = stores["bm25"], ("quick", "fox")
    opened = _open_bm25(spark, path)
    single_rows = sum(
        batch.num_rows
        for batch in store_mod.local_read(
            opened.footers[""], "term_bucket",
            {term_bucket_py(t, opened.meta["n_buckets"]) for t in terms},
            ("doc_id",), "_term", dict.fromkeys(terms, 1),
        )
    )
    queries = _queries(spark, [" ".join(terms)] * 3)

    def batch():
        return bm25_store_batch_topk(spark, path, queries, k=3).collect()

    want, driver_jobs = _jobs(spark, batch)
    monkeypatch.setattr(store_mod, "LOCAL_READ_ROWS", single_rows)
    _, single_jobs = _jobs(
        spark, lambda: bm25_store_topk(spark, path, " ".join(terms), k=3).collect()
    )
    got, jobs = _jobs(spark, batch)
    assert single_jobs == 0
    assert jobs > driver_jobs == 1
    assert want and sorted(map(tuple, got)) == sorted(map(tuple, want))


@pytest.mark.parametrize(
    "case", ["bm25_batch", "rm3_batch", "ivf_all_clusters", "maxsim_prefilter_all"]
)
def test_driver_tier_batching_keeps_rows(spark, stores, monkeypatch, case):
    """The driver tier reads and scores `store.LOCAL_BATCH_ROWS` rows at a
    time; splitting the read into 7-row batches changes no row."""
    call = _cases()[case]
    want = call(spark, stores).collect()
    monkeypatch.setattr(store_mod, "LOCAL_BATCH_ROWS", 7)
    assert want and sorted(map(tuple, call(spark, stores).collect())) == sorted(
        map(tuple, want)
    )


def test_tie_order(spark, stores):
    """BM25 ranks by rounded score descending, then id ascending; IVF,SQ8
    by raw distance ascending, then vec_id ascending."""
    from photo_vector_search_spark.operators.bm25_store import bm25_store_topk
    from photo_vector_search_spark.operators.sq import ivf_sq8_store_topk

    rows = bm25_store_topk(spark, stores["bm25"], "zebra", k=2).collect()
    assert [(r["doc_id"], r["rank"]) for r in rows] == [(50, 1), (51, 2)]
    assert rows[0]["bm25"] == rows[1]["bm25"]
    rows = ivf_sq8_store_topk(spark, stores["ivf"], stores["vec"], k=3, nprobe=4).collect()
    assert [(r["vec_id"], r["rank"]) for r in rows] == [(0, 1), (50, 2), (51, 3)]


def test_maxsim_tie_order(spark, stores):
    """MaxSim ranks by the 6-dp score descending, then id ascending: the
    two docs whose raw scores differ by 3e-7 tie at 2.0, and the lower id
    — the lower raw score — ranks first on both tiers; the doc with no
    tokens is a candidate by its pooled vector but never scores."""
    from photo_vector_search_spark.operators.late_interaction import (
        maxsim_store_search,
    )

    def top(k):
        rows = maxsim_store_search(
            spark, stores["maxsim"], NEAR_QUERY, k=k, prefilter_n=4
        ).collect()
        return [(r["doc_id"], r["maxsim"], r["rank"]) for r in rows]

    assert top(1) == [(NEAR_LOW, 2.0, 1)]
    assert top(2) == [(NEAR_LOW, 2.0, 1), (NEAR_HIGH, 2.0, 2)]
    assert NO_TOKS not in [d for d, _, _ in top(4)]


def test_rrf_local_equals_rrf_fuse(spark):
    """`fusion._rrf_local`, the driver's fusion of one query's runs, equals
    `rrf_fuse` row for row and in schema: equal fused scores across the
    top_n cut (docs 5 and 9 at swapped ranks; doc 3 only in the first run
    and doc 4 only in the second, both at rank 3), a doc twice in a run,
    ranks below 1 and unequal weights."""
    from photo_vector_search_spark.functions.arrowkit import local_frame
    from photo_vector_search_spark.operators.fusion import (
        _HYBRID_SCHEMA,
        _rrf_local,
        rrf_fuse,
    )

    runs = [
        [(5, 1), (9, 2), (3, 3), (8, 4), (3, 7), (11, 0)],
        [(9, 1), (5, 2), (4, 3), (8, 4), (6, 5), (12, -1)],
    ]
    frames = [
        local_frame(
            spark, [(0, d, r) for d, r in run],
            "query_id int, doc_id long, rank int",
        )
        for run in runs
    ]
    for weights, top_n in (
        ((1.0, 1.0), 1), ((1.0, 1.0), 4), ((0.7, 1.3), 5), ((1.0, 1.0), 20),
    ):
        fused = rrf_fuse(frames, k=60, weights=list(weights), top_n=top_n).select(
            "doc_id", "rrf_score", "rank"
        )
        want = sorted(map(tuple, fused.collect()), key=lambda r: r[2])
        assert _rrf_local(runs, 60, weights, top_n) == want, (weights, top_n)
        assert fused.schema == _HYBRID_SCHEMA
    assert [d for d, _, _ in _rrf_local(runs, 60, (1.0, 1.0), 5)] == [5, 9, 8, 3, 4]
    with pytest.raises(ValueError, match="k must be > 0"):
        _rrf_local(runs, 0, (1.0, 1.0), 5)


def test_tier_choice_reads_only_the_open_footers(spark, stores, monkeypatch):
    """A driver-tier read parses each footer once, in the open's build
    check; the row-group read reuses it."""
    import pyarrow.parquet as pq

    from photo_vector_search_spark.operators.bm25_store import bm25_store_topk

    path = stores["bm25"]
    files = [
        os.path.join(root, f)
        for part in ("", ".doclens")
        for root, _, names in os.walk(path + part)
        for f in names
        if f.endswith(".parquet")
    ]
    read = []
    real = pq.read_metadata
    monkeypatch.setattr(
        pq, "read_metadata", lambda f, *a, **kw: read.append(f) or real(f, *a, **kw)
    )
    postings = []
    real_file = pq.ParquetFile

    def parquet_file(f, *a, metadata=None, **kw):
        if f in files:
            postings.append(metadata is not None)
        return real_file(f, *a, metadata=metadata, **kw)

    monkeypatch.setattr(pq, "ParquetFile", parquet_file)
    assert bm25_store_topk(spark, path, "quick fox", k=3).collect()
    assert sorted(read) == sorted(files)
    assert postings and all(postings)


def test_spark_round6_matches_spark_round(spark):
    """The rounding twin against `F.round(x, 6)` on 100k+ random scores and
    on half-way points and their neighbours, where Spark's HALF_UP on
    `Double.toString` digits decides."""
    from photo_vector_search_spark.functions.arrowkit import local_frame, spark_round6

    rng = np.random.default_rng(5)
    halves = (np.arange(1, 1001) + 0.5) / 1e6
    halves = np.concatenate([
        halves, np.nextafter(halves, 0), np.nextafter(halves, 1),
        halves + rng.integers(0, 60, size=halves.size),
    ])
    x = np.concatenate([
        rng.uniform(0, 60, 60_000),
        rng.exponential(3.0, 30_000),
        rng.uniform(-2, 2, 10_000),
        rng.uniform(0, 1e-5, 5_000),
        halves, -halves[:500],
        [0.0, -0.0, 5e-7, 2.5e-6, 1e10 + 0.5e-6, 123456.0000005, 4.5e15],
    ])
    want = (
        local_frame(spark, list(enumerate(x.tolist())), "i long, x double")
        .repartition(4)
        .select("i", F.round("x", 6).alias("r"))
        .toArrow()
        .sort_by("i")["r"]
        .to_numpy()
    )
    got = spark_round6(x)
    bad = np.flatnonzero(got != want)
    assert not bad.size, [(x[i], got[i], want[i]) for i in bad[:5]]
    assert not np.signbit(got[got == 0]).any()  # Spark has no -0.0 here


def test_idf_twin_matches_folded_idf_expr(spark, stores, sf_correct):
    """The driver tier's idf — `_idf_expr` over floats with StrictMath's
    log — equals the idf the Spark tier scores with, for every df in 1..N
    of the fixture stores: this module's, the maintenance matrix's 30 docs,
    the sf0.01 documents and the 5,000-doc serving corpus. For this
    module's stores the df is a literal, so Catalyst folds the whole
    expression, as it does when scoring; for the larger N, a column of
    dfs in a local relation is evaluated by the same ``Log.eval``."""
    from photo_vector_search_spark.functions.arrowkit import local_frame
    from photo_vector_search_spark.operators.bm25 import _idf_expr, _strict_log
    from photo_vector_search_spark.operators.bm25_store import load_bm25_store
    from photo_vector_search_spark.sources.tables import load_table

    def twin(n, d):
        return _idf_expr(n, float(d), float, _strict_log)

    folded = {
        load_bm25_store(spark, stores[p])[2]["n_docs"]
        for p in ("bm25", "bm25_compacted")
    }
    one = local_frame(spark, [(0,)], "z int")
    for n in sorted(folded):
        row = one.select(
            *[_idf_expr(n, F.lit(float(d))).alias(f"d{d}") for d in range(1, n + 1)]
        ).first()
        assert [row[f"d{d}"] for d in range(1, n + 1)] == [
            twin(n, d) for d in range(1, n + 1)
        ], n
    docs = load_table(spark, sf_correct, "documents")
    for n in (30, 5000, docs.filter(F.col("text").isNotNull()).count()):
        dfs = local_frame(spark, [(float(d),) for d in range(1, n + 1)], "df double")
        got = dfs.select(_idf_expr(n, F.col("df")).alias("idf")).toArrow()
        assert got["idf"].to_pylist() == [twin(n, d) for d in range(1, n + 1)], n
