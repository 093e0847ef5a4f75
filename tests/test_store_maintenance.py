"""The delta/tombstone maintenance contract (`operators/store.py`), checked
the same way on each of the four incrementally maintained stores — IVF,SQ8,
MaxSim, ColBERTv2 and BM25 — over tiny stores: upsert of new and replaced
ids, delete, revive, live view ≡ the composed corpus encoded under the
frozen build, foreign-build refusal, compaction identity, stale side tables
restored after compaction, and the Spark job count of every operation.
The open contract (`store.open_store`) is checked on all eight persisted
stores: a never-built store, a fresh load, every part recovered from a
crashed snapshot swap, and every part from another build refused."""

from __future__ import annotations

import itertools
import os
import re
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

N_BASE = 30
DIM = 16
WORDS = (
    "quick brown fox jumps over lazy dog river stone cloud rain forest "
    "light shadow mountain valley ocean wind fire earth metal glass paper "
    "silver golden bright quiet early late north south"
).split()

_GROUPS = itertools.count()


def _jobs(spark, fn, *args):
    """(result, number of Spark jobs ``fn`` launched) via a job group."""
    sc = spark.sparkContext
    group = f"store-maintenance-{next(_GROUPS)}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _payloads(spark, kind):
    """Every generated payload, numbered by ``n``: a unit vector with label
    n % 3, or a text. One materialized partition, so the store calls read
    no Python-side rows and run one task per input stage."""
    rng = np.random.default_rng(7)
    if kind == "ivf_sq8":
        vecs = rng.normal(size=(N_BASE + 10, DIM))
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        df = spark.createDataFrame(
            [(n, [float(x) for x in v], n % 3) for n, v in enumerate(vecs)],
            "n long, embedding array<float>, label int",
        )
    else:
        df = spark.createDataFrame(
            [
                (n, " ".join(rng.choice(WORDS, size=int(rng.integers(5, 12)))))
                for n in range(N_BASE + 10)
            ],
            "n long, text string",
        )
    return df.coalesce(1).localCheckpoint()


def _frame(payloads, id_col, rows):
    """Store input for ``rows``, a {id: payload number} dict."""
    ids = F.create_map(*[F.lit(x) for i, n in rows.items() for x in (n, i)])
    return payloads.filter(F.col("n").isin(list(rows.values()))).select(
        ids[F.col("n")].cast("long").alias(id_col),
        *[c for c in payloads.columns if c != "n"],
    )


def _ivf_sq8():
    from photo_vector_search_spark.operators.ann import assign_clusters
    from photo_vector_search_spark.operators.index_maintenance import (
        compact_ivf_sq8_store,
        delete_from_ivf_sq8_store,
        load_live_ivf_sq8,
        upsert_ivf_sq8_store,
    )
    from photo_vector_search_spark.operators.sq import (
        build_ivf_sq8_store,
        encode_sq8,
        load_ivf_sq8_store,
    )

    def expected(spark, path, corpus):
        _, centroids, model = load_ivf_sq8_store(spark, path)
        coded = encode_sq8(assign_clusters(corpus, centroids), model)
        return [coded.select("vec_id", "label", "cluster_id", "sq8")]

    return dict(
        id_col="vec_id",
        build=lambda df, path: build_ivf_sq8_store(df, path, n_clusters=4),
        upsert=upsert_ivf_sq8_store,
        delete=delete_from_ivf_sq8_store,
        live=lambda spark, path: [load_live_ivf_sq8(spark, path)[0]],
        base=lambda spark, path: [load_ivf_sq8_store(spark, path)[0]],
        expected=expected,
        compact=compact_ivf_sq8_store,
        sides=(".delta", ".tombstones"),
    )


def _token_rows(corpus, meta):
    from photo_vector_search_spark.operators.late_interaction import (
        doc_token_embeddings,
        with_pooled_column,
    )

    return with_pooled_column(
        doc_token_embeddings(
            corpus, max_tokens=meta["max_tokens"], dim=meta["dim"]
        )
    )


def _maxsim():
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
        load_maxsim_store,
    )
    from photo_vector_search_spark.operators.maxsim_maintenance import (
        compact_maxsim_store,
        delete_from_maxsim_store,
        load_live_maxsim,
        upsert_maxsim_store,
    )

    def expected(spark, path, corpus):
        _, meta = load_maxsim_store(spark, path)
        return [_token_rows(corpus, meta)]

    return dict(
        id_col="doc_id",
        build=lambda df, path: build_maxsim_store(df, path),
        upsert=upsert_maxsim_store,
        delete=delete_from_maxsim_store,
        live=lambda spark, path: [load_live_maxsim(spark, path)[0]],
        base=lambda spark, path: [load_maxsim_store(spark, path)[0]],
        expected=expected,
        compact=compact_maxsim_store,
        sides=(".delta", ".tombstones"),
    )


def _colbertv2():
    from photo_vector_search_spark.operators.cv2_maintenance import (
        compact_colbertv2_store,
        delete_from_colbertv2_store,
        load_live_colbertv2,
        upsert_colbertv2_store,
    )
    from photo_vector_search_spark.operators.token_compression import (
        build_colbertv2_store,
        encode_token_matrices,
        load_colbertv2_store,
    )

    def expected(spark, path, corpus):
        _, quant, meta = load_colbertv2_store(spark, path)
        return [encode_token_matrices(_token_rows(corpus, meta), quant)]

    return dict(
        id_col="doc_id",
        build=lambda df, path: build_colbertv2_store(df, path, n_centroids=8),
        upsert=upsert_colbertv2_store,
        delete=delete_from_colbertv2_store,
        live=lambda spark, path: [load_live_colbertv2(spark, path)[0]],
        base=lambda spark, path: [load_colbertv2_store(spark, path)[0]],
        expected=expected,
        compact=compact_colbertv2_store,
        sides=(".delta", ".tombstones"),
    )


def _bm25():
    from photo_vector_search_spark.operators.bm25_store import (
        _postings_of,
        _tokenized,
        build_bm25_store,
        compact_bm25_store,
        delete_from_bm25_store,
        load_bm25_store,
        load_live_bm25,
        upsert_bm25_store,
    )

    def expected(spark, path, corpus):
        toks = _tokenized(corpus, "doc_id", "text")
        return [
            _postings_of(toks, "doc_id", 8),
            toks.select("doc_id", F.size("_toks").alias("dl")),
        ]

    return dict(
        id_col="doc_id",
        build=lambda df, path: build_bm25_store(df, path, n_buckets=8),
        upsert=upsert_bm25_store,
        delete=delete_from_bm25_store,
        live=lambda spark, path: list(load_live_bm25(spark, path)[:2]),
        base=lambda spark, path: list(load_bm25_store(spark, path)[:2]),
        expected=expected,
        compact=compact_bm25_store,
        sides=(".delta", ".dldelta", ".tombstones"),
    )


KINDS = {
    "ivf_sq8": _ivf_sq8,
    "maxsim": _maxsim,
    "colbertv2": _colbertv2,
    "bm25": _bm25,
}

# Spark jobs per call on these tiny stores: upsert (2 new + 2 replaced ids),
# delete (2 ids), revive (1 id), live-view load, compaction.
JOBS = {
    "bm25": dict(upsert=7, delete=14, revive=12, live=4, compact=12),
    "colbertv2": dict(upsert=5, delete=10, revive=9, live=0, compact=9),
    "ivf_sq8": dict(upsert=4, delete=10, revive=8, live=0, compact=6),
    "maxsim": dict(upsert=5, delete=10, revive=9, live=0, compact=7),
}


def _rows(frames, like=None):
    """Sorted rows of each frame, on the columns of the matching ``like``
    frame when given."""
    like = like or frames
    return [
        sorted(map(str, f.select(*w.columns).collect()))
        for f, w in zip(frames, like)
    ]


@pytest.mark.parametrize("kind", sorted(KINDS))
def test_maintenance_contract(spark, tmp_path, kind):
    k = KINDS[kind]()
    payloads = _payloads(spark, kind)

    def frame(rows):
        return _frame(payloads, k["id_col"], rows)

    corpus = {i: i for i in range(N_BASE)}
    path = str(tmp_path / kind)
    k["build"](frame(corpus), path)
    jobs = {}

    # upsert: replace ids 0 and 1, add 9000 and 9001
    batch = {0: N_BASE, 1: N_BASE + 1, 9000: N_BASE + 2, 9001: N_BASE + 3}
    n, jobs["upsert"] = _jobs(spark, k["upsert"], spark, path, frame(batch))
    assert n == 4
    corpus.update(batch)
    # delete one base id and one upserted id
    gone = spark.range(1).select(F.explode(F.array(F.lit(2), F.lit(9000))))
    n, jobs["delete"] = _jobs(spark, k["delete"], spark, path, gone)
    assert n == 2
    del corpus[2], corpus[9000]
    # revive a deleted id with new content
    revive = {9000: N_BASE + 4}
    n, jobs["revive"] = _jobs(spark, k["upsert"], spark, path, frame(revive))
    assert n == 1
    corpus.update(revive)
    expected = k["expected"](spark, path, frame(corpus))
    want = _rows(expected)
    live, jobs["live"] = _jobs(spark, k["live"], spark, path)
    assert _rows(live, expected) == want

    # a side table stamped by another build is refused, not served
    aside = str(tmp_path / "aside")
    shutil.move(path + ".tombstones", aside)
    os.makedirs(path + ".tombstones")
    pq.write_table(
        pa.table({k["id_col"]: [7], "build_id": ["feedfacefeedface"]}),
        path + ".tombstones/part-0.parquet",
    )
    with pytest.raises(ValueError, match="different centroids"):
        k["live"](spark, path)
    shutil.rmtree(path + ".tombstones")
    shutil.move(aside, path + ".tombstones")

    # compaction: the verified base alone is the live view; side tables gone
    stale = str(tmp_path / "stale")
    for side in k["sides"]:
        if os.path.isdir(path + side):
            shutil.copytree(path + side, stale + side)
    n, jobs["compact"] = _jobs(spark, k["compact"], spark, path)
    assert n == len(corpus)
    assert not any(os.path.exists(path + side) for side in k["sides"])
    assert _rows(k["base"](spark, path), expected) == want

    # stale side tables restored after compaction (a crash before the
    # cleanup finished) leave the same live view
    for side in k["sides"]:
        if os.path.isdir(stale + side):
            shutil.copytree(stale + side, path + side)
    assert _rows(k["live"](spark, path), expected) == want

    assert jobs == JOBS[kind]


# ---------------------------------------------------------------------------
# the open contract (`store.open_store`), on every persisted store


def _open_kinds():
    """name → (label, payload kind, id column, build, load, parts); each
    store's builder is its loader's ``build_`` twin."""
    from photo_vector_search_spark.operators import (
        ann, bm25_store, bq, late_interaction, pq, sq, token_compression,
    )

    vec, text = ("ivf_sq8", "vec_id"), ("text", "doc_id")
    return {
        "ivf": (
            "IVF", *vec, lambda df, p: ann.build_ivf_store(df, p, n_clusters=4),
            ann.load_ivf_store, ("", ".centroids"),
        ),
        "sq8": ("SQ8", *vec, sq.build_sq8_store, sq.load_sq8_store, ("", ".sqmeta")),
        "ivf_sq8": (
            "IVF,SQ8", *vec,
            lambda df, p: sq.build_ivf_sq8_store(df, p, n_clusters=4),
            sq.load_ivf_sq8_store, ("", ".ivfsqmeta"),
        ),
        "ivfpq": (
            "IVF-PQ", *vec,
            lambda df, p: pq.build_ivfpq_store(df, p, n_clusters=4, m=4, k=8),
            pq.load_ivfpq_store, ("", ".pqmeta"),
        ),
        "bq": ("BQ", *vec, bq.build_bq_store, bq.load_bq_store, ("", ".bqmeta")),
        "maxsim": (
            "MaxSim", *text, late_interaction.build_maxsim_store,
            late_interaction.load_maxsim_store, ("", ".meta"),
        ),
        "colbertv2": (
            "ColBERTv2", *text,
            lambda df, p: token_compression.build_colbertv2_store(
                df, p, n_centroids=8
            ),
            token_compression.load_colbertv2_store, ("", ".quant", ".meta"),
        ),
        "bm25": (
            "BM25", *text,
            lambda df, p: bm25_store.build_bm25_store(df, p, n_buckets=8),
            bm25_store.load_bm25_store, ("", ".doclens", ".meta"),
        ),
    }


# Spark jobs of one load: the first after the build, or one that first
# recovers a part from its `.old` snapshot. The `.meta` and sidecar rows
# are read on the driver and every table's schema comes from its parquet
# footer, so none launches a job.
OPEN_JOBS = dict.fromkeys(
    ("bm25", "bq", "colbertv2", "ivf", "ivf_sq8", "ivfpq", "maxsim", "sq8"), 0
)


def _plain(x):
    """A loader's result as plain comparable values: frames as sorted row
    strings, arrays as lists."""
    from pyspark.sql import DataFrame

    if isinstance(x, DataFrame):
        return sorted(map(str, x.collect()))
    if isinstance(x, np.ndarray):
        return x.tolist()
    if isinstance(x, dict):
        return {k: _plain(v) for k, v in x.items()}
    if isinstance(x, (tuple, list)):
        return [_plain(v) for v in x]
    return x


@pytest.mark.parametrize("name", sorted(OPEN_JOBS))
def test_open_contract(spark, tmp_path, name):
    from photo_vector_search_spark.operators.store import read_rows

    label, payload, id_col, build, load, parts = _open_kinds()[name]
    builder = load.__name__.replace("load_", "build_")
    payloads = _payloads(spark, payload)
    path = str(tmp_path / name)

    # never built: refused with the builder to run, not a Spark error
    never = f"no {re.escape(label)} store at .* run {builder} first"
    with pytest.raises(ValueError, match=never):
        load(spark, path)

    build(_frame(payloads, id_col, {i: i for i in range(N_BASE)}), path)
    fresh, jobs = _jobs(spark, load, spark, path)
    assert jobs == OPEN_JOBS[name]
    assert fresh[0].select(id_col).distinct().count() == N_BASE
    want = _plain(fresh)

    # the opened tables have the schema Spark infers, partition columns
    # included; the driver-read rows are the ones Spark collects, in its
    # ascending NULLs-first order
    tables = ("", ".doclens") if name == "bm25" else ("",)
    for part, table in zip(tables, fresh):
        assert table.schema == spark.read.parquet(path + part).schema, part
    for part in parts[1:]:
        side = spark.read.parquet(path + part)
        order = [f.name for f in side.schema if f.dataType.typeName() != "array"]
        assert read_rows(path + part, order) == (
            side.orderBy(*order).collect()
        ), part

    # a crash between the two renames of a snapshot swap leaves only
    # `.old`: every part is recovered and the store serves as before
    for part in parts:
        os.rename(path + part, path + part + ".old")
        out, jobs = _jobs(spark, load, spark, path)
        assert not os.path.exists(path + part + ".old")
        assert _plain(out) == want, part
        assert jobs == OPEN_JOBS[name], part

    # any part taken from another build is refused as torn
    other = str(tmp_path / "other")
    build(_frame(payloads, id_col, {i: i + 10 for i in range(N_BASE)}), other)
    aside = str(tmp_path / "aside")
    for part in parts[1:]:
        shutil.move(path + part, aside)
        shutil.copytree(other + part, path + part)
        with pytest.raises(ValueError, match=f"torn pair.*{builder}"):
            load(spark, path)
        shutil.rmtree(path + part)
        shutil.move(aside, path + part)
    assert _plain(load(spark, path)) == want


def test_maxsim_heals_crashed_swaps(spark, tmp_path):
    """A MaxSim store whose base, `.meta` or `.centroids` survives only as
    `.old` serves the same top-k, and compaction heals it too."""
    from photo_vector_search_spark.operators.late_interaction import (
        build_maxsim_store,
        maxsim_store_search,
    )
    from photo_vector_search_spark.operators.maxsim_maintenance import (
        compact_maxsim_store,
    )

    docs = _frame(_payloads(spark, "text"), "doc_id", {i: i for i in range(N_BASE)})
    path = str(tmp_path / "maxsim")
    build_maxsim_store(docs, path, n_clusters=2)

    def top():
        return maxsim_store_search(
            spark, path, "quick fox over the river", k=5, nprobe=1
        ).collect()

    want = top()
    assert len(want) == 5
    for part in ("", ".centroids"):
        os.rename(path + part, path + part + ".old")
    assert top() == want
    os.rename(path + ".meta", path + ".meta.old")
    assert compact_maxsim_store(spark, path) == N_BASE
    assert top() == want


# ---------------------------------------------------------------------------
# the serving job budget, on tiny BM25 and IVF,SQ8 stores over one corpus

# Spark jobs of one call plus the collect of its result. Store opens launch
# none, and these KB-sized reads run on the driver tier, so a single read
# launches none either. The batch calls read the caller's query frame in
# one job; RM3's other jobs explode its feedback docs, and hybrid's fuse
# the two local rank lists.
SERVE_JOBS = {
    "bm25_store_topk": 0,
    "bm25_store_batch_topk": 1,
    "rm3_store_batch_topk": 6,
    "ivf_sq8_store_topk": 0,
    "hybrid_store_search": 3,
    "knn_batch_fast": 3,
}


def test_serving_job_budget(spark, tmp_path):
    from photo_vector_search_spark.operators.bm25_store import (
        bm25_store_batch_topk,
        bm25_store_topk,
        build_bm25_store,
        rm3_store_batch_topk,
    )
    from photo_vector_search_spark.operators.fusion import hybrid_store_search
    from photo_vector_search_spark.operators.knn import knn_batch_fast
    from photo_vector_search_spark.operators.sq import (
        build_ivf_sq8_store,
        ivf_sq8_store_topk,
    )
    from photo_vector_search_spark.pipelines.embed import stub_embedding_expr

    # the corpus arrives as parquet, the way a served corpus does
    corpus = str(tmp_path / "docs")
    _frame(
        _payloads(spark, "text"), "doc_id", {i: i for i in range(N_BASE)}
    ).write.parquet(corpus)
    docs = spark.read.parquet(corpus)
    bm25, ivf = str(tmp_path / "bm25"), str(tmp_path / "ivf")
    build_bm25_store(docs, bm25, n_buckets=8)
    vectors = str(tmp_path / "vectors")
    docs.select(
        F.col("doc_id").alias("vec_id"),
        (F.col("doc_id") % 3).cast("int").alias("label"),
        stub_embedding_expr(F.col("text")).alias("embedding"),
    ).write.parquet(vectors)
    emb = spark.read.parquet(vectors)
    build_ivf_sq8_store(emb, ivf, n_clusters=4)
    # list-built query frames: Python RDDs, scanned once per batch call
    queries = spark.createDataFrame(
        [(i, " ".join(WORDS[3 * i:3 * i + 3])) for i in range(4)],
        "query_id long, query string",
    )
    vec = emb.select("embedding").first()[0]
    vec_queries = spark.createDataFrame(
        [(i, [float(x) + 0.01 * i for x in vec]) for i in range(4)],
        "query_id long, query_vec array<double>",
    )
    calls = {
        "bm25_store_topk": lambda: bm25_store_topk(spark, bm25, "quick fox", k=5),
        "bm25_store_batch_topk": lambda: bm25_store_batch_topk(
            spark, bm25, queries, k=5
        ),
        "rm3_store_batch_topk": lambda: rm3_store_batch_topk(
            spark, bm25, docs, queries, k=5, fb_docs=3, fb_terms=4
        ),
        "ivf_sq8_store_topk": lambda: ivf_sq8_store_topk(
            spark, ivf, vec, k=5, nprobe=2
        ),
        "hybrid_store_search": lambda: hybrid_store_search(
            spark, bm25, ivf, "quick fox", k=5, nprobe=2
        ),
        "knn_batch_fast": lambda: knn_batch_fast(emb, vec_queries, k=5),
    }
    def served(call):
        out = call()
        assert out.collect()
        return out

    jobs, results = {}, {}
    for name, call in calls.items():
        served(call)  # warm: the budget is the steady per-call cost
        results[name], jobs[name] = _jobs(spark, served, call)

    # the fan-out frames are local relations, never a Python-backed scan
    for name in ("bm25_store_batch_topk", "rm3_store_batch_topk"):
        plan = results[name]._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan, name
        assert "ExistingRDD" not in plan, name
    assert jobs == SERVE_JOBS
