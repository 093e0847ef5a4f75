"""Approximate nearest neighbor: IVF (inverted-file) partition-pruned search
(SURVEY §4.1 row 1, option 3 — the 100 TB path for similarity search).

The reference delegates ANN to ChromaDB's HNSW graph (photo_vector_search.py:
17-20). A graph index doesn't map to Spark's execution model; the idiomatic
distributed equivalent is IVF: cluster the vectors, store a ``cluster_id`` column
(at rest: a partition/bucket key), and answer queries by scanning only the
``nprobe`` closest clusters. That turns top-k into a partition-pruned scan — at
scale, cluster pruning happens at the Parquet-partition level and the matmul
kernel (knn fast path) runs on the surviving fraction.

Training is a deterministic mini k-means on a driver-side sample (seeded,
kmeans++-lite): the index is small (k × dim floats) and broadcasts; assignment is
a map-only stage. Exact search remains the correctness anchor — ``ivf_topk`` is
bench/recall-tested against it, not oracle-declared (approximate results are
query-dependent, per FIXTURES.md exactness policy).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.knn import knn_topk
from photo_vector_search_spark.operators.store import (
    _store_signature,
    open_store,
    recover_store,
    snapshot_overwrite,
)


def train_centroids(
    embeddings: DataFrame,
    n_clusters: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic mini k-means (cosine space: vectors L2-normalized, centroids
    re-normalized each Lloyd step). Sample → driver NumPy; O(sample·k·dim·iters)."""
    rows = embeddings.select("embedding").limit(sample).collect()
    x = np.vstack([np.asarray(r["embedding"], dtype=np.float64) for r in rows])
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
    rng = np.random.RandomState(seed)
    centroids = x[rng.choice(len(x), size=min(n_clusters, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ centroids.T, axis=1)
        for c in range(len(centroids)):
            members = x[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
        centroids /= np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-300)
    return centroids


def assign_clusters(
    embeddings: DataFrame, centroids: np.ndarray, n_assign: int = 1
) -> DataFrame:
    """Add ``cluster_id`` = argmax cosine(centroid, vec). Map-only (mapInPandas
    matmul against the broadcast centroid matrix). At rest you'd write the table
    partitioned by this column: ``.write.partitionBy('cluster_id')`` — then the
    probe filter below prunes Parquet partitions, not just rows.

    ``n_assign > 1`` is build-time MULTI-PROBE (the IVF analogue of HNSW's
    multiple graph entry points): each vector lands in its ``n_assign`` nearest
    clusters, so a query whose true neighbor sits just across a Voronoi border
    still finds it in a probed cluster. Costs ×n_assign storage and assignment
    rows — the classic recall-for-space trade, chosen at INDEX BUILD time;
    ``ivf_topk`` dedups by vec_id so results never repeat. Still map-only."""
    bc = embeddings.sparkSession.sparkContext.broadcast(centroids)

    def _assign(batches):
        cent = bc.value
        na = min(n_assign, len(cent))
        for pdf in batches:
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            sims = m @ cent.T
            if na == 1:
                pdf = pdf.copy()
                pdf["cluster_id"] = np.argmax(sims, axis=1).astype(np.int32)
                yield pdf
                continue
            # top-na centroids per row → na output rows per input row
            top = np.argpartition(-sims, na - 1, axis=1)[:, :na]
            out = pdf.loc[pdf.index.repeat(na)].copy()
            out["cluster_id"] = top.reshape(-1).astype(np.int32)
            yield out

    schema = ", ".join(f"{c} {t}" for c, t in embeddings.dtypes) + ", cluster_id int"
    return embeddings.mapInPandas(_assign, schema=schema)


def build_ivf_store(
    embeddings: DataFrame,
    path: str,
    n_clusters: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
    n_assign: int = 1,
) -> np.ndarray:
    """Write-path half of IVF: train centroids, assign, and persist the store
    hive-partitioned by ``cluster_id`` (snapshot-swap like every store write).
    A centroid sidecar table lands at ``path + '.centroids'`` (``write_centroids``)
    so later sessions can probe without retraining. Returns the centroid
    matrix.

    This is the layout ``ivf_topk`` assumes at scale: the probe IN-filter prunes
    whole cluster directories at file-listing time (PartitionFilters — asserted
    on runtime scan metrics in tests/test_scale_design.py).

    Written and opened by the store protocol (``operators/store.py`` module
    docstring); ``build_id`` is the md5 of the centroid bytes. Served, a torn
    pair would pair NEW cluster assignments with OLD centroids and collapse
    probe recall."""
    import hashlib

    centroids = train_centroids(embeddings, n_clusters, sample, iters, seed)
    build_id = hashlib.md5(centroids.tobytes()).hexdigest()[:16]
    # n_assign > 1 = build-time multi-probe (each vector in its n nearest
    # clusters; queries pass the same n_assign so dedup windows size right)
    indexed = assign_clusters(embeddings, centroids, n_assign=n_assign).withColumn(
        "build_id", F.lit(build_id)  # constant column: dictionary-encoded, ~free
    )
    snapshot_overwrite(indexed, path, partition_by=["cluster_id"])
    spark = embeddings.sparkSession
    # per-cluster max-radius sidecar column: k floats that let
    # ``ivf_topk_adaptive`` prove exactness at query time (computed from the
    # WRITTEN store so it covers exactly the rows a reader will see).
    # ``built_rows`` lets ``load_cluster_radii`` detect a store grown past the
    # build (streaming increments keep build_id frozen by design) — a stale
    # radius UNDER-covers and would let the adaptive probe prune wrongly.
    written = spark.read.parquet(path)
    radii, built_rows = cluster_stats(written, centroids)
    write_centroids(spark, path, centroids, radii, built_rows, build_id, n_assign)
    return centroids


def write_centroids(
    spark, path: str, centroids, radii, built_rows: int, build_id: str, n_assign: int
) -> None:
    """Snapshot-swap the IVF centroid sidecar ``path + '.centroids'``, one
    row per centroid, for the base just written at ``path``. Besides the
    centroid and the build's ``build_id``, each row carries the
    ``ivf_topk_adaptive`` radius bound and what ``load_cluster_radii``
    needs to tell when that bound went stale: ``built_rows`` and
    ``store_sig``, the base's content signature as written now (any later
    rewrite changes it, not just count changes). ``n_assign`` is the
    build's multi-probe knob, so streamed increments and rebalances
    reproduce it instead of silently dropping to 1."""
    sig = _store_signature(path)
    rows = [
        (i, [float(x) for x in c], float(radii[i]), built_rows, build_id, sig, n_assign)
        for i, c in enumerate(centroids)
    ]
    snapshot_overwrite(
        spark.createDataFrame(
            rows,
            "centroid_id int, centroid array<double>, radius double, "
            "built_rows long, build_id string, store_sig string, n_assign int",
        ),
        path + ".centroids",
    )


def load_ivf_store(spark, path: str) -> tuple[DataFrame, np.ndarray]:
    """(store DataFrame with cluster_id partition column, centroid matrix),
    opened by ``store.open_store``."""
    opened = open_store(
        spark, path, "IVF", "build_ivf_store",
        sidecar=".centroids", order_by=("centroid_id",),
    )
    cents = [np.asarray(r["centroid"], dtype=np.float64) for r in opened.rows]
    return opened.tables[0], np.vstack(cents)


def load_cluster_radii(
    spark, path: str, loaded: tuple[DataFrame, np.ndarray] | None = None
) -> np.ndarray:
    """Per-cluster radii for ``ivf_topk_adaptive``, from the centroid sidecar
    when still valid, else recomputed.

    The sidecar radius is only an upper bound for the rows present AT BUILD;
    a store grown by streaming increments (same build_id by design,
    ``streaming/incremental.py``) can hold points beyond it, and an
    under-covering radius would let the adaptive probe prune a cluster that
    holds the true neighbor — silently breaking its exactness proof. So the
    sidecar records the store's content signature (``store_sig``) and this
    loader recomputes (one map pass + k-row agg) whenever the store directory
    has been rewritten since — catching count-preserving pure upserts that a
    ``built_rows`` check misses (a replaced vector can sit beyond the recorded
    radius and break the adaptive probe's exactness bound). Older sidecars
    without the signature fall back to the row-count check; sidecars predating
    the radius column always recompute.

    ``loaded``: pass an already-``load_ivf_store``'d (store, centroids) pair
    to skip re-loading (``ivf_search`` does — without it the adaptive path
    paid the full-store build_id consistency scan twice per query)."""
    if loaded is None:
        # recovery FIRST (inside load_ivf_store): reading the sidecar before
        # recover_store would crash on a half-swapped '.centroids' dir whose
        # only copy sits in '.centroids.old' — the state recovery exists to heal
        loaded = load_ivf_store(spark, path)
    store, centroids = loaded
    sidecar = spark.read.parquet(path + ".centroids")
    if "radius" not in sidecar.columns or "built_rows" not in sidecar.columns:
        return cluster_radii(store, centroids)
    rows = sidecar.orderBy("centroid_id").collect()
    if "store_sig" in sidecar.columns and rows[0]["store_sig"]:
        if _store_signature(path) != rows[0]["store_sig"]:
            return cluster_radii(store, centroids)
    elif store.count() != rows[0]["built_rows"]:
        return cluster_radii(store, centroids)
    return np.array([r["radius"] for r in rows], dtype=np.float64)


def stored_n_assign(spark, path: str) -> int:
    """The build-time multi-assign knob the centroid sidecar recorded
    (1 for sidecars predating the column). Streamed increments and default
    rebalances read it so the store's recall contract survives both."""
    recover_store(path + ".centroids")  # heal a half-swap before reading
    side = spark.read.parquet(path + ".centroids")
    if "n_assign" not in side.columns:
        return 1
    first = side.select("n_assign").first()
    return int(first["n_assign"]) if first and first["n_assign"] is not None else 1


def ivf_topk(
    indexed: DataFrame,
    centroids: np.ndarray,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int = 4,
    n_assign: int = 1,
) -> DataFrame:
    """Top-k over only the ``nprobe`` clusters nearest to the query.

    ``indexed`` must carry ``cluster_id`` (from ``assign_clusters``). The filter
    is an IN-list over a tiny set → pushed to the scan; with the table partitioned
    by cluster_id it prunes whole files. Recall < 1 is the explicit trade: tested
    against exact ``knn_topk`` with a recall floor.

    ``n_assign`` must match the store's build (``assign_clusters`` n_assign): a
    multi-assigned store can surface the same vector from two probed clusters,
    so the query takes the top k·n_assign rows (each vector appears ≤ n_assign
    times → that window holds ≥ k distinct ids) and dedups THAT — a ≤ k·n_assign
    row exchange, keeping the probed scan itself shuffle-free like the
    single-assign plan (scan → project → TakeOrderedAndProject)."""
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-300)
    probe = np.argsort(-(centroids @ q))[:nprobe].tolist()
    pruned = indexed.filter(F.col("cluster_id").isin(probe))
    if n_assign <= 1:
        return knn_topk(pruned, query_vec, k=k)
    over = knn_topk(pruned, query_vec, k=k * n_assign)
    return over.dropDuplicates(["vec_id"]).orderBy("dist", "vec_id").limit(k)


def cluster_radii(indexed: DataFrame, centroids: np.ndarray) -> np.ndarray:
    """Per-cluster max L2 distance of L2-normalized members to their (unit)
    centroid — the sidecar statistic ``ivf_topk_adaptive``'s exact bound needs.
    One map stage of per-Arrow-batch partial maxima + a k-row groupBy max; at
    scale this is computed once at index build (alongside the centroid sidecar)
    and is k floats, like the centroids themselves."""
    import pandas as pd

    bc = indexed.sparkSession.sparkContext.broadcast(centroids)

    def _partial(batches):
        cent = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64, copy=False)
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            cid = pdf["cluster_id"].to_numpy()
            d = np.linalg.norm(m - cent[cid], axis=1)
            yield (
                pd.DataFrame({"cluster_id": cid, "r": d})
                .groupby("cluster_id", as_index=False)["r"]
                .max()
            )

    parts = indexed.mapInPandas(_partial, schema="cluster_id int, r double")
    radii = np.zeros(len(centroids), dtype=np.float64)
    for row in parts.groupBy("cluster_id").agg(F.max("r").alias("r")).collect():
        radii[row["cluster_id"]] = row["r"]
    return radii


def cluster_stats(
    indexed: DataFrame, centroids: np.ndarray
) -> tuple[np.ndarray, int]:
    """``cluster_radii`` plus the store row count in ONE scan — the sidecar
    pass for build/rewrite paths, which need both and should not pay two
    jobs for them (round-10 review fix: ``prune_ivf_store`` previously
    re-read the written store twice, once for radii and once for count).
    Same kernel: per-Arrow-batch partial (max radius, row count) per
    cluster, then a k-row final agg; returns (radii, total_rows)."""
    import pandas as pd

    bc = indexed.sparkSession.sparkContext.broadcast(centroids)

    def _partial(batches):
        cent = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            m = m / np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-300)
            cid = pdf["cluster_id"].to_numpy()
            d = np.linalg.norm(m - cent[cid], axis=1)
            yield (
                pd.DataFrame({"cluster_id": cid, "r": d})
                .groupby("cluster_id", as_index=False)
                .agg(r=("r", "max"), n=("r", "size"))
            )

    parts = indexed.mapInPandas(
        _partial, schema="cluster_id int, r double, n long"
    )
    radii = np.zeros(len(centroids), dtype=np.float64)
    total = 0
    for row in (
        parts.groupBy("cluster_id")
        .agg(F.max("r").alias("r"), F.sum("n").alias("n"))
        .collect()
    ):
        radii[row["cluster_id"]] = row["r"]
        total += row["n"]
    return radii, total


def ivf_topk_adaptive(
    indexed: DataFrame,
    centroids: np.ndarray,
    radii: np.ndarray,
    query_vec: Sequence[float],
    k: int = 5,
    max_probe: int | None = None,
    n_assign: int = 1,
    start_probe: int = 1,
    return_stats: bool = False,
):
    """Distribution-adaptive multi-probe IVF: probe clusters in ascending
    centroid-distance order, in geometrically growing batches, and STOP as soon
    as the running k-th distance beats the best any unprobed cluster could
    possibly hold — at which point the result is provably the EXACT top-k.

    The bound is the triangle inequality on the unit sphere: a member x of
    cluster c satisfies ||q−x|| ≥ ||q−c|| − r_c (r_c = ``cluster_radii``), so
    once the running k-th L2 distance ≤ min over unprobed c of (||q−c|| − r_c),
    no unprobed cluster can improve the answer. This is the IVF re-expression
    of the reference HNSW's distribution-INDEPENDENT recall
    (photo_vector_search.py:17-20): recall is 1.0 by construction whenever the
    loop exits on the bound (always, if ``max_probe`` is None) — what varies
    with the data's geometry is the COST. Tight clusters (real encoder output)
    exit after probing ~1-2 cells; adversarial uniform-random data has cluster
    radii comparable to inter-centroid distances, every lower bound clamps to
    ~0, and the loop honestly degrades to a full scan (measured in
    SCALE_BENCH.md — no parameter setting can fix that geometry, which is why
    the capped ``ivf_topk`` remains the budgeted-latency path).

    Driver-side state is k rows per batch (a top-k query's own result size);
    each batch scans only its new clusters, so total bytes read equal a single
    ``ivf_topk`` at the exit probe count — at rest the IN-filter prunes
    partition directories exactly like ``ivf_topk``.

    Returns the result DataFrame, or (DataFrame, stats) with
    ``{"probed": n, "n_clusters": k, "exact": bool}`` when ``return_stats``."""
    import math

    spark = indexed.sparkSession
    q = np.asarray(query_vec, dtype=np.float64)
    q = q / max(np.linalg.norm(q), 1e-300)
    sims = centroids @ q
    order = np.argsort(-sims)
    d_cent = np.sqrt(np.maximum(2.0 - 2.0 * sims[order], 0.0))
    lower = np.maximum(d_cent - radii[order], 0.0)
    # suffix_min[i] = best (smallest) possible member distance among clusters
    # order[i:] — the early-exit threshold after probing the first i clusters
    suffix_min = np.minimum.accumulate(lower[::-1])[::-1]
    cap = len(order) if max_probe is None else min(max_probe, len(order))

    best: dict = {}
    probed, batch, exact = 0, max(1, start_probe), False
    while probed < cap:
        nxt = min(cap, probed + batch)
        ids = [int(c) for c in order[probed:nxt]]
        probed, batch = nxt, batch * 2
        part = knn_topk(
            indexed.filter(F.col("cluster_id").isin(ids)),
            query_vec,
            k=k * max(1, n_assign),
            raw=True,  # merge on RAW distances: the k-boundary tie-break must
            # reproduce the global single-pass ordering, and rounded values
            # could flip it
        )
        for r in part.collect():  # ≤ k·n_assign rows — result-sized
            old = best.get(r.vec_id)
            if old is None or (r.dist, r.vec_id) < (old.dist, old.vec_id):
                best[r.vec_id] = r
        top = sorted(best.values(), key=lambda r: (r.dist, r.vec_id))[:k]
        if len(top) == k:
            if probed >= len(order):
                exact = True
                break
            # raw cosine distance; on unit vectors ||q−x||² = 2·dist. The tiny
            # margin absorbs float noise so the exactness claim survives it.
            kth_l2 = math.sqrt(max(0.0, 2.0 * top[-1].dist))
            if suffix_min[probed] >= kth_l2 + 1e-9:
                exact = True
                break
    exact = exact or probed >= len(order)  # probed everything ⇒ exact by scan
    top = sorted(best.values(), key=lambda r: (r.dist, r.vec_id))[:k]
    out = spark.createDataFrame(
        [(r.vec_id, r.label, r.dist) for r in top],
        "vec_id long, label int, dist double",
        # round in Spark (HALF_UP, the engine-portable discipline every oracle
        # pair uses) — Python's round() is half-even and could diverge
    ).select("vec_id", "label", F.round("dist", 6).alias("dist"))
    if return_stats:
        return out, {"probed": probed, "n_clusters": len(order), "exact": exact}
    return out


def ivf_near_dup_pairs(
    embeddings: DataFrame,
    tau: float = 0.45,
    n_clusters: int = 16,
    n_assign: int = 2,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
    block_rows: int = 1024,
    max_cluster_rows: int | None = None,
) -> DataFrame:
    """Cluster-blocked embedding near-dup pairs — the 100 TB rung of the
    near-dup ladder promised by ``dedup.embedding_near_dup_pairs`` (SemDeDup's
    blocking scheme, Abbas et al. 2023, re-expressed as one keyed shuffle).

    Instead of the exact O(N²) self-join or a driver-side broadcast matmul
    (``dedup.embedding_near_dup_fast``, size-guarded), vectors are k-means
    clustered (``train_centroids`` — driver-sample train, map-only assign) and
    all-pairs cosine runs ONLY inside each cluster: one shuffle on
    ``cluster_id``, then a per-group BLAS block. Expected work drops from N²/2
    to Σ_c B_c²/2 ≈ N²/(2C) for balanced clusters — and, unlike SRP-LSH's
    fixed-plane buckets, the blocks follow the data's own density, which is
    what makes this the high-recall mid rung on clustered corpora (real
    encoder output; see SCALE_BENCH.md geometry table).

    Semantics: PRECISION IS EXACT (every emitted pair carries the true cosine,
    rounded like the exact path); RECALL is the blocking trade — a pair whose
    endpoints never co-occur in any assigned cluster is missed.
    ``n_assign > 1`` assigns each vector to its n nearest clusters (the same
    build-time multi-probe as ``assign_clusters``), catching Voronoi-border
    pairs; pairs found in several shared clusters are deduped by a final
    groupBy over the (already τ-filtered, output-sized) pair rows.

    Scale design: centroid train is a bounded driver sample (k·dim floats
    broadcast); assignment is map-only; the only data-sized shuffle is the
    groupBy(cluster_id) feeding ``applyInPandas``; within a group the
    similarity block is computed ``block_rows`` rows at a time so peak memory
    is O(block_rows · B_c), not B_c². A group must still FIT an executor
    (B_c · dim · 8 bytes — the per-cluster analogue of the broadcast guard):
    size ``n_clusters ≈ N / target_cluster_rows`` at build, and use
    ``max_cluster_rows`` to fail loudly (with the re-route advice) instead of
    OOMing when the clustering collapses. Cf. the reference's HNSW store
    (photo_vector_search/photo_vector_search.py:17-20), which has no bulk
    pairwise surface at all — this operator is the engine-native extension.
    """
    import pandas as pd

    dims = embeddings.agg(
        F.count(F.lit(1)).alias("n"),
        F.min(F.size("embedding")).alias("lo"),
        F.max(F.size("embedding")).alias("hi"),
    ).first()
    # pair schema follows the input id type (string paths and long ids both
    # flow through — semdedup/photo_curation call with id_col='path')
    id_type = dict(embeddings.dtypes)["vec_id"]
    pair_schema = f"vec_a {id_type}, vec_b {id_type}, sim double"
    if not dims["n"]:
        return embeddings.sparkSession.createDataFrame([], pair_schema)
    if dims["lo"] != dims["hi"]:
        raise ValueError(
            "ivf_near_dup_pairs requires a single embedding dimension, found "
            f"{dims['lo']}-{dims['hi']} (mixed-model table? filter to one model "
            "or re-index before deduping)"
        )
    centroids = train_centroids(
        embeddings, n_clusters=n_clusters, sample=sample, iters=iters, seed=seed
    )
    assigned = assign_clusters(
        embeddings.select("vec_id", "embedding"), centroids, n_assign=n_assign
    )
    if max_cluster_rows is not None:
        worst = (
            assigned.groupBy("cluster_id")
            .agg(F.count(F.lit(1)).alias("b"))
            .agg(F.max("b").alias("worst"))
            .first()["worst"]
        )
        if worst > max_cluster_rows:
            raise ValueError(
                f"ivf_near_dup_pairs: largest cluster holds {worst} rows "
                f"(limit {max_cluster_rows}) — clustering collapsed for this "
                "corpus. Raise n_clusters (target N/n_clusters rows per "
                "cluster), lower n_assign, or use the fully distributed "
                "srp_lsh_near_dup_pairs rung"
            )

    def _pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)  # deterministic block order (input order isn't)
        ids = ids[order]
        mat = np.vstack(pdf["embedding"].to_numpy()[order]).astype(
            np.float64, copy=False
        )
        norms = np.linalg.norm(mat, axis=1)
        out = []
        for s0 in range(0, len(ids), block_rows):
            blk, bn = mat[s0 : s0 + block_rows], norms[s0 : s0 + block_rows]
            # dot/(|a|·|b|) — the exact path's formula; zero-norm rows → NaN,
            # which fails `>= tau` and drops out exactly like its NULL sims
            with np.errstate(divide="ignore", invalid="ignore"):
                sims = (blk @ mat.T) / np.outer(bn, norms)
            bi, bj = np.nonzero(
                (sims >= tau) & (ids[s0 : s0 + block_rows, None] < ids[None, :])
            )
            s = sims[bi, bj]
            # HALF_UP like F.round — np.round is banker's and can diverge
            out.append(
                pd.DataFrame(
                    {
                        "vec_a": ids[s0 + bi],
                        "vec_b": ids[bj],
                        "sim": np.sign(s) * np.floor(np.abs(s) * 1e6 + 0.5) / 1e6,
                    }
                )
            )
        if not out:
            empty = pd.DataFrame({"vec_a": [], "vec_b": [], "sim": []})
            return (
                empty.astype(
                    {"vec_a": "int64", "vec_b": "int64", "sim": "float64"}
                )
                if id_type == "bigint"
                else empty.astype({"sim": "float64"})
            )
        return pd.concat(out, ignore_index=True)

    pairs = assigned.groupBy("cluster_id").applyInPandas(
        _pairs, schema=pair_schema
    )
    if n_assign <= 1:
        return pairs
    # multi-assign can surface a pair from every shared cluster; the dedup
    # shuffle moves only τ-filtered pair rows (output-sized, not data-sized).
    # max() over byte-identical recomputations of the same rounded cosine.
    return pairs.groupBy("vec_a", "vec_b").agg(F.max("sim").alias("sim"))


def rebalance_ivf_store(
    spark,
    path: str,
    n_clusters: int | None = None,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 42,
    n_assign: int | None = None,
) -> np.ndarray:
    """Re-train and re-assign an existing IVF store — the REBUILD half of the
    serving pattern whose serve half is ``streaming/incremental.py``'s frozen
    codebook: increments stream in against frozen centroids (drift accrues as
    growing radii and skewed cluster sizes), and this operator periodically
    re-fits the geometry to the corpus the store actually holds now.

    Mechanics: load + consistency-check the current store, collapse
    multi-assign duplicates to one row per ``vec_id``, then run the standard
    ``build_ivf_store`` on the store's own content back onto the same path —
    safe because every snapshot write stages to a temp dir (materializing the
    read of the old snapshot) BEFORE the swap. Both sidecars (centroids,
    radii, built_rows) are rewritten under the NEW build_id, so a crash at any
    point leaves either the intact old build or the intact new one, and
    ``load_ivf_store``'s torn-pair check rejects a half-swap exactly as it
    does for a first build.

    ``n_clusters`` defaults to the store's current cluster count; pass a
    larger value as the corpus grows (the N/target_cluster_rows sizing rule —
    see ``ivf_near_dup_pairs``). ``n_assign`` defaults to the value the
    sidecar recorded at build (so a rebalance preserves the store's
    multi-probe recall contract); pass an explicit value to change the knob
    at rebuild time. Cost: one bounded driver sample for k-means + two
    map-only passes (assign, radii) + the partitioned rewrite — the same
    O(data) as the original build, run at rebuild cadence, never per batch."""
    store, centroids = load_ivf_store(spark, path)
    if n_clusters is None:
        n_clusters = len(centroids)
    if n_assign is None:
        n_assign = stored_n_assign(spark, path)
    # dropDuplicates collapses multi-assign rows AND hash-shuffles on vec_id —
    # the shuffle matters beyond dedup: a cluster-partitioned store reads in
    # cluster-id order, and train_centroids' bounded driver sample takes the
    # FIRST rows; the hash mix keeps the re-fit sample cluster-unbiased once
    # the corpus exceeds the sample size.
    vectors = store.drop("cluster_id", "build_id").dropDuplicates(["vec_id"])
    return build_ivf_store(
        vectors,
        path,
        n_clusters=n_clusters,
        sample=sample,
        iters=iters,
        seed=seed,
        n_assign=n_assign,
    )


def ivf_search(
    spark,
    path: str,
    query_vec: Sequence[float],
    k: int = 5,
    nprobe: int | None = None,
    max_probe: int | None = None,
    mmr_lambda: float | None = None,
    mmr_candidates: int | None = None,
):
    """One-call serving API over a persisted IVF store: loads the store, the
    centroid/radius sidecars, and the build's recorded ``n_assign`` (so the
    caller cannot mismatch the dedup window against the build), then routes:

    - ``nprobe`` given → the capped, budgeted-latency ``ivf_topk`` (recall
      follows the published curve; the uniform-regime default);
    - ``nprobe`` None → the adaptive exact probe ``ivf_topk_adaptive``
      (recall 1.0 by construction, cost adapts to the data's geometry;
      ``max_probe`` optionally caps the scan).

    ``mmr_lambda`` adds the MMR diversity tail (`operators/knn.mmr_rerank`)
    to either route: the probe path over-fetches ``mmr_candidates``
    (default ``4*k``) candidates and the greedy MMR pass re-ranks them down
    to k — one call reaches the whole serving ladder instead of the caller
    hand-composing retrieval + rerank. Output switches to MMR's
    (vec_id, sim, rank) shape (similarity, not distance — the re-ranker's
    native scale).

    This is the reference's `search_photo(s)` call-shape
    (photo_vector_search/photo_vector_search.py:17-20, ChromaDB query)
    re-expressed over the partition-pruned store — per-call load cost is ONE
    ``load_ivf_store`` consistency check plus the k-row sidecar reads (the
    radii loader reuses the loaded pair instead of re-scanning); at scale
    keep the returned pieces via the lower-level API instead of re-loading
    per query."""
    store, centroids = load_ivf_store(spark, path)
    n_assign = stored_n_assign(spark, path)
    fetch_k = k
    if mmr_lambda is not None:
        fetch_k = mmr_candidates if mmr_candidates is not None else 4 * k
        if fetch_k < k:
            raise ValueError(
                f"ivf_search: mmr_candidates={fetch_k} must be >= k={k}"
            )
    if nprobe is not None:
        top = ivf_topk(
            store,
            centroids,
            query_vec,
            k=fetch_k,
            nprobe=nprobe,
            n_assign=n_assign,
        )
    else:
        radii = load_cluster_radii(spark, path, loaded=(store, centroids))
        top = ivf_topk_adaptive(
            store,
            centroids,
            radii,
            query_vec,
            k=fetch_k,
            max_probe=max_probe,
            n_assign=n_assign,
        )
    if mmr_lambda is None:
        return top
    from photo_vector_search_spark.operators.knn import mmr_rerank

    floats = store.select("vec_id", "embedding").dropDuplicates(["vec_id"])
    return mmr_rerank(
        top.select("vec_id"),
        floats,
        query_vec,
        k=k,
        lambda_=mmr_lambda,
    )
