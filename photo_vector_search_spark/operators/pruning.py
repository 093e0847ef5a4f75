"""Prototype-difficulty data pruning (Sorscher et al. 2022, "Beyond neural
scaling laws: beating power law scaling via data pruning", arXiv:2206.14486):
cluster the embedding space with k-means, score each example by its cosine
distance to its assigned prototype (§4's self-supervised metric — far from
the prototype = hard/atypical, close = easy/redundant), and keep a fixed
fraction PER CLUSTER ranked by that difficulty. The paper's headline rule:
prune EASY examples when data is abundant (the 100 TB regime this engine
targets), prune HARD ones when data is scarce; per-cluster quotas keep the
pruned corpus covering the space instead of collapsing onto dense modes.

Two rungs, same semantics (the `semdedup` pattern):

- **Production** (``prune_prototypes``): ``ann.train_centroids`` (bounded
  driver sample) + a map-only broadcast-matmul difficulty pass + ONE
  exchange on cluster_id for the per-cluster rank window. Nothing
  driver-sized beyond the sampled centroid train.
- **Deterministic** (``prune_prototypes_deterministic``): centroids = the k
  lowest-id vectors (`semdedup.seed_centroids`), assignment + difficulty on
  ROUNDED cosine with centroid-id tie-break — every comparison 6-dp-stable,
  so a DuckDB twin replays the whole pipeline bit-for-bit (pinned in
  tests/test_pruning.py).

Scale shape (100 TB): difficulty is map-only; the only exchange is the
hash partition on cluster_id for the window. k-means clusters are
size-bounded in expectation (k chosen as N/target_cluster_rows — the
``ivf_near_dup_pairs`` sizing rule), so no window partition outgrows an
executor; the window itself is rank-only (no full sort spill beyond the
per-cluster sort). Output is the surviving rows plus (cluster_id,
difficulty, rank) lineage columns for downstream mixing/audit.

Cf. the reference: no bulk curation surface at all (photo_vector_search.py
delegates storage to ChromaDB, one row at a time) — this is part of the
mandated LLM-pipeline extension.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from photo_vector_search_spark.functions.vector import (
    dot_product,
    l2_normalize,
)


def prototype_difficulty(
    embeddings: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cluster_id`` (argmax-cosine prototype) and ``difficulty``
    (= 1 − cos to that prototype, rounded 6dp) to every row — one map-only
    Arrow pass against the broadcast centroid matrix, the
    ``ann.assign_clusters`` kernel extended to emit the winning similarity.
    Zero-norm vectors normalize to themselves, score cos 0 against every
    prototype, and land in prototype 0 with difficulty 1.0 (kept as
    maximally atypical rather than crashed on)."""
    bc = embeddings.sparkSession.sparkContext.broadcast(
        centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-300
        )
    )

    def _score(batches):
        cent = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf[vec_col].to_numpy()).astype(
                np.float64, copy=False
            )
            m = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-300
            )
            sims = m @ cent.T
            pdf = pdf.copy()
            best = np.argmax(sims, axis=1)
            pdf["cluster_id"] = best.astype(np.int32)
            pdf["difficulty"] = np.round(
                1.0 - sims[np.arange(len(m)), best], 6
            )
            yield pdf

    schema = (
        ", ".join(f"{c} {t}" for c, t in embeddings.dtypes)
        + ", cluster_id int, difficulty double"
    )
    return embeddings.mapInPandas(_score, schema=schema)


def _rank_and_keep(
    scored: DataFrame, keep_frac: float, keep: str, id_col: str
) -> DataFrame:
    """Per-cluster quota: rank by (difficulty, id) — hardest-first for
    ``keep='hard'``, easiest-first for ``keep='easy'`` — and keep
    ``ceil(keep_frac · cluster_size)`` rows. One exchange: rank and count
    share the cluster_id window partition."""
    if not 0.0 < keep_frac <= 1.0:
        raise ValueError(f"keep_frac must be in (0, 1], got {keep_frac}")
    if keep not in ("hard", "easy"):
        raise ValueError(f"keep must be 'hard' or 'easy', got {keep!r}")
    direction = (
        F.col("difficulty").desc() if keep == "hard"
        else F.col("difficulty").asc()
    )
    win = Window.partitionBy("cluster_id").orderBy(
        direction, F.col(id_col).asc()
    )
    sized = scored.withColumn("rank", F.row_number().over(win)).withColumn(
        "_n", F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
    )
    return sized.filter(
        F.col("rank") <= F.ceil(F.lit(float(keep_frac)) * F.col("_n"))
    ).drop("_n")


def prune_prototypes(
    embeddings: DataFrame,
    keep_frac: float = 0.5,
    n_clusters: int = 16,
    keep: str = "hard",
    sample: int = 4096,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The production rung: sampled k-means prototypes, map-only difficulty,
    per-cluster quota keep. Returns survivors with (cluster_id, difficulty,
    rank)."""
    from photo_vector_search_spark.operators.ann import train_centroids

    cents = train_centroids(
        embeddings, n_clusters=n_clusters, sample=sample, seed=seed
    )
    scored = prototype_difficulty(
        embeddings, cents, id_col=id_col, vec_col=vec_col
    )
    return _rank_and_keep(scored, keep_frac, keep, id_col)


def prune_prototypes_deterministic(
    embeddings: DataFrame,
    keep_frac: float = 0.5,
    n_clusters: int = 8,
    keep: str = "hard",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """The SQL-replayable rung: prototypes = the ``n_clusters`` lowest-id
    vectors, assignment/difficulty on ROUNDED cosine, centroid-id
    tie-break — pure Catalyst (broadcast centroid join + max_by), no NumPy,
    so a DuckDB window query reproduces every kept row exactly. Use
    ``prune_prototypes`` for real runs."""
    from photo_vector_search_spark.operators.semdedup import seed_centroids

    cent = seed_centroids(embeddings, n_clusters, id_col, vec_col).select(
        "cid", l2_normalize(F.col("cvec")).alias("_cn")
    )
    sims = (
        embeddings.withColumn(
            "_en", l2_normalize(F.col(vec_col).cast("array<double>"))
        )
        .join(F.broadcast(cent))
        .withColumn(
            "_s", F.round(dot_product(F.col("_en"), F.col("_cn")), round_to)
        )
    )
    best = sims.groupBy(id_col).agg(
        F.max(
            F.struct(F.col("_s").alias("s"), (-F.col("cid")).alias("nc"))
        ).alias("_b")
    )
    scored = embeddings.join(best, id_col).select(
        *embeddings.columns,
        (-F.col("_b.nc")).cast("int").alias("cluster_id"),
        F.round(F.lit(1.0) - F.col("_b.s"), round_to).alias("difficulty"),
    )
    return _rank_and_keep(scored, keep_frac, keep, id_col)


def prune_ivf_store(
    spark,
    path: str,
    keep_frac: float = 0.5,
    keep: str = "hard",
    rewrite: bool = True,
) -> DataFrame:
    """Prototype-prune a PERSISTED IVF store in place — the maintenance form
    of ``prune_prototypes`` for a corpus that already lives behind an index:
    the store's own cluster assignments and centroid sidecar ARE the
    prototypes, so no k-means retrain and no re-assignment pass runs.

    Semantics: per VECTOR (a multi-assign store holds one row per assigned
    cluster), difficulty = cosine distance to its NEAREST assigned centroid
    (= its primary prototype; ties to the lowest cluster id), and the
    per-cluster quota keeps ``ceil(keep_frac · |primary members|)`` ranked
    hardest/easiest-first. A surviving vector keeps ALL its multi-assign
    copies — pruning must not degrade the store's probe-recall contract.

    ``rewrite=True`` snapshot-swaps the pruned store back (same
    hive-partitioning, same build_id — the centroids did not change) and
    REFRESHES the radius sidecar: pruning can only shrink per-cluster
    radii, but ``load_cluster_radii`` verifies the store's content
    signature, so a stale sidecar would refuse to serve rather than serve
    wrongly — the refresh keeps the adaptive exact probe live. The radii
    and row count come from ONE ``cluster_stats`` pass over the ``pruned``
    frame BEFORE the swap (the survivor decision is staged, so the frame
    is deterministic and row-identical to what gets written) — not from
    re-reading the written store, which cost two extra full-store jobs
    (round-10 review fix). ``rewrite=False`` returns the survivor frame
    without touching disk (dry-run / lineage export).

    Cost: one map-only difficulty pass, one vec_id exchange (the
    per-vector primary reduction), one cluster exchange (the quota
    window), and with ``rewrite`` one pre-swap stats scan + the
    partitioned snapshot write — strictly less than a rebuild (no sample
    collect, no Lloyd iterations, no assignment matmul over d·k).

    Returns (vec_id, cluster_id, difficulty, rank) for the SURVIVORS,
    where cluster_id is the primary prototype."""
    from photo_vector_search_spark.operators.ann import (
        cluster_stats,
        load_ivf_store,
        stored_n_assign,
        write_centroids,
    )
    from photo_vector_search_spark.operators.store import snapshot_overwrite

    store, centroids = load_ivf_store(spark, path)
    n_assign = stored_n_assign(spark, path)
    bc = spark.sparkContext.broadcast(
        centroids
        / np.maximum(np.linalg.norm(centroids, axis=1, keepdims=True), 1e-300)
    )

    def _diff(batches):
        cent = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(
                np.float64, copy=False
            )
            m = m / np.maximum(
                np.linalg.norm(m, axis=1, keepdims=True), 1e-300
            )
            cid = pdf["cluster_id"].to_numpy()
            sims = np.einsum("ij,ij->i", m, cent[cid])
            yield pdf[["vec_id", "cluster_id"]].assign(
                difficulty=np.round(1.0 - sims, 6)
            )

    per_row = store.select("vec_id", "cluster_id", "embedding").mapInPandas(
        _diff, schema="vec_id long, cluster_id int, difficulty double"
    )
    # per-vector primary prototype: the nearest ASSIGNED centroid (min
    # difficulty), ties to the lowest cluster id — one vec_id exchange
    per_vec = per_row.groupBy("vec_id").agg(
        F.min(
            F.struct(F.col("difficulty"), F.col("cluster_id"))
        ).alias("_p")
    ).select(
        "vec_id",
        F.col("_p.cluster_id").alias("cluster_id"),
        F.col("_p.difficulty").alias("difficulty"),
    )
    survivors = _rank_and_keep(per_vec, keep_frac, keep, "vec_id")
    if not rewrite:
        return survivors
    # STAGE the survivor decision before the swap: the frame is lazy over
    # the store path being overwritten — unstaged, a post-rewrite collect
    # would re-derive quotas over the already-pruned store and silently
    # shrink the returned set; staged, both the rewrite below and the
    # caller read one immutable copy of the decision
    from photo_vector_search_spark.operators.staging import stage_frame

    survivors = stage_frame(survivors, "pvs_ivf_prune")
    pruned = store.join(
        survivors.select("vec_id"), "vec_id", "left_semi"
    )
    # sidecar stats from the pre-swap pruned frame — staged survivors +
    # the still-immutable old snapshot make it row-identical to what the
    # write below produces, in one scan instead of two post-write jobs
    radii, built_rows = cluster_stats(pruned, centroids)
    build_id = store.select("build_id").first()["build_id"]
    # the swap itself is safe: snapshot_overwrite writes a tmp dir (reads
    # still serve the old snapshot) and renames at the end
    snapshot_overwrite(pruned, path, partition_by=["cluster_id"])
    write_centroids(spark, path, centroids, radii, built_rows, build_id, n_assign)
    return survivors
