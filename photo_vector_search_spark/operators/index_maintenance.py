"""Incremental maintenance for the persisted IVF,SQ8 store — upsert,
delete, live serving, and compaction WITHOUT a full rebuild (cf. the
reference's own workflow, which adds photos to its ChromaDB index one
directory at a time — photo_vector_search.py:84-117 — rather than
rebuilding it). The delta/tombstone protocol, its write order and crash
windows live in ``operators/store.py``; this module keeps what is
particular to IVF,SQ8: encoding new vectors against the frozen build.

Layout (every table stamped with the SAME content-hash ``build_id`` as the
base, so a delta written against different centroids/ranges is refused):

    <path>              base codes, hive-partitioned by cluster_id
    <path>.ivfsqmeta    centroids + (vmin, vmax) sidecar   (build-time)
    <path>.delta        upserted codes, same schema/partitioning
    <path>.tombstones   deleted ids

``upsert`` assigns new vectors to the EXISTING centroids and encodes them
with the EXISTING SQ8 model (out-of-range values clip — the documented
encode_sq8/FAISS convention; re-fit when drift warrants a rebuild).
``compact`` folds the VERIFIED live view into the base (same build —
centroids/model unchanged, sidecar untouched).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.sq import (
    SQ8Model,
    _open_ivf_sq8,
    encode_sq8,
    ivf_sq8_topk,
)
from photo_vector_search_spark.operators.store import (
    clear_side_tables,
    delete_ids,
    live_view,
    snapshot_overwrite,
    upsert_ids,
    upsert_side_tables,
)


def _open(spark, path: str):
    """``load_ivf_sq8_store`` plus the build id the open checked every part
    against (the footers it read, not a second walk), and the base's
    footers."""
    opened, centroids, model = _open_ivf_sq8(spark, path)
    return opened.tables[0], centroids, model, opened.build_id, opened.footers[""]


def upsert_ivf_sq8_store(
    spark,
    path: str,
    new_embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    keep_cols: tuple[str, ...] = ("label",),
) -> int:
    """Encode ``new_embeddings`` against the store's existing centroids +
    SQ8 model and merge them into the delta segment (same-id delta rows
    replaced, tombstones revived). Returns the number of upserted rows.
    O(new + delta) — the base is never rewritten. Crash windows:
    ``operators/store.py``."""
    from photo_vector_search_spark.operators.ann import assign_clusters

    base, centroids, model, base_build, _ = _open(spark, path)

    emb = new_embeddings
    if vec_col != "embedding":
        emb = emb.withColumnRenamed(vec_col, "embedding")
    n_new, ids = upsert_ids(emb, id_col)
    if n_new == 0:
        return 0
    coded = encode_sq8(assign_clusters(emb, centroids), model).select(
        id_col,
        *keep_cols,
        "cluster_id",
        "sq8",
        F.lit(base_build).alias("build_id"),
    )
    if sorted(coded.columns) != sorted(base.columns):
        raise ValueError(
            f"upsert columns {sorted(coded.columns)} do not match the base "
            f"store's {sorted(base.columns)} — pass the keep_cols the store "
            "was built with"
        )
    upsert_side_tables(
        spark, path, base_build, id_col, ids,
        [(".delta", coded, ["cluster_id"])],
    )
    return n_new


def delete_from_ivf_sq8_store(spark, path: str, vec_ids, id_col: str = "vec_id") -> int:
    """Tombstone ``vec_ids`` (a list or a one-column DataFrame) and drop
    them from the delta. Returns the number of ids tombstoned."""
    base_build = _open(spark, path)[3]
    return delete_ids(
        spark, path, base_build, id_col, vec_ids, [(".delta", ["cluster_id"])]
    )


def _open_live(spark, path: str, id_col: str = "vec_id"):
    """(live view, centroids, model, base footers or None): the footers
    only when no side table exists, so the live view is the base itself
    and a small read may run on the driver tier."""
    base, centroids, model, base_build, footers = _open(spark, path)
    live = live_view(spark, path, base, base_build, id_col)
    return live, centroids, model, footers if live is base else None


def load_live_ivf_sq8(
    spark, path: str, id_col: str = "vec_id"
) -> tuple[DataFrame, np.ndarray, SQ8Model]:
    """The serving view: delta ∪ (base anti delta-ids) anti tombstones,
    with every side-table verified against the base build. Probe filters
    push through the union, so base partition pruning is preserved."""
    return _open_live(spark, path, id_col)[:3]


def live_ivf_sq8_topk(
    spark,
    path: str,
    query_vec,
    k: int = 5,
    nprobe: int = 4,
    rerank: int | None = None,
    rerank_source: DataFrame | None = None,
) -> DataFrame:
    """ivf_sq8_store_topk over the LIVE view (base + delta − tombstones);
    without side tables, a small read runs on the driver tier."""
    if rerank is not None and rerank_source is None:
        raise ValueError(
            "rerank over a persisted IVF,SQ8 store needs rerank_source — the "
            "store holds codes only; pass the source embeddings frame"
        )
    live, centroids, model, footers = _open_live(spark, path)
    return ivf_sq8_topk(
        live,
        centroids,
        model,
        query_vec,
        k=k,
        nprobe=nprobe,
        rerank=rerank,
        rerank_source=rerank_source,
        footers=footers,
    )


def compact_ivf_sq8_store(spark, path: str) -> int:
    """Fold delta and tombstones into the base (same build — the sidecar
    is untouched) and clear them. Returns the compacted base row count.
    Folds the verified live view; every crash point is recoverable
    (``operators/store.py``)."""
    live, _, _ = load_live_ivf_sq8(spark, path)
    live = live.localCheckpoint(eager=True)
    n = live.count()
    snapshot_overwrite(live, path, partition_by=["cluster_id"])
    clear_side_tables(path)
    return n
