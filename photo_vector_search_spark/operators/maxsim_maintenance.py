"""Incremental maintenance for the persisted MaxSim token store —
upsert/delete/live-serve/compact WITHOUT re-embedding or rewriting the
corpus, so the late-interaction family grows incrementally like every
other persisted serving index (cf. the reference's incremental per-file
upsert loop, photo_vector_search.py:84-117). The delta/tombstone protocol,
its write order and crash windows live in ``operators/store.py``; this
module keeps what is particular to MaxSim: embedding new docs against the
frozen build, the base write layout, and serving.

Layout around a `late_interaction.build_maxsim_store` store at ``path``:
- ``path``            base (id, tok_embs, pooled[, cluster_id]) — FROZEN
                      between compactions; its content signature is the
                      ``store_sig`` the meta sidecar records.
- ``path + '.delta'`` upserted rows, re-embedded against the build's
                      (max_tokens, dim) and — for clustered stores —
                      assigned to the build's FROZEN centroids (the clip
                      convention: probes stay valid, geometry drifts only
                      until the next compaction). O(delta) rewrite.
- ``path + '.tombstones'`` deleted ids.

Compaction rewrites the base, which changes its directory signature, so it
rewrites the meta sidecar with the new ``store_sig`` (``build_id`` is a
STABLE params+centroids hash: side tables and the centroid sidecar need no
restamp). A crash between the base swap and the meta rewrite leaves a store
`load_maxsim_store` refuses as torn; compaction therefore reads the RAW
tables (meta for params, side tables checked against the META build id)
and converges when re-run. Nothing is ever SERVED from a half-compacted
state — the signature check guarantees that.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from photo_vector_search_spark.operators.late_interaction import (
    _META_SCHEMA,
    _load_maxsim_centroids,
    _open_maxsim,
    _serve_maxsim,
    doc_token_embeddings,
    load_maxsim_store,
    with_pooled_column,
)
from photo_vector_search_spark.operators.store import (
    clear_side_tables,
    delete_ids,
    live_view,
    read_meta,
    read_table,
    recover_store,
    snapshot_overwrite,
    upsert_ids,
    upsert_side_tables,
    write_meta,
)


def _base_partitioning(meta) -> list | None:
    return ["cluster_id"] if meta["n_clusters"] >= 1 else None


def _meta_keep_cols(meta) -> list[str]:
    """keep_cols recorded at build (empty for stores predating the field —
    Row lookup on a missing column raises, old sidecars have none)."""
    try:
        raw = meta["keep_cols"]
    except Exception:
        return []
    return [c for c in (raw or "").split(",") if c]


def _restamp_meta(spark, path, meta, n_docs: int, schema: str) -> None:
    """Rewrite a token store's meta sidecar after its base was compacted:
    the new directory signature and doc count under the SAME build."""
    write_meta(
        spark, path,
        {
            **meta.asDict(),
            "n_docs": n_docs,
            "keep_cols": ",".join(_meta_keep_cols(meta)),
        },
        schema,
    )


def _token_rows(meta, new_docs: DataFrame, text_col: str) -> DataFrame:
    """Re-embed ONLY the new docs under the build's frozen (max_tokens,
    dim) — the O(delta) half of the contract, shared with the ColBERTv2
    store. A keep_cols store requires the same metadata columns on the
    upsert batch (delta rows must union with the base schema)."""
    keep = _meta_keep_cols(meta)
    missing = [c for c in keep if c not in new_docs.columns]
    if missing:
        raise ValueError(
            f"store was built with keep_cols={keep} but the upsert batch "
            f"lacks {missing} — supply the metadata columns"
        )
    toks = with_pooled_column(
        doc_token_embeddings(
            new_docs,
            text_col=text_col,
            id_col=meta["id_col"],
            max_tokens=meta["max_tokens"],
            dim=meta["dim"],
        ),
        id_col=meta["id_col"],
    )
    if keep:
        toks = toks.join(new_docs.select(meta["id_col"], *keep), meta["id_col"])
    return toks


def _embed_against_build(spark, path, meta, new_docs: DataFrame, text_col: str):
    """``_token_rows``, assigned to the build's FROZEN centroids for a
    clustered store."""
    toks = _token_rows(meta, new_docs, text_col)
    if meta["n_clusters"] >= 1:
        from photo_vector_search_spark.operators.ann import assign_clusters

        centroids = _load_maxsim_centroids(spark, path, meta)
        toks = assign_clusters(
            toks.withColumnRenamed("pooled", "embedding"), centroids
        ).withColumnRenamed("embedding", "pooled")
    return toks


def upsert_maxsim_store(
    spark, path: str, new_docs: DataFrame, text_col: str = "text"
) -> int:
    """Embed ``new_docs`` against the store's frozen build and merge them
    into the delta segment (same-id delta rows replaced, tombstones
    revived). Returns the number of upserted docs. O(new + delta) — the
    base is never rewritten; the embed pass runs over the NEW docs only."""
    _, meta = load_maxsim_store(spark, path)
    n_new, ids = upsert_ids(new_docs, meta["id_col"])
    if n_new == 0:
        return 0
    coded = _embed_against_build(spark, path, meta, new_docs, text_col).withColumn(
        "build_id", F.lit(meta["build_id"])
    )
    n_coded = coded.count()
    if n_coded != n_new:
        # a doc that tokenizes to ZERO tokens produces no token matrix and
        # therefore no delta row — silently keeping its OLD base version
        # would violate delta-wins; make the caller decide (delete it, or
        # fix the text) instead of guessing
        raise ValueError(
            f"{n_new - n_coded} upsert doc(s) have NULL/empty text and "
            "produce no token matrix — an empty doc cannot shadow its old "
            "version; delete those ids instead (delete_from_maxsim_store)"
        )
    upsert_side_tables(
        spark, path, meta["build_id"], meta["id_col"], ids,
        [(".delta", coded, _base_partitioning(meta))],
    )
    return n_new


def delete_from_maxsim_store(spark, path: str, doc_ids) -> int:
    """Tombstone ``doc_ids`` (a list or a one-column DataFrame) and drop
    them from the delta. Returns the number of ids tombstoned."""
    _, meta = load_maxsim_store(spark, path)
    return delete_ids(
        spark, path, meta["build_id"], meta["id_col"], doc_ids,
        [(".delta", _base_partitioning(meta))],
    )


def load_live_maxsim(spark, path: str):
    """(live token frame, meta): delta ∪ (base anti delta-ids) − tombstones,
    every side table build-checked. Cluster/pool filters push through the
    union, so the base scan keeps its partition pruning."""
    return _open_live(spark, path)[:2]


def _open_live(spark, path: str):
    """(live view, meta, base footers or None): the footers only when no
    side table exists, so the live view is the base itself and a small
    read may run on the driver tier."""
    opened = _open_maxsim(spark, path)
    base, meta = opened.tables[0], opened.meta
    live = live_view(spark, path, base, meta["build_id"], meta["id_col"])
    return live, meta, opened.footers[""] if live is base else None


def live_maxsim_search(
    spark,
    path: str,
    query: str,
    k: int = 10,
    prefilter_n: int | None = None,
    max_query_tokens: int | None = None,
    fast: bool = True,
    nprobe: int | None = None,
    filter=None,
) -> DataFrame:
    """`maxsim_store_search` over the LIVE view (base + delta − tombstones):
    the serving call for a store growing through upserts between
    compactions. ≡ composing the corpora in memory, pinned in tests.
    Without side tables, a small read runs on the driver tier.
    ``filter`` (keep_cols stores): metadata predicate applied before the
    prefilter, pushed through the union to both the base and delta scans."""
    from photo_vector_search_spark.operators.late_interaction import (
        MAX_QUERY_TOKENS,
    )

    live, meta, footers = _open_live(spark, path)
    centroids = (
        _load_maxsim_centroids(spark, path, meta)
        if nprobe is not None and meta["n_clusters"] >= 1
        else None
    )
    return _serve_maxsim(
        spark, live, meta, query, k=k, prefilter_n=prefilter_n,
        max_query_tokens=(
            MAX_QUERY_TOKENS if max_query_tokens is None else max_query_tokens
        ),
        fast=fast, nprobe=nprobe, centroids=centroids, filter=filter,
        footers=footers,
    )


def compact_maxsim_store(spark, path: str) -> int:
    """Fold delta and tombstones into the base and clear them. Rewriting
    the base changes the store's directory signature, so compact rewrites
    the meta sidecar with the new ``store_sig`` (``build_id`` is stable —
    no side-table or centroid restamp). Reads the RAW tables — side
    tables checked against the META build id, the signature deliberately
    NOT verified — so it converges when re-run from any crash point
    (module docstring); `load_maxsim_store` refuses to SERVE any
    intermediate state. Returns the compacted base row count."""
    for suffix in ("", ".meta"):
        recover_store(path + suffix)
    meta = read_meta(spark, path, "MaxSim store")
    live = live_view(
        spark, path, read_table(spark, path), meta["build_id"], meta["id_col"]
    ).localCheckpoint(eager=True)
    n = live.count()
    snapshot_overwrite(live, path, partition_by=_base_partitioning(meta))
    _restamp_meta(spark, path, meta, n, _META_SCHEMA)
    clear_side_tables(path)
    return n
