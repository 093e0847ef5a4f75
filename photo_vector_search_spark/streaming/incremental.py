"""Incremental indexing via Structured Streaming (SURVEY §2.9 S1, §7 phase 5).

The reference re-runs `index-photos` by hand; its deterministic ids
(photo_vector_search.py:127) make re-indexing idempotent. The streaming form keeps
that contract: a file-source stream of new photo batches, each micro-batch pushed
through the same ``index_photos`` pipeline inside ``foreachBatch`` and merged into
the Parquet store with a snapshot swap. No watermarks/event-time — the keyed
upsert is idempotent by construction, so at-least-once delivery is enough.

Scale notes: ``foreachBatch`` + merge is the standard Spark pattern for streaming
upserts into a table without a table format. With Delta/Iceberg the snapshot swap
becomes a MERGE INTO commit; nothing else changes.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from photo_vector_search_spark.operators.store import recover_store, snapshot_overwrite
from photo_vector_search_spark.pipelines.embed import (
    Describer,
    Embedder,
    index_photos,
)

FILES_SCHEMA = "path string, content binary"


def _start_merge_stream(stream, merge_fn, checkpoint_dir: str, available_now: bool):
    """Shared writer shape for the incremental pipelines: foreachBatch + a
    checkpoint, with availableNow as the drain-then-stop trigger."""
    writer = stream.writeStream.foreachBatch(merge_fn).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


# Prune the base read only when the family's base is at least this big:
# collecting the touched prefixes costs one extra driver job per probe, which
# only pays off once the avoided scan is substantial. Below the threshold the
# whole base scans in well under a second anyway (measured: at 50k docs the
# pruning jobs cost MORE than the full ~tens-of-MB scans they avoid).
PRUNE_MIN_BASE_BYTES = 256 * 1024 * 1024


def _touched_pfx(df, family: str, mani: dict | None) -> list[int] | None:
    """The base-partition prefixes a probe actually touches — collected only
    when the state HAS a compacted base (manifest present) AND that family's
    base is big enough that a pruned read beats the extra driver job
    (``PRUNE_MIN_BASE_BYTES``): ≤ n_prefixes ints, one tiny driver job, in
    exchange for a partition-pruned base read instead of a full state scan.
    None (no pruning, no extra job) while the state is purely per-batch
    partitions or the base is small."""
    if mani is None:
        return None
    if mani.get("bytes", {}).get(family, 0) < PRUNE_MIN_BASE_BYTES:
        return None
    from photo_vector_search_spark.streaming.compaction import pfx_col

    return [
        r["p"]
        for r in df.select(
            pfx_col(family, mani["n_prefixes"]).alias("p")
        )
        .distinct()
        .collect()
    ]


def _raise_on_in_batch_clash(fped, id_col: str) -> None:
    """Fail loudly when one micro-batch delivers the same id with DIFFERENT
    content (``_fp`` must already be attached). One batch-sized agg job —
    the in-batch twin of the cross-batch fingerprint-registry clash check;
    without it ``dropDuplicates`` would pick a nondeterministic winner."""
    from pyspark.sql import functions as F

    clash = (
        fped.groupBy(id_col)
        .agg(F.count_distinct(F.col("_fp")).alias("_nfp"))
        .filter(F.col("_nfp") > 1)
        .limit(5)
        .collect()
    )
    if clash:
        ids = [r[id_col] for r in clash]
        raise ValueError(
            f"incremental dedup stream: {id_col}(s) {ids} appear in ONE "
            "micro-batch with DIFFERENT content — the stream is append-only "
            "and cannot pick a winner deterministically; dedupe upstream or "
            "assign new ids"
        )


def incremental_index(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    embedder: Embedder | None = None,
    describer: Describer | None = None,
    available_now: bool = True,
):
    """Stream parquet batches of (path, content) from ``input_dir`` and upsert
    them into the embeddings store at ``store_path``.

    ``available_now=True`` drains everything currently available then stops —
    the batch-catchup trigger (used in tests and backfills); pass False for a
    continuously running micro-batch stream."""

    stream = (
        spark.readStream.schema(FILES_SCHEMA).format("parquet").load(input_dir)
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        recover_store(store_path)  # restore from .old if a prior swap crashed
        existing = None
        if os.path.exists(store_path):
            existing = spark_b.read.parquet(store_path)
        new_state = index_photos(
            # same-path files drained into one micro-batch would otherwise both
            # survive the merge (duplicate ids within the update side)
            batch_df.dropDuplicates(["path"]),
            existing=existing,
            embedder=embedder,
            describer=describer,
        )
        snapshot_overwrite(new_state, store_path)

    return _start_merge_stream(stream, _merge_batch, checkpoint_dir, available_now)


VECTORS_SCHEMA = "vec_id long, embedding array<float>, label int"


def _maintain_radius_sidecar(spark, store_path, assigned: DataFrame, centroids) -> None:
    """Keep the centroid sidecar's per-cluster radius a VALID upper bound as
    the store grows: max-merge the batch's own centroid distances into the
    stored radii and refresh ``built_rows``. Replaced vectors can only shrink
    a cluster's true radius, so max-merge never under-covers — the property
    ``ivf_topk_adaptive``'s exactness proof needs. O(batch) compute + a k-row
    sidecar rewrite; sidecars from pre-radius builds are left untouched
    (``load_cluster_radii`` recomputes for those)."""
    from photo_vector_search_spark.operators.ann import cluster_radii, write_centroids

    sidecar_path = store_path + ".centroids"
    recover_store(sidecar_path)  # heal a half-swapped sidecar before reading it
    sidecar = spark.read.parquet(sidecar_path)
    if "radius" not in sidecar.columns or "built_rows" not in sidecar.columns:
        return
    batch_radii = cluster_radii(assigned, centroids)
    n_now = spark.read.parquet(store_path).count()
    rows = sidecar.orderBy("centroid_id").collect()
    n_assign = rows[0]["n_assign"] if "n_assign" in sidecar.columns else None
    # signed with the store AS JUST WRITTEN: a crash between the store swap
    # and this sidecar rewrite leaves a sig mismatch, so load_cluster_radii
    # recomputes instead of trusting radii that may under-cover replaced rows
    write_centroids(
        spark, store_path, [r["centroid"] for r in rows],
        [max(r["radius"], batch_radii[r["centroid_id"]]) for r in rows],
        n_now, rows[0]["build_id"], 1 if n_assign is None else int(n_assign),
    )


def incremental_ivf_index(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream vector batches into an EXISTING IVF store (built by
    ``build_ivf_store``): each micro-batch is assigned to the store's frozen
    centroids (map-only matmul against the broadcast codebook) and merge-upserted
    by vec_id, keeping the cluster_id partition layout — so partition-pruned
    probes stay valid as the corpus grows.

    Freezing centroids between rebuilds is the standard IVF serving pattern
    (drift is a rebuild decision, not a per-batch one); the build_id stamp rides
    along unchanged, and ``load_ivf_store``'s torn-pair check still holds."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.ann import (
        assign_clusters,
        load_ivf_store,
        stored_n_assign,
    )
    from photo_vector_search_spark.operators.store import merge_upsert

    store0, centroids = load_ivf_store(spark, store_path)  # frozen codebook
    # honor the build's multi-assign knob: streaming a 1-assign batch into an
    # n_assign=2 store would leave new Voronoi-border vectors in one cluster
    # only, silently degrading the recall contract ivf_topk(n_assign=2)
    # queries were tuned against
    n_assign = stored_n_assign(spark, store_path)
    # Capture the build_id ONCE with the codebook: stamping a per-batch re-read
    # id would let a mid-stream rebuild pair B1-codebook assignments with a B2
    # stamp — passing the torn-pair check while probes are silently wrong. With
    # the frozen stamp, a rebuild mid-stream yields mixed build_ids in the store
    # and load_ivf_store fails loudly.
    build_id = store0.select("build_id").first()["build_id"]
    store_cols = store0.columns

    stream = spark.readStream.schema(VECTORS_SCHEMA).format("parquet").load(input_dir)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        recover_store(store_path)
        store = spark_b.read.parquet(store_path)
        # one file-source micro-batch can deliver the same vec_id twice (two
        # files drained together); merge_upsert unions updates as-is, so dedup
        # here or the 'upsert by vec_id' contract breaks inside a batch
        assigned = assign_clusters(
            batch_df.dropDuplicates(["vec_id"]), centroids, n_assign=n_assign
        ).withColumn("build_id", F.lit(build_id))
        new_state = merge_upsert(store, assigned.select(*store_cols), ["vec_id"])
        snapshot_overwrite(new_state, store_path, partition_by=["cluster_id"])
        _maintain_radius_sidecar(spark_b, store_path, assigned, centroids)

    return _start_merge_stream(stream, _merge_batch, checkpoint_dir, available_now)


def incremental_ivfpq_index(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream vector batches into an EXISTING IVF-PQ store (built by
    ``pq.build_ivfpq_store``): each micro-batch is assigned to the store's
    frozen coarse centroids AND encoded against its frozen sub-codebooks
    (both map-only against broadcast matrices), then merge-upserted by
    vec_id keeping the cluster_id partition layout — the float vectors
    still never land in the index; only m code bytes per row are written.

    Same frozen-codebook discipline as ``incremental_ivf_index``: quantizer
    drift is a rebuild decision, not a per-batch one; the build_id captured
    WITH the codebooks rides every appended row, so a mid-stream rebuild
    yields mixed build_ids and ``load_ivfpq_store`` fails loudly instead of
    pairing new codes with old codebooks."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.ann import assign_clusters
    from photo_vector_search_spark.operators.pq import (
        encode_pq,
        load_ivfpq_store,
    )
    from photo_vector_search_spark.operators.store import merge_upsert

    store0, centroids, books, rot = load_ivfpq_store(spark, store_path)
    meta_first = (
        spark.read.parquet(store_path + ".pqmeta").select("n_assign").first()
    )
    n_assign = (
        int(meta_first["n_assign"])
        if meta_first and meta_first["n_assign"] is not None
        else 1
    )
    build_id = store0.select("build_id").first()["build_id"]
    store_cols = store0.columns

    stream = (
        spark.readStream.schema(VECTORS_SCHEMA).format("parquet").load(input_dir)
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        recover_store(store_path)
        store = spark_b.read.parquet(store_path)
        coded = (
            encode_pq(
                assign_clusters(
                    batch_df.dropDuplicates(["vec_id"]),
                    centroids,
                    n_assign=n_assign,
                ),
                books,
                rotation=rot,
            )
            .withColumn("build_id", F.lit(build_id))
            .select(*store_cols)
        )
        new_state = merge_upsert(store, coded, ["vec_id"])
        snapshot_overwrite(new_state, store_path, partition_by=["cluster_id"])

    return _start_merge_stream(stream, _merge_batch, checkpoint_dir, available_now)


def _delta_upsert_stream(
    spark, schema, id_col, keep, upsert, input_dir, store_path,
    checkpoint_dir, available_now,
):
    """Stream ``schema`` rows into an existing store through its delta
    segment: each micro-batch is de-duplicated on ``id_col``, filtered by
    ``keep`` (a Column, or None), materialized, and — when non-empty —
    handed to ``upsert(spark, store_path, batch)``."""
    stream = spark.readStream.schema(schema).format("parquet").load(input_dir)

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates([id_col])
        if keep is not None:
            batch = batch.filter(keep)
        batch = batch.localCheckpoint(eager=True)
        if batch.count() == 0:
            return
        upsert(batch.sparkSession, store_path, batch)

    return _start_merge_stream(stream, _merge_batch, checkpoint_dir, available_now)


def _has_tokens():
    """Rows whose text tokenizes to at least one token — the only docs a
    token store can represent."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.functions.text import tokens

    return F.col("text").isNotNull() & (
        F.size(F.array_remove(tokens(F.col("text")), "")) > 0
    )


def incremental_ivf_sq8_index(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream vector batches into an EXISTING IVF,SQ8 store through its
    DELTA segment (`operators/index_maintenance.upsert_ivf_sq8_store`) —
    the O(delta)-per-batch upgrade over the merge-upsert streams above,
    which snapshot-rewrite the WHOLE base every micro-batch: here the base
    (the 100 TB part) is untouched until an offline compaction, and each
    batch pays only assign+encode (map-only against the frozen
    centroids/range) plus the small delta rewrite.

    Serving reads go through ``live_ivf_sq8_topk`` (base + delta −
    tombstones). Replay-idempotent: a crashed batch re-upserts the same
    ids into the delta, replacing its own rows — the post-replay state is
    byte-identical (pinned in tests/test_index_maintenance.py). The frozen
    build_id discipline of the sibling streams holds: upsert stamps rows
    with the base's build and refuses cross-build side tables."""
    from photo_vector_search_spark.operators.index_maintenance import (
        upsert_ivf_sq8_store,
    )

    return _delta_upsert_stream(
        spark, VECTORS_SCHEMA, "vec_id", None, upsert_ivf_sq8_store,
        input_dir, store_path, checkpoint_dir, available_now,
    )


def incremental_maxsim_index(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream document batches into an EXISTING MaxSim token store through
    its DELTA segment (`operators/maxsim_maintenance.upsert_maxsim_store`)
    — the late-interaction sibling of ``incremental_ivf_sq8_index``: the
    base token store (the 100 TB part) is untouched until an offline
    compaction; each micro-batch pays only its own O(delta) token-embed
    pass (against the frozen build params / centroids) plus the small
    delta rewrite. Serving reads go through
    ``maxsim_maintenance.live_maxsim_search``.

    Replay-idempotent: a crashed batch re-upserts the same ids into the
    delta, replacing its own rows — the post-replay state is byte-
    identical (pinned in tests/test_maxsim_maintenance.py). Docs with
    NULL/empty text are dropped BEFORE the upsert (the upsert refuses
    them — an empty doc cannot shadow its old version; a streaming
    pipeline deletes explicitly via ``delete_from_maxsim_store``)."""
    from photo_vector_search_spark.operators.maxsim_maintenance import (
        upsert_maxsim_store,
    )

    return _delta_upsert_stream(
        spark, DOCS_SCHEMA, "doc_id", _has_tokens(), upsert_maxsim_store,
        input_dir, store_path, checkpoint_dir, available_now,
    )


DOCS_SCHEMA = "doc_id long, text string"


def incremental_cv2_index(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream document batches into an EXISTING ColBERTv2 compressed token
    store through its delta segment
    (`operators/cv2_maintenance.upsert_colbertv2_store`) — each micro-batch
    pays only its own O(delta) embed + encode pass against the FROZEN
    quantizer; the base codes (the 100 TB part) stay untouched until an
    offline compaction. Serving reads go through
    ``cv2_maintenance.live_colbertv2_search``.

    Replay-idempotent (same contract as ``incremental_maxsim_index``);
    NULL/EMPTY-text docs are dropped BEFORE the upsert — a zero-token doc
    has no code rows and cannot shadow its old version (the MaxSim rule,
    unlike the BM25 store); delete explicitly via
    ``delete_from_colbertv2_store``."""
    from photo_vector_search_spark.operators.cv2_maintenance import (
        upsert_colbertv2_store,
    )

    return _delta_upsert_stream(
        spark, DOCS_SCHEMA, "doc_id", _has_tokens(), upsert_colbertv2_store,
        input_dir, store_path, checkpoint_dir, available_now,
    )


def incremental_bm25_index(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Stream document batches into an EXISTING BM25 postings store through
    its delta segments (`operators/bm25_store.upsert_bm25_store`) — the
    lexical sibling of ``incremental_maxsim_index``: the base postings (the
    100 TB part) stay frozen until an offline ``compact_bm25_store``; each
    micro-batch pays only its own O(delta) tokenize pass plus the small
    bucket-partitioned delta rewrite. Serving reads go through
    ``bm25_store.live_bm25_topk``, whose live (N, avgdl) stays exact.

    Replay-idempotent: a crashed batch re-upserts the same ids into the
    deltas, replacing its own rows — post-replay state is byte-identical
    (the upsert's postings-then-doclens write order makes the half-applied
    state serve the OLD doc version, never a mix; pinned in
    tests/test_bm25_store.py). NULL-text docs are dropped BEFORE the upsert
    (unindexable — the upsert refuses them; a streaming pipeline deletes
    explicitly via ``delete_from_bm25_store``). EMPTY text passes through:
    unlike the MaxSim store, a zero-token doc is representable (a dl=0
    doclen row, no postings) and correctly shadows its old version."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.bm25_store import (
        upsert_bm25_store,
    )

    return _delta_upsert_stream(
        spark, DOCS_SCHEMA, "doc_id", F.col("text").isNotNull(),
        upsert_bm25_store, input_dir, store_path, checkpoint_dir, available_now,
    )


def incremental_lsh_dedup(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    n: int = 3,
    tau: float = 0.5,
    available_now: bool = True,
):
    """Streaming near-dup detection: documents arrive as a file stream; each
    micro-batch is MinHash-banded, candidate-joined against the ACCUMULATED
    corpus state (plus itself), exact-Jaccard verified, and the verified pairs
    plus the batch's index rows are committed to ``state_path``.

    State layout (all parquet, all partitioned by micro-batch):
      ``docs/batch_id=K``      (doc_id, fp, n_sh) — the REGISTRY: one narrow
                               row per known doc with a content fingerprint
                               and its shingle-set size; written LAST (the
                               commit point that marks the batch as known)
      ``bands/batch_id=K``     (doc_id, band, band_key) — the LSH index
      ``shingles/batch_id=K``  (doc_id, shingle) — verify-stage inverted index
      ``pairs/batch_id=K``     (doc_a, doc_b, jaccard) — APPEND-ONLY result

    Exactly-once without a table format: every state write is an OVERWRITE of
    this batch's own ``batch_id=K`` directory, so a crash-and-replay of batch K
    rewrites the same files instead of duplicating them (the same idempotency
    discipline as the keyed upsert streams above).

    The streams are APPEND-ONLY: a re-delivered doc_id with IDENTICAL content
    (fingerprint match against the registry) contributes nothing; a
    re-delivered doc_id whose content CHANGED raises — silently keeping the
    stale shingles/bands would make the streamed result diverge from the
    batch operator on the current corpus. Updating content requires a state
    REBUILD (re-run the batch operator), not a stream step. Legacy (pre-r6)
    state without a ``docs/`` registry falls back to the band registry with
    no fingerprint check.

    Completeness invariant (tested): after draining any sequence of batches,
    the accumulated pairs equal the BATCH ``minhash_lsh_pairs`` over the union
    corpus — because every pair has a strictly-newer member, and that member's
    batch candidate-joins against history ∪ batch.

    Per-batch cost — the honest contract: each state family is SCANNED once
    per batch (O(history) bytes of pruned columnar I/O — the registry is one
    narrow row per doc, the band index three small columns), but every
    SHUFFLE and aggregation is bounded by O(batch + collided candidates):
    history bands are broadcast-semi-joined down to the batch's bucket keys
    before the candidate join, history shingles are broadcast-semi-joined
    down to candidate doc_ids before verify, and per-doc set sizes come from
    the registry instead of re-aggregating history shingles. The residual
    O(history) scan term is removed by PERIODIC COMPACTION
    (``streaming.compaction.compact_dedup_state``, run while the stream is
    stopped — the IVF-rebalance cadence): batch partitions fold into a base
    partitioned by a hash prefix of each family's probe key, and every read
    above then prunes to the prefixes the batch actually touches (proven on
    runtime scan metrics in tests/test_state_compaction.py; size-gated by
    ``PRUNE_MIN_BASE_BYTES`` — a small base scans whole, since the
    touched-prefix job would cost more than the scan it avoids). The batch's
    ids, bucket keys and candidate ids are broadcast: micro-batches are
    driver-bounded by the trigger, the streaming regime's standing
    assumption."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.dedup import (
        _bands_from_wide,
        _wide_signatures,
        shingle_sets,
        verify_jaccard_pairs,
    )

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        from photo_vector_search_spark.streaming.compaction import (
            load_manifest,
            read_state_family,
            state_batches,
        )

        spark_b = batch_df.sparkSession
        mani = load_manifest(state_path)
        fped = batch_df.withColumn(
            "_fp", F.md5(F.coalesce(F.col("text"), F.lit("")))
        )
        # the cross-batch clash check (below) has an in-batch twin: the same
        # id delivered twice in ONE micro-batch with different content must
        # raise too, or dropDuplicates would nondeterministically pick a
        # winner and commit it as the doc's permanent state
        _raise_on_in_batch_clash(fped, "doc_id")
        new_docs = fped.dropDuplicates(["doc_id"])
        # the registry covers every indexed doc iff each committed bands batch
        # also committed a docs partition (directory names, no file scan;
        # compacted batches are removed from BOTH sets together and compaction
        # validates coverage up front) — false only when resuming legacy
        # (pre-registry) or mixed state
        covered = (state_batches(state_path, "docs") - {batch_id}) >= (
            state_batches(state_path, "bands") - {batch_id}
        )
        pfx_docs_batch = _touched_pfx(new_docs.select("doc_id"), "docs", mani)
        reg = read_state_family(
            spark_b,
            state_path,
            "docs",
            batch_id,
            pfx_values=pfx_docs_batch,
        )
        hits = None
        known_parts = []
        if reg is not None:
            # registry probe: broadcast the batch's keys so the O(history)
            # registry scan stays map-only (no history-sized shuffle)
            hits = reg.join(
                F.broadcast(new_docs.select("doc_id", "_fp")), "doc_id", "inner"
            ).persist()
            clash = (
                hits.filter(F.col("fp").isNotNull() & (F.col("fp") != F.col("_fp")))
                .select("doc_id")
                .take(1)
            )
            if clash:
                hits.unpersist(blocking=True)
                raise ValueError(
                    f"incremental_lsh_dedup: re-delivered doc_id "
                    f"{clash[0]['doc_id']} has DIFFERENT content than the "
                    "accumulated state — the stream is append-only; changed "
                    "documents require a state rebuild (re-run the batch "
                    "operator over the current corpus)"
                )
            known_parts.append(hits.select("doc_id"))
        if not covered:
            # legacy/mixed state: bands not in the registry still mark their
            # docs as known (id-only, no fingerprint check possible; never
            # pruned — compaction refuses legacy state, so no base exists)
            ob0 = read_state_family(spark_b, state_path, "bands", batch_id)
            if ob0 is not None:
                known_parts.append(
                    ob0.join(
                        F.broadcast(new_docs.select("doc_id")), "doc_id", "left_semi"
                    )
                    .select("doc_id")
                    .distinct()
                )
        if known_parts:
            known = known_parts[0]
            for extra in known_parts[1:]:
                known = known.unionByName(extra).distinct()
            new_docs = new_docs.join(F.broadcast(known), "doc_id", "left_anti")
        # one cached shingle pass feeds signatures, candidates and verify —
        # same lifecycle as the batch operator
        sh_new = shingle_sets(new_docs, n).persist()
        bands_new = _bands_from_wide(_wide_signatures(sh_new)).persist()
        old_bands = read_state_family(
            spark_b,
            state_path,
            "bands",
            batch_id,
            pfx_values=_touched_pfx(
                bands_new.select("band", "band_key"), "bands", mani
            ),
        )
        if old_bands is not None:
            # only history rows in buckets the BATCH touches can collide —
            # semi-join the (pruned) index scan down to those keys before any
            # shuffle
            old_bands = old_bands.join(
                F.broadcast(bands_new.select("band", "band_key").distinct()),
                ["band", "band_key"],
                "left_semi",
            )
        all_bands = (
            bands_new if old_bands is None else bands_new.unionByName(old_bands)
        )
        l, r = bands_new.alias("l"), all_bands.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.band") == F.col("r.band"))
                & (F.col("l.band_key") == F.col("r.band_key"))
                & (F.col("l.doc_id") != F.col("r.doc_id")),
            )
            .select(
                F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_a"),
                F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_b"),
            )
            .distinct()
            .persist()
        )
        cand_ids = (
            cand.select(F.col("doc_a").alias("doc_id"))
            .union(cand.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        cand_pfx_sh = _touched_pfx(cand_ids, "shingles", mani)
        old_sh = read_state_family(
            spark_b, state_path, "shingles", batch_id, pfx_values=cand_pfx_sh
        )
        if old_sh is not None:
            # verify only ever touches candidate docs' shingles
            old_sh = old_sh.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        sh_ver = sh_new if old_sh is None else sh_new.unionByName(old_sh)
        counts_new = sh_new.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        counts = None
        if covered:
            # per-doc set sizes from the registry state, never re-aggregated
            # from history shingles; only safe when the registry covers every
            # indexed doc (otherwise a legacy candidate would be dropped by
            # verify's inner count join — fall back to deriving counts from
            # the candidate-semi-joined shingles, which is equally bounded).
            # NOTE this is a SEPARATE registry read pruned by the CANDIDATE
            # ids' prefixes — `reg` above is pruned by the batch's own ids
            # and may not contain history-side candidates' counts. When
            # NEITHER side prunes (no base / small base), `reg` already is
            # the whole registry — reuse it instead of a second read.
            pfx_docs_cand = _touched_pfx(cand_ids, "docs", mani)
            if pfx_docs_batch is None and pfx_docs_cand is None:
                reg_c = reg
            else:
                reg_c = read_state_family(
                    spark_b,
                    state_path,
                    "docs",
                    batch_id,
                    pfx_values=pfx_docs_cand,
                )
            counts = counts_new
            if reg_c is not None:
                counts = counts.unionByName(
                    reg_c.select("doc_id", "n_sh").filter(F.col("n_sh").isNotNull())
                )
            counts = counts.join(F.broadcast(cand_ids), "doc_id", "left_semi")
        pairs = verify_jaccard_pairs(cand, sh_ver, tau, counts=counts)
        docs_state = new_docs.select(
            "doc_id", F.col("_fp").alias("fp")
        ).join(counts_new, "doc_id", "left").select(
            "doc_id", "fp", F.coalesce(F.col("n_sh"), F.lit(0)).alias("n_sh")
        )
        try:
            # pairs FIRST: they derive from state that exists either way; the
            # docs (registry) write is the commit point that marks these docs
            # as known, so it goes LAST
            pairs.write.mode("overwrite").parquet(
                f"{state_path}/pairs/batch_id={batch_id}"
            )
            sh_new.write.mode("overwrite").parquet(
                f"{state_path}/shingles/batch_id={batch_id}"
            )
            bands_new.write.mode("overwrite").parquet(
                f"{state_path}/bands/batch_id={batch_id}"
            )
            docs_state.write.mode("overwrite").parquet(
                f"{state_path}/docs/batch_id={batch_id}"
            )
        finally:
            sh_new.unpersist(blocking=True)
            bands_new.unpersist(blocking=True)
            cand.unpersist(blocking=True)
            if hits is not None:
                hits.unpersist(blocking=True)

    stream = spark.readStream.schema(DOCS_SCHEMA).format("parquet").load(input_dir)
    return _start_merge_stream(stream, _merge_batch, checkpoint_dir, available_now)


def read_dedup_pairs(spark: SparkSession, state_path: str) -> DataFrame:
    """The accumulated near-dup pairs found by ``incremental_lsh_dedup``."""
    return spark.read.parquet(f"{state_path}/pairs").drop("batch_id")


def read_srp_pairs(spark: SparkSession, state_path: str) -> DataFrame:
    """The accumulated near-dup pairs found by ``incremental_srp_dedup`` —
    the vector twin of ``read_dedup_pairs`` (same pairs-state layout, so it
    delegates: one place to change if the layout ever does)."""
    return read_dedup_pairs(spark, state_path)


def incremental_srp_dedup(
    spark: SparkSession,
    input_dir: str,
    state_path: str,
    checkpoint_dir: str,
    tau: float = 0.45,
    n_planes: int = 6,
    n_tables: int = 16,
    seed: int = 42,
    available_now: bool = True,
):
    """Streaming EMBEDDING near-dup — the vector twin of
    ``incremental_lsh_dedup``: each micro-batch of vectors is SRP-bucketed
    (``srp_planes`` is a pure function of (dim, params, seed), so every batch
    derives byte-identical planes and its keys compare against history),
    candidate-joined against the accumulated bucket index plus itself, and
    exact-cosine verified against the accumulated vector store.

    State layout (all per-batch-partition overwrites — the same exactly-once
    replay discipline as the text stream, including the exclude-own-batch
    rule on reads):
      ``buckets/batch_id=K``  (vec_id, table, bkey) — the LSH index
      ``vectors/batch_id=K``  (vec_id, embedding, fp) — verify-stage store,
                              doubling as the REGISTRY (one row per known
                              vec_id + content fingerprint; legacy pre-r6
                              partitions lack ``fp`` and skip the check)
      ``pairs/batch_id=K``    (vec_a, vec_b, sim) — append-only result

    Append-only contract (same as the text stream): a re-delivered vec_id
    with identical content is a no-op; one whose embedding CHANGED raises —
    a re-embedded corpus needs a state rebuild, not a stream step.

    Per-batch cost mirrors the text stream's honest contract: each state
    family is scanned once per batch (pruned columnar I/O — the registry
    probe reads only vec_id/fp, never history embeddings), but every shuffle
    is O(batch + collided candidates): history buckets are broadcast-semi-
    joined down to the batch's (table, bkey) keys before the candidate join,
    and history vectors down to candidate vec_ids before the exact-cosine
    verify. The scan term is removed by periodic
    ``streaming.compaction.compact_dedup_state(kind='srp')`` — the base is
    partitioned by probe-key hash prefix and per-batch reads prune to the
    touched prefixes (size-gated by ``PRUNE_MIN_BASE_BYTES``: a small base
    scans whole); the compute/shuffle terms are incremental.

    Params are PINNED (not size-derived): a streaming index must bucket
    every batch identically or old keys would stop matching new ones —
    re-bucketing history is a REBUILD, not a stream step. NOTE the defaults
    here are therefore NOT the batch operator's size-derived defaults
    (``srp_lsh_near_dup_pairs`` auto-picks e.g. (6, 24) at 2k rows and grows
    with N): to compare streamed against batch results, pass the SAME
    explicit params to both, as the tests do. Embedding dim is pinned with
    the params: a batch whose dim differs from accumulated history raises
    (keys from different-dim planes share an int64 key space but compare
    garbage — the batch operator raises on the same mixed-dim union).
    Completeness invariant (tested): streamed pairs over any batch split
    equal the batch ``srp_lsh_near_dup_pairs`` at the same pinned params on
    the union."""
    from pyspark.sql import functions as F

    from photo_vector_search_spark.operators.dedup import (
        _uniform_embedding_dim,
        _verify_cosine_candidates,
        srp_bucket_rows,
        srp_planes,
    )

    # one planes broadcast per STREAM, created at the first non-empty batch —
    # a continuous stream would otherwise re-broadcast an identical tensor
    # every micro-batch (dim is pinned with it; see dim check below)
    shared: dict = {}

    def _merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark_b = batch_df.sparkSession
        fped = (
            batch_df.select("vec_id", "embedding")
            .withColumn(
                # coalesce: to_json(NULL) is NULL and count_distinct skips
                # NULLs — without a sentinel a NULL-embedding row could clash
                # with a real one invisibly (and the registry fp would be
                # NULL, disabling the cross-batch check for that id too)
                "_fp",
                F.md5(F.coalesce(F.to_json(F.col("embedding")), F.lit("null"))),
            )
            .persist()  # the clash-check job materializes this, so the md5
            # pass runs once; new_vecs below reads the cache
        )
        _raise_on_in_batch_clash(fped, "vec_id")
        new_vecs = fped.dropDuplicates(["vec_id"]).persist()
        # dim agg + bucketing + verify + write all reuse the persisted batch
        try:
            _srp_batch(spark_b, new_vecs, batch_id)
        finally:
            new_vecs.unpersist(blocking=True)
            fped.unpersist(blocking=True)

    def _srp_batch(spark_b, new_vecs: DataFrame, batch_id: int) -> None:
        from photo_vector_search_spark.streaming.compaction import (
            load_manifest,
            read_state_family,
        )

        mani = load_manifest(state_path)
        pfx_vec_batch = _touched_pfx(new_vecs.select("vec_id"), "vectors", mani)
        reg = read_state_family(
            spark_b,
            state_path,
            "vectors",
            batch_id,
            pfx_values=pfx_vec_batch,
        )
        hits = None
        if reg is not None:
            # registry probe = the vectors state pruned to (vec_id, fp):
            # broadcast the batch keys so the history scan stays map-only
            reg_keys = (
                reg.select("vec_id", "fp")
                if "fp" in reg.columns  # legacy partitions: id-only registry
                else reg.select("vec_id").withColumn("fp", F.lit(None).cast("string"))
            )
            hits = reg_keys.join(
                F.broadcast(new_vecs.select("vec_id", "_fp")), "vec_id", "inner"
            ).persist()
            clash = (
                hits.filter(F.col("fp").isNotNull() & (F.col("fp") != F.col("_fp")))
                .select("vec_id")
                .take(1)
            )
            if clash:
                hits.unpersist(blocking=True)
                raise ValueError(
                    f"incremental_srp_dedup: re-delivered vec_id "
                    f"{clash[0]['vec_id']} has a DIFFERENT embedding than the "
                    "accumulated state — the stream is append-only; a "
                    "re-embedded corpus requires a state rebuild (re-run the "
                    "batch operator over the current vectors)"
                )
            new_vecs = new_vecs.join(
                F.broadcast(hits.select("vec_id")), "vec_id", "left_anti"
            )
        dim = _uniform_embedding_dim(new_vecs, "incremental_srp_dedup")
        if dim is None:  # empty batch (or all re-deliveries): idempotent no-op
            if hits is not None:
                hits.unpersist(blocking=True)
            for root in ("pairs", "buckets", "vectors"):
                spark_b.createDataFrame(
                    [],
                    {
                        "pairs": "vec_a long, vec_b long, sim double",
                        "buckets": "vec_id long, table int, bkey long",
                        "vectors": "vec_id long, embedding array<float>, fp string",
                    }[root],
                ).write.mode("overwrite").parquet(
                    f"{state_path}/{root}/batch_id={batch_id}"
                )
            return
        if "dim" not in shared:
            # pin against HISTORY too, not just within the stream's lifetime:
            # a restarted stream must keep bucketing at the dim its state used.
            # UNPRUNED read on purpose — `reg` is pruned to the batch's
            # prefixes and could be empty even when history exists, which
            # would silently skip the dim check; one-time cost per stream.
            reg_any = read_state_family(spark_b, state_path, "vectors", batch_id)
            hist_row = (
                reg_any.select("embedding").first() if reg_any is not None else None
            )
            hist_dim = len(hist_row["embedding"]) if hist_row is not None else dim
            shared["dim"] = hist_dim
            shared["planes_bc"] = spark_b.sparkContext.broadcast(
                srp_planes(hist_dim, n_planes=n_planes, n_tables=n_tables, seed=seed)
            )
        if dim != shared["dim"]:
            raise ValueError(
                f"incremental_srp_dedup: batch embedding dim {dim} != the "
                f"stream/state dim {shared['dim']} — a re-embedded corpus "
                "needs a state REBUILD, not a stream step (old bucket keys "
                "are meaningless under new-dim planes)"
            )
        b_new = srp_bucket_rows(
            new_vecs.select("vec_id", "embedding"), shared["planes_bc"]
        ).persist()
        old_b = read_state_family(
            spark_b,
            state_path,
            "buckets",
            batch_id,
            pfx_values=_touched_pfx(b_new.select("table", "bkey"), "buckets", mani),
        )
        if old_b is not None:
            # only history rows in buckets the BATCH touches can collide
            old_b = old_b.join(
                F.broadcast(b_new.select("table", "bkey").distinct()),
                ["table", "bkey"],
                "left_semi",
            )
        all_b = b_new if old_b is None else b_new.unionByName(old_b)
        l, r = b_new.alias("l"), all_b.alias("r")
        cand = (
            l.join(
                r,
                (F.col("l.table") == F.col("r.table"))
                & (F.col("l.bkey") == F.col("r.bkey"))
                & (F.col("l.vec_id") != F.col("r.vec_id")),
            )
            .select(
                F.least(F.col("l.vec_id"), F.col("r.vec_id")).alias("vec_a"),
                F.greatest(F.col("l.vec_id"), F.col("r.vec_id")).alias("vec_b"),
            )
            .distinct()
        )
        cand = cand.persist()
        cand_ids = (
            cand.select(F.col("vec_a").alias("vec_id"))
            .union(cand.select(F.col("vec_b").alias("vec_id")))
            .distinct()
        )
        vec_new = new_vecs.select("vec_id", "embedding")
        # SEPARATE registry read pruned by the CANDIDATE ids' prefixes — `reg`
        # is pruned by the batch's own ids and may miss history-side
        # candidates' embeddings. When neither side prunes, `reg` already is
        # the whole registry — reuse it instead of a second read.
        pfx_vec_cand = _touched_pfx(cand_ids, "vectors", mani)
        if pfx_vec_batch is None and pfx_vec_cand is None:
            reg_v = reg
        else:
            reg_v = read_state_family(
                spark_b,
                state_path,
                "vectors",
                batch_id,
                pfx_values=pfx_vec_cand,
            )
        if reg_v is None:
            vec_all = vec_new
        else:
            # verify only ever reads candidate vec_ids' embeddings
            old_v = reg_v.select("vec_id", "embedding").join(
                F.broadcast(cand_ids), "vec_id", "left_semi"
            )
            vec_all = vec_new.unionByName(old_v)
        pairs = _verify_cosine_candidates(vec_all, cand, tau)
        try:
            # pairs first (replay safety comes from the exclude-own-batch read
            # rule, not write order; pairs-first just keeps a concurrent
            # read_srp_pairs from seeing an index ahead of its results)
            pairs.write.mode("overwrite").parquet(
                f"{state_path}/pairs/batch_id={batch_id}"
            )
            new_vecs.select(
                "vec_id", "embedding", F.col("_fp").alias("fp")
            ).write.mode("overwrite").parquet(
                f"{state_path}/vectors/batch_id={batch_id}"
            )
            b_new.write.mode("overwrite").parquet(
                f"{state_path}/buckets/batch_id={batch_id}"
            )
        finally:
            b_new.unpersist(blocking=True)
            cand.unpersist(blocking=True)
            if hits is not None:
                hits.unpersist(blocking=True)

    stream = spark.readStream.schema(VECTORS_SCHEMA).format("parquet").load(input_dir)
    return _start_merge_stream(stream, _merge_batch, checkpoint_dir, available_now)
