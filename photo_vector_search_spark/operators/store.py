"""Store operators: point reads, distinct, per-photo reconstruction, batch upsert,
deletes — the reference's CRUD surface (SURVEY §2.2, §2.4 A3, §2.8).

All are pure DataFrame→DataFrame transformations; persistence is a snapshot-swap
overwrite handled by ``snapshot_overwrite`` (the reference's analogue: ChromaDB's
add/update/delete mutating its SQLite+HNSW store in place,
photo_vector_search.py:136-150, 198-212).

Scale notes:
- ``merge_upsert`` is one left-anti join + union. The update batch is usually tiny
  relative to the store → Spark broadcasts it (AQE converts at runtime); the big
  side streams through without a shuffle. At 100 TB with a bucketed store table the
  anti-join co-locates and even the sort disappears.
- deletes are filters — map-side only, no shuffle, pushed to the scan where possible.
- ``group_photos`` (A3) is the only shuffling op here (groupBy photo_path); partial
  aggregation applies since collect_list is map-side combinable per group.

Persisted stores — IVF (``ann``), SQ8 and IVF,SQ8 (``sq``), IVF-PQ (``pq``),
BQ (``bq``), MaxSim (``late_interaction``), ColBERTv2 (``token_compression``)
and BM25 (``bm25_store``) — share one build and open protocol (the reference
reopens its one persistent index per call, photo_vector_search.py:16-20):

- Build writes each part with its own ``snapshot_overwrite``: the base at
  ``path`` first, then its sidecars (``path + '.centroids'``, ``'.sqmeta'``,
  ...), and the one-row ``path + '.meta'`` LAST where the store keeps one.
  Separate swaps cannot commit together, so the parts are tied by a
  ``build_id`` (a content hash of the trained model or the build's
  parameters) stamped on every sidecar row — and on every base row where
  the store checks base footers — and a ``.meta`` also records
  ``store_sig``, the content signature of the base as written
  (``_store_signature``).
- ``open_store`` opens every store in one order: recover each part from a
  crash between the two renames of its swap (``recover_store``); refuse
  missing parts; read the sidecar rows once; refuse an empty store; refuse
  a torn one — parts whose ``build_id``s differ (``_file_build_ids`` reads
  base footers, never rows) or a base whose signature is not the
  ``.meta``'s. Every refusal names the builder to re-run, so a crash
  anywhere in a build leaves a store that is either served whole or
  refused, never served torn.
- An open launches no Spark job. The KB-sized ``.meta`` and sidecar rows
  are read on the driver with pyarrow (``read_rows``), and every table is
  opened with the Spark schema stored in its own parquet footer
  (``read_table``), so Spark infers nothing; partition columns are still
  discovered from the paths. Side tables open the same way.

Driver-local read tier. A serving read of the BM25 postings store or the
IVF,SQ8 store is KB of data, and every Spark job behind it costs 65-400 ms
on a 4-core host. The open already holds every base footer
(``OpenStore.footers``), so the tier is chosen from them with no further
read: ``local_read`` sums the row visits of the row groups the call would
read — for BM25 the row groups in the query's ``term_bucket=`` directories
whose ``_term`` min/max covers a query term, a row visited once per query
of the batch that holds its term; for IVF,SQ8 the files in the probed
``cluster_id=`` directories, a row visited once per 64 code values it
decodes. Within ``LOCAL_READ_ROWS`` (2^19 visits) it reads exactly those
row groups with pyarrow, ``LOCAL_BATCH_ROWS`` rows at a time, the caller
scores them with numpy by the Spark tier's formulas and returns the
result as a local relation (``arrowkit.local_frame``), whose collect runs
no Spark job. Over the bound the caller runs its Spark plan unchanged, so
a 100 TB store still reads on Spark. Only footer statistics choose the
tier — no flag, argument or environment variable does. A live view with
side tables, MaxSim and the batch IVF paths stay on Spark.

The bound is where the tiers cross. Warm median wall, driver tier against
Spark tier, 4-core host, one read of a whole synthetic store: IVF,SQ8 at
64-d 0.60/0.87 s at 2^18 rows, 1.44/1.51 s at 2^19 and 2.01/1.69 s at
2^20; at 512-d 0.89/0.91 s at 2^16 rows, 1.84/2.01 s at 2^17 and
3.82/2.46 s at 2^18; at 768-d 0.57/0.96 s at 2^15 rows and 1.43/1.29 s
at 2^16. The driver's cost follows rows × dim: in visits the crossings
lie near 2^19 at 64-d, between 2^20 and 2^21 at 512-d and between 2^18.6
and 2^19.6 at 768-d, and the bound takes the low end. BM25, a 3-term
query: the driver tier won at every size measured, 0.62/1.11 s for one
query over 1.27M rows, and for 8 queries 0.31/1.18 s at 630k visits and
0.36/1.46 s at 897k. Peak driver RSS growth near the bound: 15 MB for
the 64-d IVF read of 2^19 rows and 91 MB for the 768-d one of 2^16 (the
IVF tier holds a few float64 copies of one batch at a time), 84 MB for
the 8-query BM25 batch of 897k visits (it holds its read and its
fan-out).

Incremental maintenance (the delta-segment + tombstone pattern of LSM-backed
indexes; cf. the reference upserting its index one directory at a time,
photo_vector_search.py:84-117, and deleting by key, :195-215). The four
incrementally maintained stores (IVF,SQ8 ``index_maintenance``, MaxSim
``maxsim_maintenance``, ColBERTv2 ``cv2_maintenance``, BM25 ``bm25_store``)
share one protocol, implemented once below:

- Layout: a base at ``path``, FROZEN between compactions, plus side tables
  ``path.delta`` (upserted rows in the base's schema and partitioning; BM25
  also keeps ``path.dldelta``, its doc-level membership table) and
  ``path.tombstones`` (deleted ids). Every side-table row carries the base's
  STABLE ``build_id``; a side table from another build is refused at read
  (its rows were encoded against different centroids, ranges or codebooks).
- Live view = delta ∪ (base ⟕anti delta-ids) ⟕anti tombstones. The side
  tables are broadcast (recent changes, never corpus-scale); probe filters
  push through the union, so the base scan keeps its partition pruning.
- Upsert merges each delta in order (payload first, membership table last),
  then revives the ids (drops them from the tombstones). A crash between the
  delta swap and the revive leaves a re-upserted, previously tombstoned id
  invisible until the caller replays the upsert — bounded and self-healing.
  Revive-first would have the opposite window: a crash could resurrect a
  DELETED row whose replacement never landed.
- Delete tombstones the ids first, then drops them from each delta; a crash
  in between leaves ids that are already invisible.
- Every rewritten side table is MATERIALIZED (``localCheckpoint``) before
  its snapshot swap: a lazy plan reading the old directory would race its
  own overwrite.
- Compaction snapshot-swaps the live view in as the new base (plus, for
  stores that sign their base directory, a meta restamp), then clears the
  side tables membership-first: tombstones, then the membership table
  (BM25 ``.dldelta``), then ``.delta``. ``build_id`` is stable across
  compaction, so every state a crash leaves overlays to the same live view:
  stale delta rows override identical base copies, stale tombstones
  re-delete rows the base already dropped, and a postings delta without its
  membership table is ignored. Re-running compaction converges.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import tempfile
from typing import NamedTuple

import numpy as np
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from photo_vector_search_spark.functions.arrowkit import local_frame


def point_lookup(store: DataFrame, photo_path: str, aspect_name: str | None = None) -> DataFrame:
    """P3/P4 — `collection.get(where={photo_path[, aspect_name]})`
    (photo_vector_search.py:117-125, 204-207; cli.py:173-176)."""
    df = store.filter(F.col("photo_path") == photo_path)
    if aspect_name is not None:
        df = df.filter(F.col("aspect_name") == aspect_name)
    return df


def distinct_photos(store: DataFrame) -> DataFrame:
    """P5 — unique photo list (`app.py:52-53` does set() over a full scan)."""
    return store.select("photo_path").distinct()


def group_photos(store: DataFrame) -> DataFrame:
    """A3 — reconstruct each photo as its sorted aspect list (cli.py:178-185).

    Sorted so the result is deterministic for the oracle (`collect_list` order is
    otherwise partition-dependent)."""
    return store.groupBy("photo_path").agg(
        F.sort_array(F.collect_list("aspect_name")).alias("aspects"),
        F.count(F.lit(1)).alias("n_aspects"),
    )


def describe_store(store: DataFrame) -> DataFrame:
    """Store summary, one row per aspect — the engine-side analogue of the
    reference UI's browse/manage pages (app.py:24-46 View/Manage list photos and
    aspects with counts). Everything the pages show that isn't presentation:
    rows, distinct photos, described fraction, embedding dimension.

    Single groupBy — map-side combinable aggs, one shuffle on aspect_name."""
    return (
        store.groupBy("aspect_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct("photo_path").alias("n_photos"),
            F.sum(
                F.when(F.length(F.coalesce("description", F.lit(""))) > 0, 1).otherwise(0)
            ).alias("n_described"),
            F.min(F.size("embedding")).alias("dim_min"),
            F.max(F.size("embedding")).alias("dim_max"),
        )
    )


def merge_upsert(existing: DataFrame, updates: DataFrame, keys: list[str]) -> DataFrame:
    """U1 — last-write-wins batch upsert (photo_vector_search.py:114-154).

    The reference upserts row-at-a-time (exists-check → update | add); the batch
    formulation with deterministic keys reaches the same end state in one pass:
    rows of `existing` whose key appears in `updates` are replaced."""
    return existing.join(
        updates.select(*keys).distinct(), on=keys, how="left_anti"
    ).unionByName(updates)


def delete_by_key(store: DataFrame, photo_path: str, aspect_name: str) -> DataFrame:
    """D1 — delete one (photo_path, aspect) row (photo_vector_search.py:198-201)."""
    return store.filter(
        ~((F.col("photo_path") == photo_path) & (F.col("aspect_name") == aspect_name))
    )


def delete_where(store: DataFrame, predicate: Column) -> DataFrame:
    """D2 — delete all rows matching a predicate (photo_vector_search.py:203-212
    deletes every aspect of a photo)."""
    return store.filter(~predicate)


def truncate(store: DataFrame) -> DataFrame:
    """SC7 — `collection.delete(where={})` keeps the store, removes all rows
    (cli.py:149)."""
    return store.limit(0)


def drop_store(path: str) -> None:
    """SC8 — remove the persistent store entirely (`shutil.rmtree(db_path)`,
    cli.py:158-162; the interactive confirm stays with the caller)."""
    shutil.rmtree(path, ignore_errors=True)


def _data_files(path: str) -> list[str]:
    """Every data file under ``path`` (hidden and ``_``-prefixed files such
    as ``_SUCCESS`` and ``.crc`` skipped) — one directory walk."""
    return [
        os.path.join(root, f)
        for root, _dirs, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    ]


def _store_signature(path: str, files: list[str] | None = None) -> str:
    """Content marker for the store DIRECTORY: md5 over the sorted
    (relative path, size) of every data file. Every snapshot swap writes
    fresh uniquely-named part files, so ANY store rewrite — including
    count-preserving pure upserts — changes the signature. This is what lets
    ``ann.load_cluster_radii`` detect staleness that a row-count check cannot
    (a replaced vector can land farther from its centroid than the recorded
    radius and silently break the adaptive probe's exactness bound).
    Driver-side listing, O(files); same POSIX-path assumption as the
    snapshot-swap store itself. ``files``: ``_data_files(path)`` when the
    caller already walked the directory."""
    entries = [
        f"{os.path.relpath(full, path)}:{os.path.getsize(full)}"
        for full in (_data_files(path) if files is None else files)
    ]
    return hashlib.md5("\n".join(sorted(entries)).encode()).hexdigest()


def _footers(files: list[str]) -> dict:
    """{file: parquet footer} of every ``.parquet`` file in ``files`` — the
    one footer read of an open; driver-side metadata, no Spark job."""
    import pyarrow.parquet as pq

    return {f: pq.read_metadata(f) for f in files if f.endswith(".parquet")}


def _file_build_ids(
    path: str, files: list[str] | None = None, footers: dict | None = None
) -> set:
    """Every distinct ``build_id`` under ``path`` — from parquet FOOTER
    statistics, driver-side, O(files) metadata reads, no Spark job (a
    per-row ``distinct().collect()`` would scan the whole store per load —
    per serving call; at 100 TB the torn-build check must be
    metadata-sized). ``build_id`` is written as a constant column, so a row
    group's min == max == the id, and the writer's footer stats are exact
    for a short hex string (far under stat truncation). A footer without
    usable stats falls back to reading that ONE file's build_id column
    (bounded, never store-sized); a NULL or a missing column surfaces as
    ``None`` in the set, which can never equal any expected id. An empty set
    means zero data files / zero row groups — the never-built case.
    ``files``: as in ``_store_signature``; ``footers``: ``_footers(files)``
    when the caller already read them."""
    import pyarrow.parquet as pq

    if footers is None:
        footers = _footers(_data_files(path) if files is None else files)
    builds: set = set()
    for full, md in footers.items():
        try:
            col_idx = md.schema.names.index("build_id")
        except ValueError:
            builds.add(None)  # schema without build_id: torn by definition
            continue
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(col_idx).statistics
            if st is None or not st.has_min_max:
                col = pq.read_table(full, columns=["build_id"])
                builds.update(col.column(0).to_pylist())
                break
            if st.null_count not in (0, None):
                builds.add(None)
            builds.update(_stat_values(st))
    return builds


def _stat_values(stats) -> tuple:
    """(min, max) of a row group's column statistics, strings decoded."""
    return tuple(
        v.decode("utf-8", "replace") if isinstance(v, bytes) else v
        for v in (stats.min, stats.max)
    )


_SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def read_table(
    spark, path: str, files: list[str] | None = None, footers: dict | None = None
) -> DataFrame:
    """The parquet table at ``path`` as a lazy frame, with no Spark job:
    the schema is the one Spark stored in the footer of the first of its
    data files (``files``, when the caller already walked the directory;
    ``footers``, when it already read them), so Spark infers nothing;
    partition columns are still discovered from the paths. A table whose
    footer lacks Spark's schema (written outside Spark) or that has no file
    is left to ``spark.read.parquet``'s own inference. Past 32 partition
    directories Spark lists them with a parallel job of its own."""
    import pyarrow.parquet as pq

    if footers is None:
        if files is None:
            files = _data_files(path)
        parts = sorted(f for f in files if f.endswith(".parquet"))
        footers = {parts[0]: pq.read_metadata(parts[0])} if parts else {}
    raw = (
        (footers[min(footers)].metadata or {}).get(_SPARK_SCHEMA_KEY)
        if footers
        else None
    )
    schema = StructType.fromJson(json.loads(raw)) if raw else None
    return (spark.read if schema is None else spark.read.schema(schema)).parquet(
        path
    )


def read_rows(path: str, order_by=()) -> list[Row]:
    """Every row of the KB-sized sidecar table at ``path``, read on the
    driver with pyarrow (no Spark job), as ``Row``s of the table's fields,
    sorted by ``order_by`` ascending with NULLs first (Spark's default
    order). Sidecars hold flat columns (atomic values and arrays of them),
    whose pyarrow values are the ones a Spark ``collect`` returns."""
    import pyarrow.parquet as pq

    rows = []
    for f in sorted(_data_files(path)):
        if f.endswith(".parquet"):
            table = pq.ParquetFile(f).read()
            make = Row(*table.column_names)
            rows += [make(*r.values()) for r in table.to_pylist()]
    return sorted(
        rows, key=lambda r: [(r[c] is not None, r[c]) for c in order_by]
    )


def recover_store(path: str) -> None:
    """Crash recovery for the snapshot swap: if a previous run died between the
    two renames, `path` is absent but `path + '.old'` holds the last complete
    snapshot — restore it. Call before reading OR writing a store; no-op when
    the store is healthy."""
    old = path + ".old"
    if not os.path.exists(path) and os.path.exists(old):
        os.rename(old, path)


def snapshot_overwrite(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Persist a new store state atomically-enough: write tmp dir, swap (SURVEY §7
    "hard parts" #1). On a real deployment this is a table-format commit (Delta/
    Iceberg); plain Parquet + rename is the dependency-free stand-in.

    ``partition_by``: hive-partition the snapshot by these columns (e.g.
    ``["cluster_id"]`` for an IVF store) — reads that filter on them then prune
    whole directories at file-listing time (PartitionFilters), which is the
    at-rest half of the IVF design (ann.py)."""
    recover_store(path)  # never clobber a crashed run's only surviving snapshot
    parent = os.path.dirname(os.path.abspath(path))
    tmp = tempfile.mkdtemp(prefix="._snapshot_", dir=parent)
    try:
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(tmp)
        old = path + ".old"
        # after recover_store, an existing .old alongside an existing store is
        # leftover garbage from an interrupted cleanup — safe to clear
        shutil.rmtree(old, ignore_errors=True)
        if os.path.exists(path):
            os.rename(path, old)
            # crash window: between these renames `path` is briefly absent —
            # POSIX has no atomic directory swap; a table format (Delta/Iceberg)
            # closes this gap with a metadata commit. `.old` holds the previous
            # snapshot and recover_store restores it on the next access.
            os.rename(tmp, path)
            shutil.rmtree(old, ignore_errors=True)
        else:
            os.rename(tmp, path)
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise


class OpenStore(NamedTuple):
    """``open_store``'s result: ``tables`` as lazy frames, in the order
    asked, the ``sidecar`` rows and the ``.meta`` row, read on the driver,
    the ``build_id`` every part was checked against, and the parquet
    ``footers`` the build check read, ``{table suffix: {file: footer}}``
    (empty when the store opens with ``footer=False``) — what the driver
    tier sizes its reads from (module docstring)."""

    tables: list
    rows: list
    meta: Row | None
    build_id: str | None
    footers: dict


def open_store(
    spark,
    path: str,
    kind: str,
    builder: str,
    tables=("",),
    sidecar: str | None = None,
    order_by=(),
    meta: bool = False,
    footer: bool = True,
    build_id: str | None = None,
) -> OpenStore:
    """Open a persisted store by the open protocol (module docstring),
    launching no Spark job.

    ``tables``: suffixes of the parquet tables returned as lazy frames
    (``""`` is the base). ``sidecar``: suffix of the table whose rows are
    read, sorted by ``order_by``. ``meta``: the store keeps a one-row
    ``.meta`` whose ``build_id`` is the store's build and whose
    ``store_sig`` signs the base. Without it the build is ``build_id`` (a
    part opened after its store's meta), else the sidecar rows' own.
    ``footer``: the tables' parquet footers carry that build too. ``kind``
    and ``builder`` name the store in refusals."""
    parts = [*tables, *[p for p in (sidecar, meta and ".meta") if p]]
    for part in parts:
        recover_store(path + part)
    missing = [p or "base" for p in parts if not os.path.isdir(path + p)]
    if missing:
        raise ValueError(
            f"no {kind} store at {path!r} (missing: {missing}) — run "
            f"{builder} first"
        )
    meta_row = read_meta(spark, path, f"{kind} store") if meta else None
    rows = read_rows(path + sidecar, order_by) if sidecar else []
    files = {t: _data_files(path + t) for t in tables}  # one walk per table
    footers = {t: _footers(files[t]) for t in tables} if footer else {}
    builds = {
        t or "base": _file_build_ids(path + t, footers=f)
        for t, f in footers.items()
    }
    if sidecar:
        builds[sidecar] = {r["build_id"] for r in rows}
    empty = [p for p, b in builds.items() if not b]
    if empty:
        raise ValueError(
            f"{kind} store at {path!r} is empty (no rows in: {empty}) — run "
            f"{builder} first"
        )
    if meta_row is not None:
        build_id = meta_row["build_id"]
    want = builds[sidecar] if build_id is None else {build_id}
    torn = [
        f"{p} is from build {sorted(b, key=str)}"
        for p, b in builds.items()
        if b != want
    ]
    if meta and _store_signature(path, files[""]) != meta_row["store_sig"]:
        torn.append("the base does not match the .meta content signature")
    if torn:
        raise ValueError(
            f"{kind} store at {path!r} is a torn pair ({'; '.join(torn)}; the "
            f"build on record is {sorted(want, key=str)}) — a write crashed "
            "between snapshot swaps or a part was rewritten outside the "
            f"engine; re-run {builder}"
        )
    return OpenStore(
        [read_table(spark, path + t, files[t], footers.get(t)) for t in tables],
        rows,
        meta_row,
        next(iter(want)) if len(want) == 1 else None,
        footers,
    )


# ---------------------------------------------------------------------------
# the driver-local read tier (module docstring)
# ---------------------------------------------------------------------------

# The most row visits a serving read may take through the driver tier,
# counted from the footers of the row groups it would read: where the
# tiers cross (module docstring).
LOCAL_READ_ROWS = 1 << 19
# The rows the driver tier reads at a time. IVF,SQ8 also scores one batch
# at a time, so its decoded floats peak at one batch, as a Spark task's do
# at one Arrow batch.
LOCAL_BATCH_ROWS = 1 << 12


def _fanout(stats, keys: dict) -> int:
    """The most visits one row of a row group may take: the largest
    ``keys`` fan-out among the keys its column min/max covers (0 when it
    covers none; without usable statistics, the largest of all)."""
    if stats is None or not stats.has_min_max:
        return max(keys.values(), default=0)
    lo, hi = _stat_values(stats)
    return max((w for k, w in keys.items() if lo <= k <= hi), default=0)


def local_read(
    footers: dict, partition: str, values, columns, column=None, keys=None,
    row_cost=1,
):
    """The driver tier's read of a hive-partitioned table: the row groups
    of the files under ``partition=value`` directories for ``values`` —
    only those whose ``column`` min/max covers one of ``keys``, when
    ``column`` is given — as pyarrow record batches of ``columns`` of at
    most ``LOCAL_BATCH_ROWS`` rows, in file order, read lazily.

    A row group costs its rows times the visits each row takes:
    ``row_cost`` times, when ``column`` is given, the largest fan-out
    among the keys it may hold — ``keys`` maps each key to its fan-out
    (for a BM25 batch, the queries holding the term). None, reading
    nothing, when the cost by the ``footers`` (``OpenStore.footers`` of
    the table) is over ``LOCAL_READ_ROWS``: the caller then runs its Spark
    plan."""
    import pyarrow.parquet as pq

    dirs = {f"{partition}={v}" for v in values}
    picked, cost = [], 0
    for file in sorted(footers):
        if os.path.basename(os.path.dirname(file)) not in dirs:
            continue
        md = footers[file]
        idx = md.schema.names.index(column) if column is not None else None
        groups = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            fan = 1 if idx is None else _fanout(rg.column(idx).statistics, keys)
            if fan:
                groups.append(g)
                cost += rg.num_rows * fan * row_cost
        if groups:
            picked.append((file, groups))
    if cost > LOCAL_READ_ROWS:
        return None
    return (
        batch
        for f, groups in picked
        for batch in pq.ParquetFile(f, metadata=footers[f]).iter_batches(
            LOCAL_BATCH_ROWS, row_groups=groups, columns=list(columns)
        )
    )


def write_kind_vectors(
    spark, path: str, vectors: dict, build_id: str, order: str | None = None
) -> None:
    """Snapshot-swap the kind-tagged sidecar ``kind_vectors`` decodes: for
    each ``kind`` in ``vectors``, a row per row of a 2-D matrix (at its
    position in column ``order``, when given) or one row for a 1-D vector
    (NULL position), every row stamped with ``build_id``."""
    rows = []
    for kind, v in vectors.items():
        v = np.asarray(v)
        for i, vec in enumerate(v if v.ndim == 2 else [v]):
            pos = (i if v.ndim == 2 else None,) if order else ()
            rows.append((kind, *pos, [float(x) for x in vec], build_id))
    schema = "kind string, vec array<double>, build_id string"
    if order:
        schema = f"kind string, {order} int, vec array<double>, build_id string"
    snapshot_overwrite(spark.createDataFrame(rows, schema), path)


def kind_vectors(rows, kinds, order: str | None = None) -> dict:
    """Decode the rows of a kind-tagged sidecar (``write_kind_vectors``):
    one float64 matrix per kind, its rows in ``order`` when given. Refuses
    a sidecar without rows of each of ``kinds``."""
    by_kind: dict[str, list] = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    lacking = [k for k in kinds if k not in by_kind]
    if lacking:
        raise ValueError(
            f"store sidecar has no {lacking} rows — not written by the "
            "store's builder; rebuild the store"
        )
    return {
        kind: np.vstack([
            np.asarray(r["vec"], dtype=np.float64)
            for r in (sorted(rs, key=lambda r: r[order]) if order else rs)
        ])
        for kind, rs in by_kind.items()
    }


# ---------------------------------------------------------------------------
# incremental maintenance — the delta/tombstone protocol (module docstring)
# ---------------------------------------------------------------------------

TOMBSTONES = ".tombstones"
_SIDE_KINDS = {
    ".delta": "delta segment",
    ".dldelta": "doclens delta",
    TOMBSTONES: "tombstone set",
}


def side_table(spark, path: str, suffix: str, build_id: str) -> DataFrame | None:
    """Read side table ``path + suffix``, refusing one from another build.
    A missing or file-less dir is an empty table (a crashed cleanup may
    leave either — both are valid empty states). One directory walk serves
    the footer build check and the schema."""
    side = path + suffix
    recover_store(side)
    files = [f for f in _data_files(side) if f.endswith(".parquet")]
    if not files:
        return None
    footers = _footers(files)
    builds = _file_build_ids(side, footers=footers)  # no table scan
    if builds and builds != {build_id}:
        raise ValueError(
            f"{_SIDE_KINDS[suffix]} at {side!r} is from build "
            f"{sorted(builds, key=str)} but the base store is build "
            f"{build_id!r} — it was written against different "
            "centroids/ranges; compact or rebuild before serving"
        )
    return read_table(spark, side, footers=footers)


def side_tables(spark, path: str, build_id: str, suffixes=(".delta", TOMBSTONES)):
    """``side_table`` for each suffix, in order."""
    return [side_table(spark, path, s, build_id) for s in suffixes]


def upsert_ids(batch: DataFrame, id_col: str) -> tuple[int, DataFrame]:
    """(row count, distinct ids) of an upsert batch; refuses a batch that
    holds an id twice — an upsert writes exactly one row per id."""
    n = batch.count()
    ids = batch.select(F.col(id_col)).distinct()
    if n and ids.count() != n:
        raise ValueError("duplicate ids in the upsert batch — one row per id")
    return n, ids


def _rewrite_side_table(
    spark, path, suffix, build_id, id_col, ids, rows=None, partition_by=None
) -> None:
    """Swap in ``path + suffix`` with ``ids`` removed and ``rows`` (if any)
    added; a no-op when the table is empty and nothing is added."""
    old = side_table(spark, path, suffix, build_id)
    if old is not None:
        kept = old.join(F.broadcast(ids), id_col, "left_anti")
        rows = kept if rows is None else rows.unionByName(kept)
    if rows is not None:
        snapshot_overwrite(
            rows.localCheckpoint(eager=True), path + suffix,
            partition_by=partition_by,
        )


def upsert_side_tables(spark, path, build_id, id_col, ids, deltas) -> None:
    """Merge ``deltas`` — ``(suffix, rows, partition_by)`` triples, in write
    order — replacing the ``ids``' earlier rows, then revive the ``ids``."""
    for suffix, rows, partition_by in deltas:
        _rewrite_side_table(
            spark, path, suffix, build_id, id_col, ids, rows, partition_by
        )
    _rewrite_side_table(spark, path, TOMBSTONES, build_id, id_col, ids)


def delete_ids(spark, path, build_id, id_col, ids, deltas) -> int:
    """Tombstone ``ids`` (a list or a one-column DataFrame), then drop them
    from each ``(suffix, partition_by)`` delta. Returns the number of ids
    tombstoned."""
    if isinstance(ids, DataFrame):
        ids = ids.select(F.col(ids.columns[0]).alias(id_col)).distinct()
    else:
        ids = local_frame(
            spark, [(int(v),) for v in ids], f"`{id_col}` long"
        ).distinct()
    n = ids.count()
    if n == 0:
        return 0
    old = side_table(spark, path, TOMBSTONES, build_id)
    new = ids.withColumn("build_id", F.lit(build_id))
    if old is not None:
        new = new.unionByName(
            old.join(F.broadcast(ids), id_col, "left_anti")
        ).distinct()
    snapshot_overwrite(new.localCheckpoint(eager=True), path + TOMBSTONES)
    for suffix, partition_by in deltas:
        _rewrite_side_table(
            spark, path, suffix, build_id, id_col, ids,
            partition_by=partition_by,
        )
    return n


def live_overlay(
    base: DataFrame,
    delta: DataFrame | None,
    tombstones: DataFrame | None,
    id_col: str,
    shadow: DataFrame | None = None,
) -> DataFrame:
    """delta ∪ (base ⟕anti shadow) ⟕anti tombstones, where ``shadow`` (one
    id column) defaults to the delta's ids."""
    if shadow is None and delta is not None:
        shadow = delta.select(id_col)
    live = base
    if shadow is not None:
        live = live.join(F.broadcast(shadow), id_col, "left_anti")
    if delta is not None:
        live = live.unionByName(delta.select(*base.columns))
    if tombstones is not None:
        live = live.join(
            F.broadcast(tombstones.select(id_col)), id_col, "left_anti"
        )
    return live


def live_view(spark, path: str, base: DataFrame, build_id: str, id_col: str):
    """``live_overlay`` of ``base`` with its build-checked ``.delta`` and
    ``.tombstones``."""
    delta, ts = side_tables(spark, path, build_id)
    return live_overlay(base, delta, ts, id_col)


def clear_side_tables(path: str, suffixes=(TOMBSTONES, ".delta")) -> None:
    """Compaction's last step: remove the side tables in the given order —
    membership authorities first (module docstring)."""
    for suffix in suffixes:
        shutil.rmtree(path + suffix, ignore_errors=True)
        shutil.rmtree(path + suffix + ".old", ignore_errors=True)


def read_meta(spark, path: str, what: str) -> Row:
    """The single row of a store's ``.meta`` sidecar, read on the driver."""
    rows = read_rows(path + ".meta")
    if len(rows) != 1:
        raise ValueError(
            f"{what} sidecar at {path + '.meta'!r} has {len(rows)} rows, "
            "want exactly 1 — rebuild the store"
        )
    return rows[0]


def write_meta(spark, path: str, values: dict, schema: str) -> dict:
    """Snapshot-swap the single-row ``.meta`` sidecar — the last write of a
    build or compaction — with ``store_sig`` the content signature of the
    base as it stands now; ``values`` maps the other ``schema`` field names
    (extra keys are ignored). Returns the values written."""
    values = {**values, "store_sig": _store_signature(path)}
    snapshot_overwrite(spark.createDataFrame([values], schema), path + ".meta")
    return values
