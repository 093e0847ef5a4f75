"""Zero-copy Arrow → NumPy helpers for the vectorized serving kernels.

A ``list<list<double>>`` (or ``list<list<int*>>``) Arrow column is ONE
contiguous values buffer plus two offset arrays — so a batch's stacked
token matrix is a ``reshape`` over the flat buffer, not 10⁵ per-row
``np.asarray``/``np.vstack`` calls (measured ~2.5× the cost of the actual
BLAS scoring at sf0.1; guide §4.2: operations that only re-slice bytes
should re-slice buffers). The kernels that consume these helpers moved
from ``mapInPandas`` (which materializes each cell as a nested object
array) to ``mapInArrow`` for exactly this reason.

Parity: the helpers produce the SAME flat (ΣT, dim) float64 stack, row
order, counts and keep-mask as the pandas-era ``_tok_matrices`` loop —
the arithmetic downstream is untouched, so scores are bit-identical
(parity-pinned in the operators' tests).

``batch_topk`` is the one per-batch top-k cut and rank step of the batch
scorers (knn, SQ8, BQ, PQ, MaxSim and its compressed twin, the pooled
MaxSim prefilter); its docstring states the presort, the band, the
row-local key and the tie order.

Three driver-side helpers for the serving calls sit here too:
``local_frame`` builds the small frames a call assembles on the driver as
Arrow-backed ``LocalRelation``s, ``bounded_rows`` reads a caller's query
frame in one bounded job, and ``spark_round6`` is Spark's ``round(x, 6)``
for the scores the driver tier computes. A
``spark.createDataFrame(<Python list>)`` is a parallelized Python RDD:
every job that scans or broadcasts it runs Python-worker tasks, 250-400 ms
a job on a 4-core host against 65-90 ms for a JVM-only job.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def list_lengths(col: pa.Array) -> np.ndarray:
    """Per-row inner-list lengths with NULL rows as 0 — int64."""
    return (
        pa.compute.fill_null(pa.compute.list_value_length(col), 0)
        .to_numpy(zero_copy_only=False)
        .astype(np.int64)
    )


def nested_matrix(col: pa.Array, dim: int, dtype=np.float64):
    """(flat (ΣT, dim) ``dtype``, per-KEPT-row token counts, keep mask) for
    a ``list<list<numeric>>`` column — the Arrow twin of the pandas-era
    ``_tok_matrices``. NULL/empty rows are dropped from the stack (keep
    False). Raises if any inner vector's length differs from ``dim`` (the
    store contract; the old ``np.vstack`` path errored on ragged input
    too)."""
    outer_len = list_lengths(col)
    keep = outer_len > 0
    counts = outer_len[keep]
    if not counts.size:
        return None, None, keep
    inner = col.flatten()  # token vectors of kept rows, in row order
    if inner.null_count:
        # a NULL inner vector would silently drop from the flat buffer and
        # misalign every row after it — refuse instead
        raise ValueError("nested_matrix: NULL inner vector in list column")
    inner_len = pa.compute.list_value_length(inner)
    mn = pa.compute.min(inner_len).as_py()
    mx = pa.compute.max(inner_len).as_py()
    if mn != dim or mx != dim:
        raise ValueError(
            f"nested_matrix: inner vectors must all have length {dim}, "
            f"got lengths in [{mn}, {mx}]"
        )
    flat = inner.flatten().to_numpy(zero_copy_only=False)
    return (
        np.ascontiguousarray(flat, dtype=dtype).reshape(-1, dim),
        counts,
        keep,
    )


def flat_values(col: pa.Array, dtype=np.int64) -> np.ndarray:
    """Concatenated inner values of a ``list<numeric>`` column (NULL rows
    contribute nothing), as ``dtype``."""
    return col.flatten().to_numpy(zero_copy_only=False).astype(dtype)


def fixed_matrix(col: pa.Array, dim: int, dtype=np.float64):
    """(matrix (kept, dim) ``dtype``, keep mask) for a ``list<numeric>``
    column of fixed-width vectors (e.g. the pooled column): NULL/empty rows
    are dropped; raises on ragged widths. Integer codes stack exactly when
    ``dtype`` is an integer type: a packed 64-bit word does not survive a
    float64 round trip."""
    lens = list_lengths(col)
    keep = lens > 0
    if not keep.any():
        return None, keep
    bad = lens[keep]
    if bad.min() != dim or bad.max() != dim:
        raise ValueError(
            f"fixed_matrix: vectors must all have length {dim}, got "
            f"lengths in [{bad.min()}, {bad.max()}]"
        )
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return (
        np.ascontiguousarray(flat, dtype=dtype).reshape(-1, dim),
        keep,
    )


def local_frame(spark, rows, schema):
    """``rows`` (tuples in ``schema``'s field order) as a JVM-local frame:
    one Arrow table handed to ``spark.createDataFrame``, which plans it as
    a ``LocalRelation`` (a ``LocalTableScan``, no Python worker in any job
    that reads it). ``schema``: a ``StructType`` or a DDL string."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType

    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def bounded_rows(
    queries, cols, max_queries: int, too_many: str, duplicate=None, empty=None
) -> list[dict]:
    """At most ``max_queries`` rows of ``queries``' ``cols``, as dicts, read
    in ONE bounded job (``limit(max_queries + 1).toArrow()``; a ``collect``
    takes two on a multi-partition frame, through ``executeTake``'s
    scale-up). Refuses with ``too_many`` past ``max_queries``, with
    ``empty`` (when given) on no rows and with ``duplicate`` (when given)
    when the first column repeats a value. The limit comes first, so an
    oversized frame never lands whole on the driver."""
    rows = queries.select(*cols).limit(max_queries + 1).toArrow().to_pylist()
    if len(rows) > max_queries:
        raise ValueError(too_many)
    if empty is not None and not rows:
        raise ValueError(empty)
    if duplicate is not None:
        ids = [r[cols[0]] for r in rows]
        if len(set(ids)) != len(ids):
            raise ValueError(duplicate)
    return rows


def _round6_exact(x: float) -> float:
    """Spark's ``round(x, 6)`` of one double: ``BigDecimal(x)`` — parsed
    from ``Double.toString(x)``, asked of the JVM because JDK 17's digits
    are not always the shortest ones Python's ``repr`` gives — set to scale
    6 HALF_UP and converted back; a zero result is +0.0 (BigDecimal has no
    negative zero)."""
    from decimal import ROUND_HALF_UP, Context, Decimal

    from pyspark import SparkContext

    digits = Decimal(SparkContext._jvm.java.lang.Double.toString(x))
    return float(
        digits.quantize(Decimal("1e-6"), ROUND_HALF_UP, Context(prec=400))
    ) + 0.0


def round6(x) -> np.ndarray:
    """``x`` rounded half away from zero to 6 dp, as ``n / 1e6`` with ``n``
    the rounded ``|x| · 1e6``: Spark's ``round(x, 6)`` everywhere except
    within a few ulps of a half-way point (``spark_round6`` settles those
    through the JVM). Needs no JVM, so a Python worker can use it; NaN and
    infinities pass through."""
    x = np.asarray(x, dtype=np.float64)
    out = np.copysign(np.floor(np.abs(x) * 1e6 + 0.5) / 1e6, x) + 0.0
    out[~np.isfinite(x)] = x[~np.isfinite(x)]
    return out


def spark_round6(x) -> np.ndarray:
    """Spark's ``round(x, 6)`` on a float64 array, value for value (pinned
    against ``F.round`` in tests). Spark rounds the decimal digits of
    ``Double.toString(x)`` HALF_UP. Away from a half-way point those digits
    and ``x`` round alike, so the result is ``round6(x)`` — the double
    nearest ``n · 10⁻⁶``, as Spark's ``BigDecimal.toDouble`` gives. Values
    within a few ulps of a half-way point, or too large for an exact ``n``,
    go through ``_round6_exact``."""
    x = np.asarray(x, dtype=np.float64)
    out = round6(x)
    y = np.abs(x) * 1e6
    with np.errstate(invalid="ignore"):
        near = np.abs(y - np.floor(y) - 0.5) <= 8 * np.spacing(y) + 1e-9
        exact = np.isfinite(x) & (near | (y >= 2.0**52))
    for i in np.flatnonzero(exact):
        out[i] = _round6_exact(float(x[i]))
    return out


def cosine_screen(x, keep, qm, qn, distance: bool = False):
    """A ``batch_topk`` screen: the cosine of every kept row ``x`` (norms
    from the rows) against every query ``qm`` (norms ``qn``) in one BLAS
    product, and ``exact``, the same ratio pair by pair with ``einsum``
    (``sq._sq8_topc``'s row-local form, equal to it to the bit).
    ``distance``: 1 − cosine instead."""
    nrm = np.linalg.norm(x, axis=1)
    with np.errstate(divide="ignore", invalid="ignore"):
        cos = (x @ qm.T) / (nrm[:, None] * qn[None, :])

    def exact(ri, qi):
        dots = np.einsum("ij,ij->i", x[ri], qm[qi])
        pair = dots / (nrm[ri] * qn[qi])
        return 1.0 - pair if distance else pair

    return np.flatnonzero(keep), 1.0 - cos if distance else cos, exact


def rank_per_query(frame, key, id_col: str, k: int, descending: bool = False):
    """``frame`` with ``rank``: ``row_number`` over each ``query_id``
    ordered by ``key`` (a column name or expression), then by ascending
    ``id_col``; rows past rank ``k`` dropped."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    key = F.col(key) if isinstance(key, str) else key
    win = Window.partitionBy("query_id").orderBy(
        key.desc() if descending else key.asc(), F.col(id_col).asc()
    )
    return frame.withColumn("rank", F.row_number().over(win)).filter(
        F.col("rank") <= k
    )


def batch_topk(
    frame,
    id_col: str,
    qids,
    k: int,
    screen,
    value: str = "_dist",
    value_type: str = "double",
    carry: tuple = (),
    query_type: str = "long",
    descending: bool = False,
    round6_key: bool = False,
    allowed: dict | None = None,
    cluster_col: str = "cluster_id",
    copies: int = 1,
):
    """Per-query top-``k`` of ``frame`` for the Q queries ``qids``, one
    ``mapInArrow`` pass plus one window: (query_id, ``id_col``,
    ``*carry``, ``value``, rank).

    Each Arrow batch is sorted by ``id_col`` (a stable sort), then
    ``screen(batch)`` returns ``(rows, scores, exact)``: the positions of
    the rows that can score, their (len(rows), Q) scores (lower is better,
    or higher with ``descending``; NaN and infinities never rank) and
    ``exact`` — ``None`` when a score is computed from its own row and
    query alone, else ``exact(ri, qi)``, which scores the pairs
    ``(rows[ri], qids[qi])`` that way. A BLAS product is not such a score:
    its rounding depends on the other rows of the batch. So the cut keeps
    every pair within a band of a query's ``k``-th screened score,
    re-scores those pairs with ``exact`` and keeps the ``k`` best by the
    exact score. The band covers twice the screen's error (1e-9 is ample
    for a cosine), plus, when ``round6_key`` ranks by the score rounded to
    6 dp, the 1e-6 by which two scores with the same rounded key can
    differ. The key a survivor is cut and ranked by is then a function of
    its row and query alone, and ties break by ascending id, in the batch
    (the presort) as in the window — so the result does not depend on how
    Spark splits the input into batches and partitions.

    ``allowed``: query id → the clusters (``cluster_col``) it may score,
    its IVF probes. ``copies > 1``: the same id sits in up to ``copies``
    rows with the same score (multi-assign stores); each batch keeps
    ``k · copies`` per query and one copy of each id is ranked."""
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import DataType, StructType

    ends = DataType.fromDDL(f"query_id {query_type}, {value} {value_type}")
    passed = (id_col, *carry)
    schema = StructType(
        [ends[0], *(frame.schema[c] for c in passed), ends[1]]
    )
    arrow_out = to_arrow_schema(schema)
    allow = None
    if allowed is not None:  # (Q, n_clusters): the clusters each query scores
        n = 1 + max((int(c) for ps in allowed.values() for c in ps), default=0)
        allow = np.zeros((len(qids), n), dtype=bool)
        for j, qid in enumerate(qids):
            allow[j, [int(c) for c in allowed.get(qid, ())]] = True
    state = frame.sparkSession.sparkContext.broadcast((np.asarray(qids), allow))
    per_batch = k * copies
    band = 2e-6 if round6_key else 1e-9

    def _cut(batches):
        ids, amat = state.value
        for batch in batches:
            if not batch.num_rows:
                continue
            order = pa.compute.sort_indices(batch.column(id_col))
            if (order.to_numpy() != np.arange(batch.num_rows)).any():
                batch = batch.take(order)
            got = screen(batch)
            if got is None:
                continue
            rows, scores, exact = got
            s = np.array(scores, dtype=np.float64)
            if descending:
                s = -s
            s[~np.isfinite(s)] = np.inf
            if amat is not None:
                cid = batch.column(cluster_col).to_numpy()[rows]
                ok = np.zeros(s.shape, dtype=bool)
                known = (cid >= 0) & (cid < amat.shape[1])
                ok[known] = amat[:, cid[known]].T
                s[~ok] = np.inf
            kk = min(per_batch, len(rows))
            t = np.partition(s, kk - 1, axis=0)[kk - 1]
            ri, qi = np.nonzero((s <= t + band) & np.isfinite(s))
            if exact is None:
                val = -s[ri, qi] if descending else s[ri, qi]
            else:
                with np.errstate(divide="ignore", invalid="ignore"):
                    val = exact(ri, qi)
            if round6_key:
                val = round6(val)
            key = -val if descending else val
            fin = np.isfinite(key)
            ri, qi, key, val = ri[fin], qi[fin], key[fin], val[fin]
            by = np.lexsort((ri, key, qi))
            grouped = qi[by]
            first = np.searchsorted(grouped, grouped)
            sel = by[np.arange(len(by)) - first < per_batch]
            if not len(sel):
                continue
            take = pa.array(rows[ri[sel]])
            cols = (
                [pa.array(ids[qi[sel]])]
                + [batch.column(c).take(take) for c in passed]
                + [pa.array(val[sel])]
            )
            yield pa.record_batch(
                [c.cast(f.type) for c, f in zip(cols, arrow_out)],
                schema=arrow_out,
            )

    survivors = frame.mapInArrow(_cut, schema=schema)
    if copies > 1:
        survivors = survivors.dropDuplicates(["query_id", id_col])
    return rank_per_query(survivors, value, id_col, k, descending)
