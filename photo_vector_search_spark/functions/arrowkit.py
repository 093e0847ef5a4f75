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


def nested_matrix(col: pa.Array, dim: int):
    """(flat (ΣT, dim) float64, per-KEPT-row token counts, keep mask) for a
    ``list<list<numeric>>`` column — the Arrow twin of the pandas-era
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
        np.ascontiguousarray(flat, dtype=np.float64).reshape(-1, dim),
        counts,
        keep,
    )


def flat_values(col: pa.Array, dtype=np.int64) -> np.ndarray:
    """Concatenated inner values of a ``list<numeric>`` column (NULL rows
    contribute nothing), as ``dtype``."""
    return col.flatten().to_numpy(zero_copy_only=False).astype(dtype)


def fixed_matrix(col: pa.Array, dim: int):
    """(matrix (kept, dim) float64, keep mask) for a ``list<double>`` column
    of fixed-width vectors (e.g. the pooled column): NULL/empty rows are
    dropped; raises on ragged widths."""
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
        np.ascontiguousarray(flat, dtype=np.float64).reshape(-1, dim),
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


def spark_round6(x) -> np.ndarray:
    """Spark's ``round(x, 6)`` on a float64 array, value for value (pinned
    against ``F.round`` in tests). Spark rounds the decimal digits of
    ``Double.toString(x)`` HALF_UP. Away from a half-way point those digits
    and ``x`` round alike, so the result is ``n / 1e6`` with ``n`` the
    rounded ``|x| · 1e6`` — the double nearest ``n · 10⁻⁶``, as Spark's
    ``BigDecimal.toDouble`` gives. Values within a few ulps of a half-way
    point, or too large for an exact ``n``, go through ``_round6_exact``;
    NaN and infinities pass through, as in Spark."""
    x = np.asarray(x, dtype=np.float64)
    y = np.abs(x) * 1e6
    out = np.copysign(np.floor(y + 0.5) / 1e6, x) + 0.0
    with np.errstate(invalid="ignore"):
        near = np.abs(y - np.floor(y) - 0.5) <= 8 * np.spacing(y) + 1e-9
        exact = np.isfinite(x) & (near | (y >= 2.0**52))
    out[~np.isfinite(x)] = x[~np.isfinite(x)]
    for i in np.flatnonzero(exact):
        out[i] = _round6_exact(float(x[i]))
    return out
