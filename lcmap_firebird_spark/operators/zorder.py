"""Z-order (Morton) multi-column clustering.

The catalog's `partitionBy(cx, cy)` (catalog.py) prunes on directory
boundaries only; range queries that constrain BOTH key dimensions
still scan every file of every matching partition. Z-ordering sorts
rows by the bit-interleave of the key columns before writing, so
parquet row-group min/max stats become tight on *all* interleaved
dimensions at once and the reader skips row groups for any
multi-dimensional range predicate — the standard lakehouse clustering
trick (Delta/Iceberg OPTIMIZE ZORDER), built here from stock Spark:
an expression + repartitionByRange + sortWithinPartitions. No
shuffle beyond the one range exchange that any global sort needs.

The z-value is plain integer arithmetic (mask to `bits`, interleave),
identical in Spark and DuckDB — so it is oracle-checkable like any
other scalar function.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zvalue(cols: Sequence[str | Column], bits: int = 16) -> Column:
    """Morton interleave of `cols` (each masked to `bits` bits):
    result bit (b·n + i) = bit b of column i. n·bits must stay < 63.
    Columns must be non-negative integers (mask makes wider inputs
    wrap, identically on every engine)."""
    n = len(cols)
    if n * bits > 62:
        raise ValueError(f"{n} cols x {bits} bits exceeds a signed BIGINT")
    mask = (1 << bits) - 1
    cs = [
        (F.col(c) if isinstance(c, str) else c).cast("bigint").bitwiseAND(F.lit(mask))
        for c in cols
    ]
    out = F.lit(0).cast("bigint")
    for b in range(bits):
        for i, c in enumerate(cs):
            out = out + F.shiftleft(
                F.shiftright(c, b).bitwiseAND(F.lit(1)), b * n + i
            )
    return out


def sql_zvalue(cols: Sequence[str], bits: int = 16) -> str:
    """DuckDB twin of `zvalue` — generated from the same loop so both
    engines compute the identical interleave."""
    n = len(cols)
    mask = (1 << bits) - 1
    terms = []
    for b in range(bits):
        for i, c in enumerate(cols):
            terms.append(
                f"((((CAST({c} AS BIGINT) & {mask}) >> {b}) & 1) << {b * n + i})"
            )
    return "(" + " + ".join(terms) + ")"


def zordered(
    df: DataFrame, cols: Sequence[str], n: int, bits: int = 12
) -> DataFrame | None:
    """`df` range-partitioned into `n` partitions on the z-order of
    numeric `cols` (one exchange — the same cost as any global sort)
    and sorted within them, or None when `df` is empty or a column is
    all-NULL (nothing to order). Columns are min-max scaled to `bits`
    bits BEFORE interleaving (one tiny agg job for the bounds) —
    without normalization a narrow-domain column contributes only
    zero high bits and the interleave degenerates to a single-column
    sort, which is why production Z-order (Delta/Iceberg) always
    normalizes to per-column rank or range ids first."""
    stats = df.agg(
        *[F.min(c).alias(f"mn_{c}") for c in cols],
        *[F.max(c).alias(f"mx_{c}") for c in cols],
    ).first()
    if any(stats[f"mn_{c}"] is None for c in cols):
        return None
    top = (1 << bits) - 1
    scaled = []
    for c in cols:
        mn = stats[f"mn_{c}"]
        raw = stats[f"mx_{c}"] - mn
        # the TRUE span, not max(span, 1): flooring a fractional
        # domain (say [0.0, 0.5]) at 1 would squeeze its scaled
        # values into half the grid and degrade the interleave
        # toward a single-column sort; only a constant column (span
        # 0) needs the guard
        span = raw if raw > 0 else 1
        scaled.append(
            ((F.col(c) - F.lit(mn)).cast("double") * top / span).cast("bigint")
        )
    return (
        df.withColumn("_z", zvalue(scaled, bits))
        .repartitionByRange(n, "_z")
        .sortWithinPartitions("_z")
        .drop("_z")
    )

