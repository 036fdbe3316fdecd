"""Oracle-exact aggregate arithmetic.

Floating-point SUM/AVG are summation-order-dependent, so a Spark
double sum and a DuckDB double sum over the same rows can differ in
the last ulps and fail an exact value-hash comparison. Every money /
quantity aggregate in this engine therefore:

1. casts the input to DECIMAL(18, s)  (exact, order-independent),
2. sums in decimal (exact),
3. casts the single exact result to DOUBLE (one deterministic
   IEEE-754 rounding, identical in any engine).

Derived ratios (avg, weighted means) are computed *from the exact
decimal sums* with double division — again a deterministic function
of identical inputs. The same recipe is used verbatim in the DuckDB
oracle SQL, so values hash-match bit-for-bit.

This costs nothing at scale: decimal sums are JVM-side, map-side
combinable, and whole-stage-codegen'd like any other agg.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def dec(col: str | Column, scale: int = 2, precision: int = 18) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(f"decimal({precision},{scale})")


def dsum(col: str | Column, scale: int = 2) -> Column:
    """Exact decimal sum surfaced as double."""
    return F.sum(dec(col, scale)).cast("double")


def sql_d2d(expr: str) -> str:
    """DuckDB decimal→double via VARCHAR round-trip.

    DuckDB's direct DECIMAL→DOUBLE cast multiplies by a rounded
    power-of-ten double and can be off by one ulp from the correctly
    rounded value (which Spark's BigDecimal.doubleValue produces).
    VARCHAR→DOUBLE uses strtod, which is correctly rounded, so the
    round-trip matches Spark bit-for-bit.
    """
    return f"CAST(CAST({expr} AS VARCHAR) AS DOUBLE)"


def sql_dsum(expr: str, scale: int = 2, precision: int = 18) -> str:
    """DuckDB oracle twin of dsum()."""
    return sql_d2d(f"SUM(CAST({expr} AS DECIMAL({precision},{scale})))")

