"""Skew-mitigation operators (PLANS.md rule 2; SURVEY §4 parallelism
row).

AQE's skew-join splitting handles sort-merge skew automatically, but
aggregation skew (one hot group overwhelms a reducer) still needs
explicit salting at 100 TB: `salted_agg_count` does two-level
aggregation (partial per salt, then merge).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _salt_col(df: DataFrame, keys: Sequence[str], salt: int):
    # salt = xxhash of the ENTIRE row content (never
    # spark_partition_id, which is explicitly nondeterministic under
    # recomputation / different input splits): a pure function of row
    # attributes, so retries and re-runs place rows identically, and
    # a hot key's distinct rows spread across all `salt` buckets even
    # when the key occupies few input partitions
    return F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt))


def salted_agg_count(
    df: DataFrame, keys: Sequence[str], salt: int = 8
) -> DataFrame:
    """Two-level count for skewed group keys: partial count per
    (key, salt), then merge — the hot key's first-level work spreads
    over `salt` reducers. (Spark's hash aggregates already do
    map-side partials; this pattern matters for algebraic aggregates
    implemented via applyInPandas, where no partial exists.)"""
    partial = (
        df.withColumn("_salt", _salt_col(df, keys, salt))
        .groupBy(*keys, "_salt")
        .agg(F.count("*").alias("_n"))
    )
    return partial.groupBy(*keys).agg(F.sum("_n").alias("n"))
