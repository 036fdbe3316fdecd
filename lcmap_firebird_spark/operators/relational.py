"""Relational core — projections, filters, joins, distinct, limit.

Re-expresses the reference's entire relational surface (SURVEY.md
§2.2-2.3, §2.6-2.7):

- schema-conforming projection  ccdc/chip.py:25-36, pixel.py:24-35,
  segment.py:59-70 (P1) — including the drop-extra-columns contract
  proven by test/test_chip.py:17-25
- rename / drop                 ccdc/randomforest.py:101-103 (P3),
  ccdc/segment.py:116 (P4)
- SQL-string predicates         ccdc/randomforest.py:64,69 (P6-P7)
- selective-read join           ccdc/chip.py:49-51 et al. (J1)
- multi-key equi joins          ccdc/features.py:6-17 (J2),
  ccdc/segment.py:103-116 (J3)
- key dedup                     ccdc/randomforest.py:67 (J4)
- driver-side limit             ccdc/core.py:98-99 (P8/O1)

Scale stance: the J1 ids-side is always small (a work list), so it is
*broadcast* — the 100 TB fact table never shuffles for a selective
read. Catalyst turns an inner join on a broadcast dim into a
BroadcastHashJoin with dynamic partition pruning on partitioned
sinks; `left_semi` is offered for the purest "restrict" semantics.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def conform(df: DataFrame, schema: StructType | Sequence[str]) -> DataFrame:
    """Project df down to exactly a schema's columns, dropping
    extras (P1; ccdc/chip.py:25-36 `df.select(schema().fieldNames())`)."""
    names = schema.fieldNames() if isinstance(schema, StructType) else list(schema)
    return df.select(*names)


def rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """Rename columns (P3; ccdc/randomforest.py:101-103)."""
    return df.withColumnsRenamed(mapping)


def drop(df: DataFrame, *cols: str) -> DataFrame:
    """Drop columns (P4; ccdc/segment.py:116)."""
    return df.drop(*cols)


def selective_read(
    table: DataFrame,
    ids: DataFrame,
    keys: Sequence[str],
    semi: bool = False,
) -> DataFrame:
    """The reference's read pattern: restrict a big table to requested
    keys via join (J1; ccdc/chip.py:49-51 `ids.join(table, on=keys)`).

    The ids side is broadcast — at 100 TB the fact side must not
    shuffle for a work-list restriction. `semi=True` returns only the
    table's columns with pure existence semantics.
    """
    how = "left_semi" if semi else "inner"
    return table.join(F.broadcast(ids), on=list(keys), how=how)


def by_chip(df: DataFrame) -> DataFrame:
    """Hash-partition by chip (cx, cy) into `defaultParallelism`
    partitions: the CCD plans' unit of work (PLANS.md rule 36). A
    chip's rows land in one task, so a `partitionBy(cx, cy)` sink
    writes one file per chip. The count is pinned, not probed with
    `df.rdd` (which would run any broadcast or shuffle stage below
    while the plan is built), and a pinned repartition is one AQE
    does not coalesce onto one core for a CPU-bound kernel."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_parts, "cx", "cy")


def distinct_keys(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Distinct key projection used to drive selective reads
    (J4; ccdc/randomforest.py:67 `select(cx, cy).distinct()`)."""
    return df.select(*keys).distinct()


def filter_range(df: DataFrame, col: str, lo, hi) -> DataFrame:
    """Closed-interval range conjunction (P7;
    ccdc/randomforest.py:69 `'sday >= {} AND eday <= {}'`)."""
    return df.filter((F.col(col) >= lo) & (F.col(col) <= hi))


def filter_not_in(df: DataFrame, col, values: Sequence) -> DataFrame:
    """NOT IN predicate, incl. over array elements (P6;
    ccdc/randomforest.py:64 `'trends[0] NOT IN (0, 9)'`)."""
    c = F.col(col) if isinstance(col, str) else col
    return df.filter(~c.isin(*values))


def head(df: DataFrame, n: int) -> DataFrame:
    """Bounded work (O1; driver-side `take(number, chips)`
    ccdc/core.py:98-99 becomes a plan-level limit)."""
    return df.limit(n)
