"""Table catalog — parquet-backed sources and sinks.

Replaces the reference's Cassandra connector surface
(ccdc/cassandra.py:30-63 read/write; per-table wrappers
ccdc/chip.py:39-66, ccdc/pixel.py:38-65, ccdc/segment.py:73-100,
ccdc/tile.py:46-73) with partitioned Parquet per SURVEY §1.4: the
Cassandra wide-row partition key (cx, cy) becomes
`partitionBy('cx','cy')`, so the reference's `ids ⋈ table` selective
read becomes a partition-pruned scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import TABLES

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)


# Source-frame memo per SparkSession: the testdata tables are
# immutable, and `spark.read.parquet` pays a fresh file listing +
# footer/schema read per call — a query touching 4 tables repeated
# that metadata work 4×, and every SQL-front-door view registration
# again. Caching the (immutable) DataFrame *plan* per (session, path)
# is the catalog-layer relation cache production engines keep (Spark
# itself does this for catalog tables via the file-source relation
# cache; plain path reads bypass it). WeakKey so a stopped session
# frees its entries.
from weakref import WeakKeyDictionary  # noqa: E402

_FRAMES: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def ts_unit(path: str, column: str = "ts", glob: str = "*.parquet") -> str:
    """Decide ONCE PER DATASET whether a raw int64 timestamp column
    is nanos or micros — from the parquet FOOTER only (logical-type
    annotation, else row-group min/max statistics); no data scan, no
    Spark job.

    Returns 'ns' | 'us' | 'ms' | 's', or 'sniff' (footer carried no
    stats — caller falls back to the per-row magnitude CASE). The
    per-row sniff alone would mis-read a ns-generation row before
    ~1973-03 (abs < 1e17 ns) as µs while dividing its neighbors —
    mixed corruption within one table (round-3 advice); deciding per
    dataset removes that window. ms/s handling is regen insurance:
    the driver has already shipped two different physical types for
    events.ts across rounds.
    """
    import glob as _glob

    try:
        import pyarrow as pa
        import pyarrow.parquet as pq
    except Exception:
        return "sniff"
    files = (
        [path]
        if os.path.isfile(path)
        else sorted(_glob.glob(os.path.join(path, glob)))
    )
    if not files:
        return "sniff"

    def _file_unit(fname: str) -> str:
        f = pq.ParquetFile(fname)
        field_idx = f.schema_arrow.get_field_index(column)
        if field_idx < 0:
            return "sniff"
        ftype = f.schema_arrow.field(field_idx).type
        if pa.types.is_timestamp(ftype):
            return ftype.unit if ftype.unit in ("ns", "us", "ms", "s") else "us"
        # plain int64 with no logical annotation: footer stats
        leaf_idx = next(
            i
            for i in range(len(f.schema))
            if f.schema.column(i).name == column
        )
        mx = 0
        md = f.metadata
        if md.num_row_groups == 0:
            return "empty"  # no data → no evidence; ignore this file
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(leaf_idx).statistics
            if st is None or not st.has_min_max:
                return "sniff"
            mx = max(mx, abs(st.min), abs(st.max))
        if mx == 0:
            return "empty"  # all-zero stats carry no magnitude signal
        # magnitude bands for plausible modern dates:
        # ns ~1.7e18, µs ~1.7e15, ms ~1.7e12, s ~1.7e9
        if mx >= 100_000_000_000_000_000:
            return "ns"
        if mx >= 100_000_000_000_000:
            return "us"
        if mx >= 100_000_000_000:
            return "ms"
        return "s"

    try:
        # EVERY file must agree — a directory mixing physical
        # generations (e.g. a streaming source dir accreting a
        # legacy ns chunk next to µs chunks) must NOT be read under
        # one file's unit; disagreement falls back to the per-row
        # sniff, which handles the ns/µs mix correctly. Empty part
        # files carry no evidence and are ignored.
        # PORTABILITY: the glob above is LOCAL-FS; on an object store
        # it finds no files and this function returns "sniff" — still
        # CORRECT (the per-row CASE handles ns/µs), just without the
        # footer-level certainty. A Hadoop-FS port would list through
        # the JVM FileSystem API here.
        units = {u for u in (_file_unit(fn) for fn in files) if u != "empty"}
        if len(units) == 1:
            return units.pop()
        return "sniff"
    except Exception:
        return "sniff"


# per-row magnitude fallback, used only when the footer carries no
# usable annotation or statistics (1e17 µs ≈ year 5138, 1e17 ns ≈ 1973)
_ROW_SNIFF = (
    "CASE WHEN abs({c}) >= 100000000000000000 THEN {c} div 1000 ELSE {c} END"
)


def micros_expr(unit: str, col: str = "ts") -> str:
    """SQL expression rendering a raw int64 ts column as epoch-µs,
    given the dataset-level unit decision from `ts_unit`."""
    if unit == "ns":
        return f"{col} div 1000"
    if unit == "us":
        return col
    if unit == "ms":
        return f"{col} * 1000"
    if unit == "s":
        return f"{col} * 1000000"
    return _ROW_SNIFF.format(c=col)


def read_table(spark: SparkSession, name: str, base: str | None = None) -> DataFrame:
    """Read one named table (analog of cassandra.read,
    ccdc/cassandra.py:30-42). Plain `spark.read.parquet` so Catalyst
    gets pushdown + pruning for free; the resulting plan is memoized
    per (session, path) — DataFrames are immutable, so reuse is
    safe."""
    base = base or sf_dir()
    cache = _FRAMES.setdefault(spark, {})
    key = (base, name)
    if key in cache:
        return cache[key]
    try:
        # session conf; settable at runtime. Needed when the caller
        # (e.g. the driver harness) built the session without it.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass
    df = spark.read.parquet(os.path.join(base, f"{name}.parquet"))
    # Normalize events.ts to TIMESTAMP_NTZ regardless of how the
    # driver generated the parquet this round:
    #   - TIMESTAMP(NANOS) → bigint under nanosAsLong (round 1/2 data)
    #   - timestamp[us] no-tz → TIMESTAMP_NTZ natively (round 3 data)
    #   - timestamp[us] adjusted-to-UTC → TIMESTAMP (LTZ)
    # DuckDB reads the same naive µs values, so epoch semantics match
    # by construction. The ns-vs-µs decision for raw longs is made
    # once per dataset from the parquet footer (`ts_unit`), not per
    # row.
    if name == "events":
        dt = dict(df.dtypes).get("ts")
        from .functions.dates import ntz_from_micros

        if dt == "bigint":
            unit = ts_unit(os.path.join(base, f"{name}.parquet"))
            df = df.withColumn(
                "ts", ntz_from_micros(F.expr(micros_expr(unit)))
            )
        elif dt == "timestamp":
            df = df.withColumn("ts", ntz_from_micros(F.unix_micros("ts")))
    cache[key] = df
    return df


def tables(spark: SparkSession, base: str | None = None) -> dict[str, DataFrame]:
    """All driver tables as DataFrames keyed by name."""
    return {t: read_table(spark, t, base) for t in TABLES}


def register_views(
    spark: SparkSession,
    base: str | None = None,
    only: tuple[str, ...] | None = None,
) -> None:
    """Register tables as temp views so `spark.sql` works over the
    same names DuckDB pre-registers. `only` restricts registration to
    the tables a query actually references — each registration opens
    the parquet footer for schema, so registering all 10 tables costs
    ~10 metadata reads per call."""
    # `is None` test: an explicit empty tuple means register NOTHING
    # (the falsy-empty fallback would register all 10 — footer reads
    # the caller tried to avoid)
    for name in TABLES if only is None else only:
        read_table(spark, name, base).createOrReplaceTempView(name)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("cx", "cy"),
    mode: str = "append",
) -> None:
    """Partitioned sink (analog of cassandra.write,
    ccdc/cassandra.py:45-63). `partitionBy(cx, cy)` reproduces the
    wide-row locality of resources/schema.cql:54,142: one chip's
    pixels colocate under one partition directory.

    File count: each task writes one file per partition value it
    holds, so a table gets one file per (task, chip) pair. The CCD
    detectors (`plans.changedetection.detect`, `operators.pyccd.detect`)
    hash their input by chip, which keeps each chip in one task and
    makes that one file per chip per table with no shuffle added here
    (PLANS.md rule 36). `maxRecordsPerFile` bounds stragglers.
    """
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    if mode == "overwrite" and partition_cols:
        # DYNAMIC partition overwrite: replace only the partitions
        # this df carries (the Cassandra-upsert-like retry semantics
        # callers want) — Spark's default STATIC mode would truncate
        # the WHOLE table, deleting every other tile's results
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.option("maxRecordsPerFile", 5_000_000).parquet(path)


def read_partitioned(
    spark: SparkSession,
    path: str,
    ids: DataFrame | None = None,
    keys: tuple[str, ...] = ("cx", "cy"),
    semi: bool = True,
) -> DataFrame:
    """Selective read: scan a partitioned table restricted to the
    requested ids (reference read pattern: `ids.join(table, keys,
    'inner')`, ccdc/chip.py:49-51 et al.).

    Implemented as a broadcast join on the partition keys — with AQE
    + dynamic partition pruning the scan only touches the matching
    (cx, cy) directories, which is the Parquet equivalent of
    Cassandra partition-key lookup.

    The ids side is projected to `keys` first (r8 glue review): a
    work list carrying extra columns must not leak them into the
    table's schema. Default `semi=True` gives pure restriction
    semantics — a duplicate id row in the work list yields each
    matching table row ONCE (`semi=False` reproduces the reference's
    literal inner join, where duplicate ids duplicate output rows).
    """
    from pyspark.sql.functions import broadcast

    df = spark.read.parquet(path)
    if ids is None:
        return df
    how = "left_semi" if semi else "inner"
    return df.join(broadcast(ids.select(*keys)), on=list(keys), how=how)
