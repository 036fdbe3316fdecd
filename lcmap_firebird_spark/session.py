"""SparkSession construction + engine configuration.

Mirrors the *role* of the reference's context/config module
(ccdc/__init__.py:13-26, ccdc/__init__.py:47-57) — env-var driven
configuration and a `getOrCreate()`-style entry — but configured for
the DataFrame engine: AQE, Arrow, and sane shuffle sizing replace the
reference's manual INPUT_PARTITIONS/PRODUCT_PARTITIONS knobs
(ccdc/__init__.py:23-24).

All values are read at call time, not import time (the reference
flags its own import-time evaluation as a footgun,
ccdc/__init__.py:11-12).

Two defaults cut the fixed cost every pass pays whatever its data
(PLANS.md rule 35):
- `spark.sql.codegen.cache.maxEntries` is 2048, not Spark's 100. One
  CCD or ingest pass generates more than 100 distinct classes, and the
  50 registry queries 862, so at 100 the cache evicts each class before
  the next pass needs it again and Janino recompiles it: 90-109
  compiles per measured ccdc_tile pass and 60-81 per corpus_ingest
  pass, against 0 and 4 at 2048. A cached class keeps its loaded
  bytecode in the driver JVM.
- `spark.python.sql.dataFrameDebugging.enabled` is false. PySpark 4
  wraps every Column/DataFrame API call to capture its Python call
  site for error messages; each capture walks the stack, makes extra
  py4j round trips and retries a failing `import IPython`. A
  corpus_ingest pass made 509 of them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def config(overrides: dict | None = None) -> dict:
    """Engine defaults, overridable via env / explicit dict.

    Scale notes (100 TB stance):
    - AQE on: runtime shuffle-partition coalescing + skew-join
      splitting replace hand-tuned `repartition()` calls.
    - Arrow on: every pandas-UDF leg (segmentation, minhash batch
      kernels) moves batches, not pickled rows.
    - shuffle.partitions is a *default*; AQE coalesces down, and on a
      real cluster you'd raise it to ~2-3× total cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))
    if not cpus.isdigit():
        # '*' is valid for the local[...] master but would poison
        # spark.sql.shuffle.partitions (must be an integer)
        cpus = str(os.cpu_count() or 8)
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.shuffle.partitions": os.environ.get(
            "FIREBIRD_SHUFFLE_PARTITIONS", cpus
        ),
        "spark.sql.files.maxPartitionBytes": "128m",
        # Parquet scans: vectorized reader + pushdown are defaults,
        # stated here as a contract the tests assert on.
        "spark.sql.parquet.filterPushdown": "true",
        # testdata events.parquet carries TIMESTAMP(NANOS) which the
        # vectorized reader rejects; read as long and convert in
        # catalog.read_table (ns → µs truncation, matching DuckDB).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.autoBroadcastJoinThreshold": "64m",
        "spark.driver.memory": os.environ.get("FIREBIRD_DRIVER_MEMORY", "8g"),
        "spark.ui.enabled": "false",
        # fixed cost per pass (module docstring): Spark's 100-entry
        # generated-class cache thrashes, and call-site capture costs
        # py4j round trips on every Column/DataFrame call
        "spark.sql.codegen.cache.maxEntries": "2048",
        "spark.python.sql.dataFrameDebugging.enabled": "false",
    }
    if overrides:
        conf.update(overrides)
    return conf


def session(
    name: str = "lcmap-firebird-spark",
    master: str | None = None,
    overrides: dict | None = None,
) -> SparkSession:
    """Create or reuse a SparkSession (reference: ccdc context(),
    ccdc/__init__.py:47-57)."""
    master = master or os.environ.get(
        "FIREBIRD_MASTER",
        f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
    )
    builder = SparkSession.builder.appName(name).master(master)
    for k, v in config(overrides).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
