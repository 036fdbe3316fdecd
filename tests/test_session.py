"""Engine defaults that cut the fixed cost of every pass (PLANS.md
rule 35): a generated-class cache larger than a pass's working set,
and no Python call-site capture per Column/DataFrame API call."""

from __future__ import annotations

from pyspark.sql import functions as F

from lcmap_firebird_spark import session as S

CACHE = "spark.sql.codegen.cache.maxEntries"
DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM: every generated-class cache
    miss updates this histogram once."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def test_session_sets_both_defaults(spark):
    """The test fixture is built by `session()`, like every session
    the library makes."""
    assert spark.conf.get(CACHE) == "2048"
    assert spark.conf.get(DEBUGGING) == "false"


def test_overrides_win_over_the_new_defaults(monkeypatch):
    """`overrides=` reaches the builder after the defaults. A live
    session's static confs cannot change, so the builder is recorded
    instead of started."""
    seen = {}

    class Builder:
        def appName(self, name):
            return self

        def master(self, master):
            return self

        def config(self, k, v):
            seen[k] = v
            return self

        def getOrCreate(self):
            return seen

    monkeypatch.setattr(S.SparkSession, "builder", Builder())
    conf = S.session(overrides={CACHE: "100"})
    assert conf[CACHE] == "100"
    assert conf[DEBUGGING] == "false"


def test_generated_classes_survive_a_pass_sized_working_set(spark):
    """Run Q, then more than 100 codegen-distinct queries (each
    literal is inlined into its generated source), then Q again: the
    second Q finds its classes still cached and compiles nothing.
    At Spark's default of 100 entries they were evicted."""

    def q(i):
        return (
            spark.range(0, 8, 1, 1)
            .selectExpr(f"id * {i} + {i + 1} AS x")
            .filter(f"x % {i + 2} <> {i + 3}")
            .collect()
        )

    q(0)
    for i in range(1, 151):
        q(i)
    before = _compiles(spark)
    q(0)
    assert _compiles(spark) - before == 0


def test_building_a_plan_captures_no_call_site(spark, monkeypatch):
    """PySpark 4 wraps each Column/DataFrame call to record its Python
    call site; with debugging off the wrapper never captures one. The
    module caches the switch on first use, so it is re-read here from
    the live session."""
    from pyspark.errors import utils

    calls = []
    capture = utils._capture_call_site

    def counting(depth):
        calls.append(depth)
        return capture(depth)

    monkeypatch.setattr(utils, "_capture_call_site", counting)
    monkeypatch.setattr(utils, "_enable_debugging_cache", None)
    df = spark.range(10).withColumn("y", F.col("id") * 2 + 1)
    df.filter(F.col("y") > 3).groupBy((F.col("y") % 3).alias("k")).agg(
        F.sum("y")
    )
    assert calls == []
