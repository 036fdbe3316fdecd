"""Profile registry queries: split DRIVER-side plan construction
(the fn(spark, sf_dir) call — py4j expression building, any driver
actions the operator runs while composing) from EXECUTION (the noop
write), and count Spark jobs and generated-class compiles per run
(a compile is a miss in Spark's generated-class cache; a warm cache
shows 0 on repeat runs). Measurement-only tool — bench.py remains
the driver contract.

Usage: python tools/profile_query.py [-n RUNS] q1 [q2 ...]
Prints one JSON line:
  {name: {"build": [s..], "exec": [s..], "jobs": N, "compiles": [n..]}}
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lcmap_firebird_spark.queries import merged  # noqa: E402
from lcmap_firebird_spark.session import session  # noqa: E402


def main() -> None:
    args = sys.argv[1:]
    runs = 2
    if args and args[0] == "-n":
        runs = int(args[1])
        args = args[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = session("firebird-profile")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = merged()
    tracker = spark.sparkContext.statusTracker()
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiled() -> int:
        return int(codegen.METRIC_COMPILATION_TIME().getCount())

    spark.range(1_000_000).selectExpr("sum(id)").collect()
    queries["a4_pricing_summary"](spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    out: dict[str, dict] = {}
    for name in args:
        builds, execs, compiles = [], [], []
        jobs = 0
        for _ in range(runs):
            spark.catalog.clearCache()
            j0 = len(tracker.getJobIdsForGroup(None) or [])
            c0 = compiled()
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            builds.append(round(t1 - t0, 4))
            execs.append(round(t2 - t1, 4))
            compiles.append(compiled() - c0)
            jobs = len(tracker.getJobIdsForGroup(None) or []) - j0
        out[name] = {
            "build": builds, "exec": execs, "jobs": jobs, "compiles": compiles
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
