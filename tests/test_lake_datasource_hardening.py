"""Regressions for the `readStream.format("lake")` source
(sources/lake.py): CDF reads spanning a drop_column + add_column of
the SAME logical name null-fill the reborn column for old change rows
(matching LakeTable.read_cdf's physical-identity matching) and never
resurrect the dead column's bytes; streams planned before an additive
schema change keep their planned columns; and the source works from a
foreign cwd with the package importable only in the driver.
"""

from __future__ import annotations

import os

import pytest

from lcmap_firebird_spark.lakehouse import LakeTable

from .lake_helpers import stream_cdf

SCHEMA = "id long, name string, val double"


@pytest.fixture()
def registered(spark):
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    try:
        spark.dataSource.register(LakeDataSource)
    except Exception:
        pass
    return spark


def test_cdf_read_null_fills_reborn_column(registered, tmp_path):
    spark = registered
    root = str(tmp_path / "reborn")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(i, f"n{i}", float(i)) for i in range(10)], SCHEMA),
        key_cols=["id"],
        enable_cdf=True,
    )
    # v1 stages a cdf file CARRYING logical column 'val' (double)
    t.delete_mor("id = 3")
    v_old = t.latest_version()
    # kill 'val', then re-add the SAME logical name as a new type —
    # a fresh physical identity; the old cdf file's 'val' is dead
    t.drop_column("val")
    t.add_column("val", "string")
    t.append(
        spark.createDataFrame(
            [(100, "new", "live-string")], "id long, name string, val string"
        )
    )

    got = stream_cdf(spark, root, str(tmp_path / "cdf"))
    old_rows = got.filter(f"_commit_version = {v_old}").collect()
    assert old_rows, "the old cdf commit must still stream its rows"
    # the reborn 'val' never existed when v_old committed: NULL — the
    # dead double column's bytes must NOT surface as strings
    assert all(r["val"] is None for r in old_rows)
    # and the library twin agrees when projecting into the SAME
    # (head) logical space — read_cdf(0, v_old) would instead target
    # v_old's schema, where the OLD 'val' legitimately carries 3.0
    lib = {
        (r["id"], r["val"])
        for r in t.read_cdf(0).filter(f"_commit_version = {v_old}").collect()
    }
    assert {(r["id"], r["val"]) for r in old_rows} == lib
    # new rows still carry the live string column
    new = got.filter("id = 100").collect()
    assert new and all(r["val"] == "live-string" for r in new)


def test_stream_planned_before_add_column_projects_new_files(
    registered, tmp_path
):
    """r9b: ADDITIVE evolution mid-stream. The planned schema rides
    into every partition by design (sources/lake.py streamReader —
    deriving it per-batch would yield batches that no longer match
    the query plan), so a stream whose `.load()` happened BEFORE an
    add_column must keep delivering rows committed AFTER it,
    projected to the planned columns; a fresh stream planned AFTER
    the evolution must null-fill the new column for old files. The
    rename-away case fails fast instead (test_column_mapping)."""
    spark = registered
    root = str(tmp_path / "addmid")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA),
        key_cols=["id"],
    )
    # plan the stream NOW: load() resolves the head entry's
    # 3-column schema before the evolution below
    planned = (
        spark.readStream.format("lake").option("path", root).load()
    )
    assert [f.name for f in planned.schema.fields] == ["id", "name", "val"]
    t.add_column("score", "double")
    t.append(
        spark.createDataFrame(
            [(3, "c", 3.0, 9.5)],
            "id long, name string, val double, score double",
        )
    )
    out = str(tmp_path / "out")
    q = (
        planned.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # the post-evolution file's row arrives under the PLANNED columns
    assert got == [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0)]

    # a stream planned AFTER the evolution sees 4 columns and
    # null-fills `score` for the pre-evolution file
    fresh = spark.readStream.format("lake").option("path", root).load()
    assert [f.name for f in fresh.schema.fields] == [
        "id", "name", "val", "score",
    ]
    out2 = str(tmp_path / "out2")
    q2 = (
        fresh.writeStream.format("parquet")
        .option("path", out2)
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(180)
    got2 = sorted(
        tuple(r) for r in spark.read.parquet(out2).collect()
    )
    assert got2 == [
        (1, "a", 1.0, None),
        (2, "b", 2.0, None),
        (3, "c", 3.0, 9.5),
    ]


def test_cdf_stream_planned_before_add_column_projects_changes(
    registered, tmp_path
):
    """r9b: the CDF-stream variant of the planned-schema seam — a
    change feed planned BEFORE add_column must deliver post-evolution
    commits (derived inserts from add files AND staged merge change
    files, which carry every current column) projected to the planned
    columns + _change_type/_commit_version."""
    spark = registered
    root = str(tmp_path / "cdfmid")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a", 1.0), (2, "b", 2.0)], SCHEMA),
        key_cols=["id"],
        enable_cdf=True,
    )
    planned = (
        spark.readStream.format("lake")
        .option("path", root)
        .option("readChangeFeed", "true")
        .load()
    )
    assert [f.name for f in planned.schema.fields] == [
        "id", "name", "val", "_change_type", "_commit_version",
    ]
    t.add_column("score", "double")
    # post-evolution commits: an append (derived inserts) AND a merge
    # (staged change file carrying the new column)
    t.append(
        spark.createDataFrame(
            [(3, "c", 3.0, 9.5)],
            "id long, name string, val double, score double",
        )
    )
    t.merge(
        spark.createDataFrame(
            [(1, "a2", 1.5, 0.5)],
            "id long, name string, val double, score double",
        )
    )
    out = str(tmp_path / "out")
    q = (
        planned.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("id", "name", "val", "_change_type")
        .collect()
    )
    assert got == [
        (1, "a", 1.0, "insert"),
        (1, "a", 1.0, "update_preimage"),
        (1, "a2", 1.5, "update_postimage"),
        (2, "b", 2.0, "insert"),
        (3, "c", 3.0, "insert"),
    ]


def test_datasource_foreign_cwd_pickles_lakehouse_by_value(tmp_path):
    """r10 fix: both format('lake') streams must work when the
    package is importable ONLY in the driver process (sys.path.insert;
    PYTHONPATH stripped; cwd foreign) — the registered-by-value
    DataSource classes must carry their lakehouse dependencies in the
    pickle instead of re-importing the package inside Spark's Python
    workers. Before the fix the function-local
    `from ..lakehouse import X` statements made every read and
    stream die with ModuleNotFoundError in exactly this setup, which
    is the scenario CLAUDE.md invariant 2's registration exists for.
    Covers, on an IDENTITY table (engine-assigned values): the CDF
    stream's derived inserts and the plain stream."""
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    root = str(tmp_path / "t")
    ck = str(tmp_path / "ck")
    script = tmp_path / "probe.py"
    script.write_text(
        f"""
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from lcmap_firebird_spark.lakehouse import LakeTable
from lcmap_firebird_spark.sources.lake import LakeDataSource

spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
spark.dataSource.register(LakeDataSource)
root = {root!r}
t = LakeTable.create(spark, root,
    spark.createDataFrame([(1, "a")], "id long, name string"),
    key_cols=["id"], identity="rid", enable_cdf=True)
t.append(spark.createDataFrame([(2, "b")], "id long, name string"))
rids = sorted(r["rid"] for r in t.snapshot().collect())
assert rids == [1, 2], rids
q = (spark.readStream.format("lake").option("path", root)
     .option("readChangeFeed", "true").load()
     .writeStream.format("memory").queryName("c")
     .trigger(availableNow=True)
     .option("checkpointLocation", {ck!r} + "_cdf").start())
q.awaitTermination(180)
cdf = spark.sql("select * from c").collect()
# startingVersion defaults to 0 and is EXCLUSIVE: (0, head] covers the
# create commit's derived inserts AND the append's, identity included
assert sorted((r["id"], r["rid"]) for r in cdf) == [(1, 1), (2, 2)], cdf
assert all(r["_change_type"] == "insert" for r in cdf), cdf
q = (spark.readStream.format("lake").option("path", root).load()
     .writeStream.format("memory").queryName("m")
     .trigger(availableNow=True)
     .option("checkpointLocation", {ck!r}).start())
q.awaitTermination(180)
got = sorted((r["id"], r["rid"]) for r in spark.sql("select * from m").collect())
assert got == [(1, 1), (2, 2)], got
print("FOREIGN_CWD_OK")
"""
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [sys.executable, str(script)],
        capture_output=True,
        text=True,
        cwd="/tmp",
        env=env,
        timeout=420,
    )
    assert r.returncode == 0, (r.stdout + r.stderr)[-3000:]
    assert "FOREIGN_CWD_OK" in r.stdout
