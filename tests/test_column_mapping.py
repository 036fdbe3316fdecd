"""Column mapping (lakehouse.py rename_column / drop_column):
metadata-only renames and drops with stable physical names — Delta's
columnMapping design on the commit log. Verifies: no data file moves,
time travel keeps per-version names, dropped bytes never resurrect,
stats pruning tracks the physical identity, and an independent
DuckDB read translates.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.lakehouse import LakeTable

from .lake_helpers import duckdb_snapshot


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _data_files(t):
    return {
        r["path"]
        for r in t._live()[0]
        if r.get("kind") != "dv"
    }


@pytest.fixture()
def table(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(100)],
        "id long, name string, val double",
    ).repartition(4, "id")
    return LakeTable.create(
        spark, str(tmp_path / "tbl"), base, key_cols=["id"]
    )


def test_rename_is_metadata_only_and_reads_back(spark, table):
    files_before = _data_files(table)
    v = table.rename_column("val", "value")
    assert _data_files(table) == files_before  # no file touched
    snap = table.snapshot()
    assert snap.columns == ["id", "name", "value"]
    assert _rows(snap.select("id", "value")) == [
        (i, float(i)) for i in range(100)
    ]
    # time travel: the old version still reads under the OLD name
    old = table.snapshot(version=v - 1)
    assert old.columns == ["id", "name", "val"]
    # physical bytes in the files still carry the original name
    import pyarrow.parquet as pq

    f = sorted(files_before)[0]
    assert "val" in pq.read_schema(os.path.join(table.root, f)).names


def test_append_and_merge_after_rename(spark, table):
    table.rename_column("val", "value")
    table.append(
        spark.createDataFrame(
            [(200, "n200", 2.0)], "id long, name string, value double"
        )
    )
    # appending under the RETIRED logical name is rejected
    with pytest.raises(ValueError, match="val"):
        table.append(
            spark.createDataFrame(
                [(201, "x", 1.0)], "id long, name string, val double"
            )
        )
    src = spark.createDataFrame(
        [(5, "FIVE", -5.0), (300, "new", 1.0)],
        "id long, name string, value double",
    )
    table.merge(src)
    got = {r["id"]: r["value"] for r in table.snapshot().collect()}
    assert got[5] == -5.0 and got[300] == 1.0 and got[200] == 2.0
    assert len(got) == 102


def test_rename_key_column_keeps_merge_pruning(spark, table):
    table.rename_column("id", "pk")
    head = table._live()[1]
    assert head["key_cols"] == ["pk"]
    src = spark.createDataFrame(
        [(7, "SEVEN", -7.0)], "pk long, name string, val double"
    )
    before = _data_files(table)
    table.merge(src)
    # copy-on-write only rewrote the one file containing pk=7
    # (stats pruning still bites through the physical-name stats)
    after = _data_files(table)
    assert len(before - after) == 1
    assert {r["pk"]: r["name"] for r in table.snapshot().collect()}[7] == "SEVEN"


def test_drop_column_and_no_resurrection(spark, table):
    v_drop = table.drop_column("val")
    assert table.snapshot().columns == ["id", "name"]
    # time travel still reads the dropped column at old versions
    assert table.snapshot(version=v_drop - 1).columns == [
        "id", "name", "val",
    ]
    # re-adding the same logical name maps to a FRESH physical name:
    # the old bytes must read as NULL, not as the dead column's data
    table.add_column("val", "double")
    head = table._live()[1]
    assert head["column_mapping"]["val"] != "val"
    assert "val" in head["retired_cols"]
    got = table.snapshot()
    assert got.filter(F.col("val").isNotNull()).count() == 0
    # and new writes to the reborn column land + read back
    table.append(
        spark.createDataFrame(
            [(500, "n500", 99.0)], "id long, name string, val double"
        )
    )
    assert _rows(
        table.snapshot().filter("val is not null").select("id", "val")
    ) == [(500, 99.0)]


def test_rename_into_retired_logical_name(spark, table):
    """rename a->b then add a fresh 'a': the new 'a' must get a fresh
    physical name (the live physical 'val' belongs to 'value')."""
    table.rename_column("val", "value")
    table.add_column("val", "string")
    head = table._live()[1]
    assert head["column_mapping"]["value"] == "val"
    assert head["column_mapping"]["val"].startswith("val-")
    snap = table.snapshot()
    assert snap.filter(F.col("val").isNotNull()).count() == 0
    assert snap.filter(F.col("value").isNotNull()).count() == 100


def test_ddl_validation(spark, table):
    with pytest.raises(ValueError, match="no column"):
        table.rename_column("nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        table.rename_column("val", "name")
    with pytest.raises(ValueError, match="key column"):
        table.drop_column("id")
    with pytest.raises(ValueError, match="no column"):
        table.drop_column("nope")


def test_checkpoint_carries_mapping(spark, table):
    table.rename_column("val", "value")
    table.checkpoint_log()
    t2 = LakeTable(spark, table.root)
    snap = t2.snapshot()
    assert snap.columns == ["id", "name", "value"]
    assert snap.filter(F.col("value").isNotNull()).count() == 100
    # post-checkpoint DDL still works
    t2.drop_column("value")
    assert t2.snapshot().columns == ["id", "name"]


def test_datasource_read_write_after_rename(spark, table):
    table.rename_column("val", "value")
    assert table.snapshot().columns == ["id", "name", "value"]
    # an independent reader resolves the logical name to the physical
    # column the files still carry
    rows = duckdb_snapshot(table)
    assert len(rows) == 100 and all(r[2] is not None for r in rows)
    assert rows == sorted(_rows(table.snapshot()), key=repr)
    # append stages PHYSICAL names so every reader sees the rows
    table.append(
        spark.createDataFrame(
            [(700, "n700", 7.0)], "id long, name string, value double"
        )
    )
    assert (700, "n700", 7.0) in duckdb_snapshot(table)
    assert _rows(
        table.snapshot().filter("id = 700").select("id", "value")
    ) == [(700, 7.0)]
    import pyarrow.parquet as pq

    newest = max(
        _data_files(table),
        key=lambda p: os.path.getmtime(os.path.join(table.root, p)),
    )
    assert "val" in pq.read_schema(
        os.path.join(table.root, newest)
    ).names  # physical name in the staged file


def test_mor_deletes_and_compaction_across_rename(spark, table):
    table.rename_column("val", "value")
    table.delete_mor("value < 10")
    assert table.snapshot().count() == 90
    table.compact(target_rows=1000)
    snap = table.snapshot()
    assert snap.count() == 90
    assert snap.filter("value < 10").count() == 0
    # the compacted (post-rename) files STILL store physical names
    import pyarrow.parquet as pq

    for p in _data_files(table):
        names = pq.read_schema(os.path.join(table.root, p)).names
        assert "val" in names and "value" not in names


def test_restore_keeps_current_names(spark, table):
    v0 = table.latest_version()
    table.rename_column("val", "value")
    table.delete_mor("value >= 50")
    table.restore(v0)
    # documented posture: restore keeps the NEWER schema (and thus
    # the newer logical names); the resurrected rows read under it
    snap = table.snapshot()
    assert snap.columns == ["id", "name", "value"]
    assert snap.count() == 100
