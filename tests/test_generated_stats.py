"""Generated columns (GENERATED ALWAYS AS) + table-level stats
columns: writers may omit generated columns (the engine computes
them), provided values are validated against the expression at commit
time, and declared stats columns land in every commit's per-file
stats so scan() pruning bites on non-key columns from birth
— the generated-day-column partition-pruning story."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.lakehouse import (
    ConstraintViolation,
    LakeTable,
)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def gen_table(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(100)], "id long, val double"
    ).repartition(4, "id")
    return LakeTable.create(
        spark,
        str(tmp_path / "gen"),
        base,
        key_cols=["id"],
        generated={"bucket": "CAST(id / 10 AS INT)"},
        stats_cols=["bucket"],
    )


def test_create_computes_generated_column(spark, gen_table):
    snap = gen_table.snapshot()
    assert snap.columns == ["id", "val", "bucket"]
    got = {r["id"]: r["bucket"] for r in snap.collect()}
    assert got == {i: i // 10 for i in range(100)}


def test_append_omitting_generated_autofills(spark, gen_table):
    gen_table.append(
        spark.createDataFrame([(200, 1.0)], "id long, val double")
    )
    got = gen_table.snapshot().filter("id = 200").first()
    assert got["bucket"] == 20


def test_append_with_wrong_generated_value_rejected(spark, gen_table):
    v = gen_table.latest_version()
    with pytest.raises(ConstraintViolation, match="bucket"):
        gen_table.append(
            spark.createDataFrame(
                [(300, 1.0, 999)], "id long, val double, bucket int"
            )
        )
    # atomic: no version consumed, no rows landed
    assert gen_table.latest_version() == v
    assert gen_table.snapshot().filter("id = 300").count() == 0
    # correct provided values pass
    gen_table.append(
        spark.createDataFrame(
            [(300, 1.0, 30)], "id long, val double, bucket int"
        )
    )
    assert gen_table.snapshot().filter("id = 300").count() == 1


def test_merge_and_apply_changes_autofill(spark, gen_table):
    gen_table.merge(
        spark.createDataFrame(
            [(5, -5.0), (400, 4.0)], "id long, val double"
        )
    )
    got = {r["id"]: r["bucket"] for r in gen_table.snapshot().collect()}
    assert got[5] == 0 and got[400] == 40
    gen_table.apply_changes(
        spark.createDataFrame(
            [(401, 1.0, "upsert"), (5, None, "delete")],
            "id long, val double, _op string",
        )
    )
    got = {r["id"]: r["bucket"] for r in gen_table.snapshot().collect()}
    assert got[401] == 40 and 5 not in got


def test_stats_cols_prune_from_birth(spark, gen_table):
    """The generated bucket column is a declared stats column: file
    pruning works without any retroactive cluster() pass."""
    # files were written partitioned by id, so bucket ranges per file
    # are real; every commit records bucket stats
    live = [
        r
        for r in gen_table._live()[0]
        if r.get("kind") != "dv"
    ]
    assert all("bucket" in (r.get("stats") or {}) for r in live)
    paths, total = gen_table.pruned_paths({"bucket": (0, 0)})
    assert 0 < len(paths) <= total
    got = gen_table.scan({"bucket": (2, 2)})
    assert got.count() == 10
    assert _rows(got.select("id")) == [(i,) for i in range(20, 30)]


def test_generated_column_ddl_guards(spark, gen_table):
    with pytest.raises(ValueError, match="generated"):
        gen_table.rename_column("bucket", "b2")
    with pytest.raises(ValueError, match="generated"):
        gen_table.drop_column("bucket")
    # a column the expression references is locked too
    with pytest.raises(ValueError, match="bucket"):
        gen_table.rename_column("id", "pk")
    # unreferenced columns still move freely
    gen_table.rename_column("val", "value")
    assert gen_table.snapshot().columns == ["id", "value", "bucket"]
    # ...and the generated machinery still enforces afterwards
    with pytest.raises(ConstraintViolation):
        gen_table.append(
            spark.createDataFrame(
                [(500, 0.0, 1)], "id long, value double, bucket int"
            )
        )


def test_clone_carries_generated_and_stats(spark, gen_table, tmp_path):
    c = gen_table.clone(str(tmp_path / "gclone"))
    c.append(spark.createDataFrame([(700, 1.0)], "id long, val double"))
    assert c.snapshot().filter("id = 700").first()["bucket"] == 70
    with pytest.raises(ConstraintViolation):
        c.append(
            spark.createDataFrame(
                [(701, 1.0, 0)], "id long, val double, bucket int"
            )
        )
    paths, _ = c.pruned_paths({"bucket": (70, 70)})
    assert paths  # stats recorded through the clone's append too


def test_stats_cols_survive_checkpoint_and_writer(spark, tmp_path):
    """Table-level stats columns flow through checkpoints and into
    the per-file stats of a later append."""
    base = spark.createDataFrame(
        [(i, float(i % 7)) for i in range(50)], "id long, score double"
    )
    t = LakeTable.create(
        spark,
        str(tmp_path / "st"),
        base,
        key_cols=["id"],
        stats_cols=["score"],
    )
    t.checkpoint_log()
    t.append(spark.createDataFrame([(100, 99.0)], "id long, score double"))
    live = [r for r in t._live()[0] if r.get("kind") != "dv"]
    assert all("score" in (r.get("stats") or {}) for r in live)
    paths, total = t.pruned_paths({"score": (99.0, 99.0)})
    assert len(paths) < total
    assert t.scan({"score": (99.0, 99.0)}).count() == 1
