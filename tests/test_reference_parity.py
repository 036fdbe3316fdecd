"""Reference-style parity tests: schema goldens (the reference's
exact test technique, test/test_chip.py:12-14 et al.), grid math,
ids sources, date functions, format round-trips, and the CLI."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark import grid, schemas
from lcmap_firebird_spark.functions import dates
from lcmap_firebird_spark.sources import ids


# --- schema goldens (reference: assert simpleString equality) -----------


def test_chip_schema_golden():
    # test/test_chip.py:13-14 golden string, reproduced verbatim
    assert schemas.chip_schema().simpleString() == (
        "struct<cx:int,cy:int,dates:array<string>>"
    )


def test_pixel_schema_golden():
    # test/test_pixel.py:13-14
    assert schemas.pixel_schema().simpleString() == (
        "struct<cx:int,cy:int,px:int,py:int,mask:array<tinyint>>"
    )


def test_tile_schema_golden():
    # test/test_tile.py:19-22
    assert schemas.tile_schema().simpleString() == (
        "struct<tx:int,ty:int,name:string,model:string,updated:string>"
    )


def test_ids_schema_goldens():
    # test/test_ids.py:8-12
    assert schemas.chip_id_schema().simpleString() == "struct<cx:int,cy:int>"
    assert schemas.tile_id_schema().simpleString() == "struct<tx:int,ty:int>"


def test_ard_schema_fields():
    # ccdc/timeseries.py:33-45 field census
    names = schemas.ard_schema().fieldNames()
    assert names == [
        "cx", "cy", "px", "py", "dates",
        "blues", "greens", "reds", "nirs", "swir1s", "swir2s",
        "thermals", "qas",
    ]


def test_segment_schema_40_fields():
    # ccdc/pyccd.py:39-81: 40 fields incl. dates+mask
    assert len(schemas.segment_schema(True).fields) == 40
    assert len(schemas.segment_schema(False).fields) == 38


# --- grid math (reference: test/test_grid.py) ----------------------------


def test_tile_has_2500_chips():
    t = grid.tile(-1815585, 1064805)
    assert len(t["chips"]) == 2500
    assert t["lrx"] - t["ulx"] == 150_000
    assert t["uly"] - t["lry"] == 150_000


def test_chips_are_on_3000m_grid():
    t = grid.tile(0, 0)
    xs = {x for x, _ in t["chips"]}
    ys = {y for _, y in t["chips"]}
    assert all((x - t["ulx"]) % 3000 == 0 for x in xs)
    assert all((t["uly"] - y) % 3000 == 0 for y in ys)
    assert len(xs) == 50 and len(ys) == 50


def test_training_neighborhood_is_9_tiles():
    # test/test_grid.py:18-20: 9 tiles → 22 500 chips
    assert len(grid.near(0, 0)) == 9
    assert len(grid.training_chips(0, 0)) == 22_500


def test_snap_idempotent():
    h, v, ulx, uly = grid.snap(-1815585, 1064805, 150_000)
    h2, v2, ulx2, uly2 = grid.snap(ulx, uly, 150_000)
    assert (h, v, ulx, uly) == (h2, v2, ulx2, uly2)


# --- ids sources (S1/S2) -------------------------------------------------


def test_chip_ids_roundtrip(spark):
    xys = [(-1815585, 1064805), (-1812585, 1064805)]
    df = ids.chip_ids(spark, xys, num_partitions=2)
    assert df.schema.simpleString() == "struct<cx:int,cy:int>"
    assert df.rdd.getNumPartitions() == 2
    assert sorted((r.cx, r.cy) for r in df.collect()) == sorted(xys)


@pytest.mark.parametrize("xys", [[], [(-1815585, 1064805), (-1812585, 1064805)]])
@pytest.mark.parametrize(
    "make,schema",
    [(ids.chip_ids, "struct<cx:int,cy:int>"), (ids.tile_ids, "struct<tx:int,ty:int>")],
)
def test_ids_plan_is_jvm_local(spark, make, schema, xys):
    """No num_partitions: the work list — empty or not — optimizes to
    a LocalRelation under the declared non-null schema, not a Python
    RDD scan that would start Python workers at every evaluation
    (PLANS.md rule 5)."""
    df = make(spark, xys)
    plan = df._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert df.schema.simpleString() == schema
    assert not any(f.nullable for f in df.schema.fields)
    assert df.count() == len(xys)


def test_ids_drive_selective_read(spark):
    # reference read pattern end to end: grid → ids → restrict
    from lcmap_firebird_spark.operators.relational import selective_read

    t = grid.tile(0, 0)
    id_df = ids.chip_ids(spark, t["chips"][:5])
    big = spark.createDataFrame(
        [(x, y, i) for i, (x, y) in enumerate(t["chips"][:50])],
        ["cx", "cy", "payload"],
    )
    out = selective_read(big, id_df, ["cx", "cy"])
    assert out.count() == 5


# --- date functions (F1/F2) ---------------------------------------------


def test_ordinal_iso_roundtrip(spark):
    from datetime import date

    samples = [date(1, 1, 1), date(1970, 1, 1), date(2024, 6, 15)]
    df = spark.createDataFrame(
        [(d.toordinal(),) for d in samples], "ordinal bigint"
    )
    out = df.select(
        dates.ordinal_to_iso("ordinal").alias("iso"),
        dates.date_to_ordinal(dates.ordinal_to_date("ordinal")).alias("back"),
    ).collect()
    assert [r.iso for r in out] == [d.isoformat() for d in samples]
    assert [r.back for r in out] == [d.toordinal() for d in samples]


def test_acquired_interval():
    rng = dates.acquired()
    a, b = dates.parse_acquired(rng)
    assert a.isoformat() == "0001-01-01"  # ccdc/core.py:41-50
    assert b >= a


# --- file formats through spark.read ([absent] S row) -------------------


@pytest.mark.parametrize("fmt", ["csv", "json", "orc", "parquet"])
def test_format_roundtrips(spark, tmp_path, fmt):
    df = spark.range(10).withColumn("name", F.concat(F.lit("r"), F.col("id")))
    path = str(tmp_path / fmt)
    df.write.option("header", True).format(fmt).save(path)
    # CSV and JSON carry no schema: declare it rather than infer it
    reader = spark.read.option("header", True)
    if fmt in ("csv", "json"):
        reader = reader.schema(df.schema)
    back = reader.format(fmt).load(path)
    assert sorted((r.id, r.name) for r in back.collect()) == [
        (i, f"r{i}") for i in range(10)
    ]


# --- CLI (reference: test/test_cli.py exit-code smoke) -------------------


def test_cli_changedetection_smoke(spark, tmp_path, capsys):
    from lcmap_firebird_spark.cli import main

    obs = spark.createDataFrame(
        [(-1815585, 1064805, 1, 1, 100 + i * 10, 100.0 + i) for i in range(12)],
        ["cx", "cy", "px", "py", "t", "value"],
    )
    obs_path = str(tmp_path / "obs")
    obs.write.parquet(obs_path)
    rc = main(
        [
            "changedetection",
            "--observations", obs_path,
            "--x", "-1815585", "--y", "1064805",
            "--number", "5",
        ]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["segments"] >= 1
