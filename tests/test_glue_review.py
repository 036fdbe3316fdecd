"""Round-8 glue-review regression tests — catalog.py, sources/ids.py,
cli.py (the modules no prior review pass had covered; VERDICT r7
next-round #1). One test per finding."""

from __future__ import annotations

import pytest

from lcmap_firebird_spark.catalog import read_partitioned, write_partitioned
from lcmap_firebird_spark.sources.ids import chip_ids


# --- catalog.py: selective-read hygiene -----------------------------------


@pytest.fixture()
def part_table(spark, tmp_path):
    path = str(tmp_path / "ptab")
    df = spark.createDataFrame(
        [(cx, cy, cx * 100 + cy) for cx in (1, 2, 3) for cy in (1, 2)],
        "cx int, cy int, payload int",
    )
    write_partitioned(df, path, mode="overwrite")
    return path


def test_read_partitioned_duplicate_ids_do_not_duplicate_rows(
    spark, part_table
):
    ids = spark.createDataFrame([(1, 1), (1, 1), (2, 1)], "cx int, cy int")
    out = read_partitioned(spark, part_table, ids)
    assert out.count() == 2  # one row per matching table row, not 3


def test_read_partitioned_extra_id_columns_do_not_leak(spark, part_table):
    ids = spark.createDataFrame(
        [(1, 1, "junk")], "cx int, cy int, note string"
    )
    out = read_partitioned(spark, part_table, ids)
    assert "note" not in out.columns
    assert out.count() == 1


def test_read_partitioned_inner_mode_reproduces_reference_join(
    spark, part_table
):
    """semi=False is the reference's literal `ids.join(table)`: a
    duplicate work-list row duplicates output rows."""
    ids = spark.createDataFrame([(1, 1), (1, 1)], "cx int, cy int")
    out = read_partitioned(spark, part_table, ids, semi=False)
    assert out.count() == 2


# --- catalog.py: dynamic partition overwrite (docstring claim, untested) --


def test_write_partitioned_overwrite_is_dynamic(spark, tmp_path):
    """mode='overwrite' must replace ONLY the partitions the frame
    carries — Spark's default STATIC mode would truncate the whole
    table, deleting every other tile's results."""
    path = str(tmp_path / "dyn")
    base = spark.createDataFrame(
        [(1, 1, "old-a"), (2, 2, "old-b")], "cx int, cy int, v string"
    )
    write_partitioned(base, path, mode="overwrite")
    upd = spark.createDataFrame([(1, 1, "new-a")], "cx int, cy int, v string")
    write_partitioned(upd, path, mode="overwrite")
    got = {(r.cx, r.cy): r.v for r in spark.read.parquet(path).collect()}
    assert got == {(1, 1): "new-a", (2, 2): "old-b"}


# --- sources/ids.py: loud fan-out control ----------------------------------


def test_chip_ids_zero_partitions_raises(spark):
    with pytest.raises(ValueError, match="num_partitions"):
        chip_ids(spark, [(0, 0)], num_partitions=0)


# --- catalog.py: mixed-generation ts directory -----------------------------


def test_read_table_mixed_unit_directory_row_sniff(spark, tmp_path):
    """A directory mixing a ns-generation raw-int64 part file with a
    µs-generation one must NOT be read under one file's unit:
    `ts_unit` detects the disagreement and falls back to the per-row
    magnitude CASE, which recovers epoch µs for both rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.functions.dates import micros

    us = 1_704_067_798_778_549  # 2024-01-01T00:09:58.778549Z
    d = tmp_path / "events.parquet"
    d.mkdir()

    def _write(name, ts_val):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1], pa.int64()),
                    "ts": pa.array([ts_val], pa.int64()),
                    "user_id": pa.array([7], pa.int64()),
                    "event_type": pa.array(["click"]),
                    "value": pa.array([1.5], pa.float64()),
                    "props": pa.array(["{}"]),
                }
            ),
            str(d / name),
        )

    _write("part-ns.parquet", us * 1000)
    _write("part-us.parquet", us)
    df = read_table(spark, "events", str(tmp_path))
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    vals = [r.us for r in df.select(micros("ts").alias("us")).collect()]
    assert vals == [us, us]


# --- cli.py: argument validation exits 2, never a traceback ----------------


def test_cli_corpus_mixture_without_tokens_is_exit_2(capsys):
    from lcmap_firebird_spark.cli import main

    rc = main(
        [
            "corpus",
            "--documents", "/nonexistent",
            "--output", "/nonexistent-out",
            "--mixture", "web=1.0",
        ]
    )
    assert rc == 2
    assert "mixture-tokens" in capsys.readouterr().err


def test_cli_corpus_empty_languages_is_exit_2(capsys):
    from lcmap_firebird_spark.cli import main

    rc = main(
        [
            "corpus",
            "--documents", "/nonexistent",
            "--output", "/nonexistent-out",
            "--languages", " , ",
        ]
    )
    assert rc == 2
    assert "languages" in capsys.readouterr().err


def test_cli_lake_show_version_and_asof_is_exit_2(capsys):
    from lcmap_firebird_spark.cli import main

    rc = main(
        [
            "lake", "show",
            "--root", "/nonexistent",
            "--version", "1",
            "--as-of", "123.0",
        ]
    )
    assert rc == 2
    assert "mutually exclusive" in capsys.readouterr().err
