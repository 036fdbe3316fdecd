"""Behavioral streaming tests: multi-batch watermark advancement and
late-data dropping — semantics the oracle-parity suite (single
availableNow pass) can't exercise."""

from __future__ import annotations

import time
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.streaming import events as ST


def _write_events(spark, path, rows):
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    )
    # match the driver testdata's physical type (TIMESTAMP(NANOS) → long)
    df = df.withColumn("ts", (F.unix_micros("ts") * 1000).cast("long"))
    df.coalesce(1).write.mode("append").parquet(path)


def test_late_data_dropped_after_state_eviction(spark, tmp_path):
    """Spark's watermark contract: data within the delay is
    guaranteed included; data older than the watermark is dropped
    once the window's state has been evicted. Three micro-batches:

    - batch 0 fills the 09:00 window; max ts 12:00 → watermark 11:00
    - batch 1 (on-time event): the 09:00 window (end 10:00 < 11:00)
      is emitted and its state evicted at this batch's commit
    - batch 2 delivers a 09:20 'late' event → state gone → dropped
    """
    src = str(tmp_path / "stream_src")
    t = lambda s: datetime.fromisoformat(s)  # noqa: E731
    batches = [
        [
            (1, t("2024-01-01 09:10:00"), 1, "click", 1.0, "{}"),
            (2, t("2024-01-01 12:00:00"), 1, "click", 1.0, "{}"),
        ],
        [(3, t("2024-01-01 12:30:00"), 1, "click", 1.0, "{}")],
        [(4, t("2024-01-01 09:20:00"), 1, "late", 99.0, "{}")],
    ]
    for rows in batches:
        _write_events(spark, src, rows)
        time.sleep(1.1)  # distinct mod times → deterministic file order
    stream = ST.stream_events(spark, src, max_files_per_trigger=1, glob="*.parquet")
    agg = ST.tumbling_counts(stream, "1 hour", watermark="1 hour")
    out = ST.run_available_now(agg, spark, mode="append").collect()
    by_win = {(r.win_start_us, r.event_type): r.n for r in out}
    nine = int(datetime(2024, 1, 1, 9).timestamp() * 1_000_000)
    # 09:00 window emitted with only the on-time click; the late
    # event arrived after eviction and was dropped
    assert by_win.get((nine, "click")) == 1
    assert not any(et == "late" for _, et in by_win)


def test_stream_dedup_is_exactly_distinct(spark, sf_dir):
    stream = ST.stream_events(spark, sf_dir)
    out = ST.run_available_now(
        ST.dedup_keys(stream, ["user_id"]), spark, mode="append"
    )
    exact = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .select("user_id")
        .distinct()
        .count()
    )
    assert out.count() == exact


@pytest.mark.parametrize("mode,expect_all", [("complete", True), ("append", False)])
def test_append_mode_withholds_open_windows(spark, sf_dir, mode, expect_all):
    stream = ST.stream_events(spark, sf_dir)
    agg = ST.tumbling_counts(stream, "1 hour", watermark="2 hours")
    got = ST.run_available_now(agg, spark, mode=mode).count()
    from lcmap_firebird_spark.catalog import read_table

    full = (
        read_table(spark, "events", sf_dir)
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .count()
    )
    assert (got == full) if expect_all else (got < full)


def test_skip_nodata_batch_identical_for_immediate_emitters(
    spark, sf_dir
):
    """finalize_watermark=False (r12: skips the trailing no-data
    micro-batch — pure state-eviction overhead, ~0.5 s/query) must be
    row-identical for the two immediate-emission operators it is
    applied to: streaming dedup (first arrival emits in its own
    batch) and the watermarked INNER stream-stream join (matches emit
    on arrival). Also pins that the scoped conf is RESTORED — a leak
    would silently empty any later append-aggregation query."""
    conf = "spark.sql.streaming.noDataMicroBatches.enabled"
    before = spark.conf.get(conf)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    stream = ST.stream_events(spark, sf_dir)
    dd = ST.dedup_keys(stream, ["user_id", "event_type"])
    assert rows(
        ST.run_available_now(dd, spark, mode="append")
    ) == rows(
        ST.run_available_now(
            ST.dedup_keys(
                ST.stream_events(spark, sf_dir),
                ["user_id", "event_type"],
            ),
            spark,
            mode="append",
            finalize_watermark=False,
        )
    )
    jn = ST.purchases_after_signup(ST.stream_events(spark, sf_dir))
    assert rows(
        ST.run_available_now(jn, spark, mode="append")
    ) == rows(
        ST.run_available_now(
            ST.purchases_after_signup(ST.stream_events(spark, sf_dir)),
            spark,
            mode="append",
            finalize_watermark=False,
        )
    )
    assert spark.conf.get(conf) == before


def test_stream_handles_mixed_generation_accretion(spark, tmp_path):
    """A live stream directory can accrete a file of ANOTHER ts
    generation after the stream's unit decision was made (the regen
    hazard). For a µs-pinned dataset the conversion widens to the
    per-row magnitude CASE, so a legacy ns file arriving mid-stream
    still converts correctly instead of landing in year ~56000."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = tmp_path / "mixsrc"
    src.mkdir()
    base_us = int(datetime(2024, 1, 1, 9, 10).timestamp() * 1_000_000)

    def _write(name, ts_val):
        pq.write_table(
            pa.table(
                {
                    "event_id": pa.array([1], pa.int64()),
                    "ts": pa.array([ts_val], pa.int64()),
                    "user_id": pa.array([1], pa.int64()),
                    "event_type": pa.array(["click"], pa.string()),
                    "value": pa.array([1.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                }
            ),
            str(src / name),
        )

    _write("a_current_us.parquet", base_us + 60_000_000)  # 09:11 in µs
    # the unit decision reads the first matching file (a_... sorts
    # first) -> 'us'; now a legacy ns-generation file drops in
    _write("b_legacy_ns.parquet", (base_us + 120_000_000) * 1000)  # 09:12 in ns
    stream = ST.stream_events(spark, str(src), glob="*.parquet")
    agg = ST.tumbling_counts(stream, "1 hour", watermark="1 hour")
    out = ST.run_available_now(agg, spark, mode="complete").collect()
    nine = int(datetime(2024, 1, 1, 9).timestamp() * 1_000_000)
    by_win = {(r.win_start_us, r.event_type): r.n for r in out}
    # both rows land in the real 09:00 window — no year-56000 window
    assert by_win == {(nine, "click"): 2}
