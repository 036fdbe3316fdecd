"""Identity columns (lakehouse.py): Delta's GENERATED BY DEFAULT AS
IDENTITY re-expressed on the commit log — per-commit reserved ranges
assigned inside the optimistic retry loop, values materialized at
scan as base + row_index·step, persisted physically by any COW
rewrite. Reference posture: Delta identity columns (public docs);
the reference engine has no identity surface at all."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.lakehouse import LakeTable

from .lake_helpers import duckdb_snapshot


def _mk(spark, n=5, identity="row_id", **kw):
    root = tempfile.mkdtemp() + "/t"
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return LakeTable.create(
        spark, root, df, ["k"], identity=identity, **kw
    )


def _ids(t, version=None):
    return {
        r["k"]: r["row_id"] for r in t.snapshot(version).collect()
    }


def test_create_and_append_assign_unique_increasing(spark):
    t = _mk(spark)
    first = _ids(t)
    assert sorted(first.values()) == [1, 2, 3, 4, 5]
    t.append(
        spark.range(5, 8).select(
            F.col("id").alias("k"), (F.col("id") * 10).alias("v")
        )
    )
    ids = _ids(t)
    assert len(set(ids.values())) == 8
    assert None not in ids.values()
    # commit order: every appended id exceeds every create id
    assert min(ids[k] for k in (5, 6, 7)) > max(first.values())
    # watermark tracks the high value
    assert t.describe_detail()["identity"]["watermark"] == max(
        ids.values()
    )


def test_start_step_and_by_default_values(spark):
    t = _mk(spark, identity={"col": "row_id", "start": 100, "step": 10})
    ids = sorted(_ids(t).values())
    assert ids[0] == 100
    assert all(b - a == 10 for a, b in zip(ids, ids[1:]))
    # BY DEFAULT: writer-supplied non-NULL values are kept verbatim
    t.append(
        spark.createDataFrame(
            [(50, 1, -7)], "k long, v long, row_id long"
        )
    )
    assert _ids(t)[50] == -7


def test_rewrites_preserve_ids(spark):
    t = _mk(spark, n=6)
    before = _ids(t)
    t.compact(target_rows=2)
    assert _ids(t) == before
    t.cluster(["v"])
    assert _ids(t) == before
    t.delete_mor("k = 3")
    t.compact()
    after = _ids(t)
    assert 3 not in after
    assert {k: v for k, v in before.items() if k != 3} == after


def test_merge_insert_gets_fresh_id_update_replaces(spark):
    t = _mk(spark)
    wm = t.describe_detail()["identity"]["watermark"]
    before = _ids(t)
    t.merge(
        spark.createDataFrame([(0, 999), (100, 1000)], "k long, v long")
    )
    ids = _ids(t)
    # inserted row drew from beyond the old watermark; replace
    # semantics give the matched row a fresh id too (the source row
    # replaces the target row wholesale — carry row_id in the source
    # to preserve it); untouched rows keep theirs
    assert ids[100] > wm
    assert all(ids[k] == before[k] for k in (1, 2, 3, 4))
    assert len(set(ids.values())) == len(ids)
    # preserving across merge: thread the id through the source
    src = (
        t.snapshot()
        .filter(F.col("k") == 1)
        .withColumn("v", F.lit(111))
    )
    t.merge(src)
    assert _ids(t)[1] == before[1]


def test_time_travel_and_restore_stability(spark):
    t = _mk(spark)
    v1_ids = _ids(t)
    t.append(
        spark.createDataFrame([(10, 0)], "k long, v long")
    )
    v2 = t.latest_version()
    assert _ids(t, 1) == v1_ids
    t.restore(1)
    assert _ids(t) == v1_ids
    # post-restore appends never reuse swallowed values (watermark
    # is monotone across restore)
    t.append(spark.createDataFrame([(11, 0)], "k long, v long"))
    all_ids = list(_ids(t).values()) + [_ids(t, v2)[10]]
    assert len(set(all_ids)) == len(all_ids)


def test_apply_changes_on_restored_head_never_reuses_ids(spark):
    """r12 (r11 VERDICT #3 matrix: identity watermark x apply_changes
    x restore). restore() resurrects METADATA but must
    never roll the identity high-water mark back: a CDC consumer (or
    a clone) may already have seen the ids the restore removed, so an
    apply_changes landing ON the restored head must draw inserts from
    beyond every id EVER assigned — including those of the removed
    rows. The watermark in the restore entry is the PRE-restore
    head's (carried by _commit from head_entry), verified here both
    through the metadata and through the assigned values."""
    import json

    from lcmap_firebird_spark.lakehouse import _entry_path

    t = _mk(spark, n=3)
    # a second commit whose ids the restore will remove
    t.append(spark.createDataFrame([(10, 0), (11, 0)], "k long, v long"))
    v2 = t.latest_version()
    removed_ids = {_ids(t, v2)[10], _ids(t, v2)[11]}
    wm_before = t.describe_detail()["identity"]["watermark"]
    t.restore(1)
    # metadata: the restore entry carries the head's watermark, not
    # the target's
    with open(_entry_path(t.root, t.latest_version())) as f:
        assert json.load(f)["identity"]["watermark"] == wm_before
    # CDC batch: one upsert-update (keeps its id range semantics) and
    # two fresh inserts
    t.apply_changes(
        spark.createDataFrame(
            [(0, 99, "upsert"), (20, 1, "upsert"), (21, 2, "upsert")],
            "k long, v long, _op string",
        )
    )
    got = _ids(t)
    fresh = {got[20], got[21]}
    assert not fresh & removed_ids, (fresh, removed_ids)
    assert min(fresh) > wm_before, (fresh, wm_before)
    # full-history uniqueness: an id maps to ONE key across every
    # version any reader could have seen (v1 rows legitimately
    # repeat across versions — dedupe per (k, id) pair)
    pairs = set()
    for v in (1, v2, t.latest_version()):
        pairs |= set(_ids(t, v).items())
    by_id: dict = {}
    for k, i in pairs:
        assert by_id.setdefault(i, k) == k, (
            f"id {i} assigned to both k={by_id[i]} and k={k}"
        )


def test_concurrent_appenders_never_collide(spark):
    import threading

    t = _mk(spark, n=2)
    errs = []

    def run(i):
        try:
            t.append(
                spark.createDataFrame(
                    [(100 + i * 10 + j, i) for j in range(3)],
                    "k long, v long",
                )
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [
        threading.Thread(target=run, args=(i,)) for i in range(6)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    ids = [r["row_id"] for r in t.snapshot().collect()]
    assert len(ids) == 2 + 18
    assert len(set(ids)) == len(ids)
    assert None not in ids


def test_datasource_and_stream_parity(spark, tmp_path):
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    t = _mk(spark)
    t.append(
        spark.createDataFrame([(7, 70), (8, 80)], "k long, v long")
    )
    want = sorted(
        tuple(r) for r in t.snapshot().select("k", "v", "row_id").collect()
    )
    # an independent DuckDB read fills identity from the same ranges
    assert duckdb_snapshot(t) == sorted(
        map(tuple, t.snapshot().collect()), key=repr
    )
    # streaming tail delivers the same materialized values
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    (
        spark.readStream.format("lake")
        .option("path", t.root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    streamed = sorted(
        tuple(r)
        for r in spark.read.parquet(out)
        .select("k", "v", "row_id")
        .collect()
    )
    assert streamed == want


def test_clone_preserves_and_continues_numbering(spark):
    t = _mk(spark)
    before = _ids(t)
    c = t.clone(tempfile.mkdtemp() + "/c")
    assert _ids(c) == before
    c.append(spark.createDataFrame([(20, 0)], "k long, v long"))
    ids = _ids(c)
    assert ids[20] > max(before.values())


def test_clone_and_source_advance_counters_independently(spark):
    """The r5-verdict interaction probe: a clone inherits the
    source's watermark (Delta CLONE rule) and BOTH tables may then
    advance — each log reserves ranges against its own head, so
    per-table uniqueness holds on both sides, writes never cross, and
    the clone's pre-clone ids stay bit-identical to the source's."""
    t = _mk(spark)
    before = _ids(t)
    c = t.clone(tempfile.mkdtemp() + "/c")
    # interleaved appends on both tables
    t.append(spark.createDataFrame([(30, 0)], "k long, v long"))
    c.append(spark.createDataFrame([(40, 0)], "k long, v long"))
    t.append(spark.createDataFrame([(31, 0)], "k long, v long"))
    c.append(spark.createDataFrame([(41, 0)], "k long, v long"))
    src, cl = _ids(t), _ids(c)
    # per-table uniqueness
    assert len(set(src.values())) == len(src)
    assert len(set(cl.values())) == len(cl)
    # the shared history is untouched on both sides
    assert {k: v for k, v in src.items() if k in before} == before
    assert {k: v for k, v in cl.items() if k in before} == before
    # clone rows never appear in the source and vice versa
    assert 40 not in src and 30 not in cl
    # both counters advanced past the inherited watermark
    assert min(src[30], cl[40]) > max(before.values())


def test_ddl_guards(spark):
    t = _mk(spark)
    with pytest.raises(ValueError, match="identity"):
        t.rename_column("row_id", "rid")
    with pytest.raises(ValueError, match="identity"):
        t.drop_column("row_id")
    # non-identity DDL still works
    t.rename_column("v", "val")
    assert sorted(_ids(t).values()) == [1, 2, 3, 4, 5]


def test_create_rejects_bad_declarations(spark):
    df = (
        _mk(spark).spark.range(3).select(
            F.col("id").alias("k"), F.col("id").alias("v")
        )
    )
    with pytest.raises(ValueError, match="step"):
        LakeTable.create(
            df.sparkSession,
            tempfile.mkdtemp() + "/t",
            df,
            ["k"],
            identity={"col": "rid", "step": 0},
        )


def test_delete_mor_keeps_survivor_ids(spark):
    t = _mk(spark, n=6)
    before = _ids(t)
    t.delete_mor("k IN (1, 4)")
    after = _ids(t)
    assert set(after) == {0, 2, 3, 5}
    assert all(after[k] == before[k] for k in after)
    # and the physical rewrite of remaining DVs keeps them too
    t.compact()
    assert _ids(t) == after


def test_checkpointed_log_keeps_identity(spark):
    t = _mk(spark)
    t.append(spark.createDataFrame([(9, 0)], "k long, v long"))
    t.checkpoint_log()
    t.append(spark.createDataFrame([(10, 0)], "k long, v long"))
    ids = _ids(t)
    assert len(set(ids.values())) == 7
    # a fresh handle replaying checkpoint + tail sees the same table
    t2 = LakeTable(spark, t.root)
    assert _ids(t2) == ids


def test_cdf_identity_values_batch_and_stream(spark, tmp_path):
    """Identity x CDF (r8 combined-mix finding): CDF consumers must
    see the SAME identity values a snapshot reader sees. Identity is
    assigned from the commit's reserved range — deterministic at
    staging time for never-retried commits — so merge/apply_changes
    materialize the values INTO the staged change file
    (_fill_identity_in_changes), and both the batch feed and the
    STREAMING CDF source read that file verbatim and deliver exact
    values."""
    from pyspark.sql import functions as F

    from lcmap_firebird_spark.sources.lake import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    t = _mk(spark, identity="rid", enable_cdf=True)
    t.merge(
        spark.createDataFrame([(1, 111), (9, 900)], "k long, v long")
    )
    snap_ids = {r["k"]: r["rid"] for r in t.snapshot().collect()}
    cdf = t.read_cdf(1)  # the merge commit only
    post = {
        r["k"]: r["rid"]
        for r in cdf.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).collect()
    }
    # update_postimage of k=1 and insert of k=9 both carry the
    # materialized snapshot values
    assert post == {1: snap_ids[1], 9: snap_ids[9]}
    assert None not in post.values()
    # pre-images keep the OLD row's materialized id
    pre = {
        r["k"]: r["rid"]
        for r in cdf.filter(
            F.col("_change_type") == "update_preimage"
        ).collect()
    }
    assert pre[1] is not None

    # streaming CDF: the change file carries materialized values, so
    # the single-file partition readers deliver them verbatim
    out = str(tmp_path / "cdfout")
    ck = str(tmp_path / "cdfck")
    (
        spark.readStream.format("lake")
        .option("path", t.root)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    streamed = spark.read.parquet(out)
    s_post = {
        r["k"]: r["rid"]
        for r in streamed.filter(
            F.col("_change_type").isin("insert", "update_postimage")
        ).collect()
    }
    # the stream delivers the SAME materialized values (write-time
    # fill — the change file itself carries them)
    assert s_post == {1: snap_ids[1], 9: snap_ids[9]}


def test_cdf_identity_filled_flag_skips_read_time_fill(spark):
    """Change files carry their identity values from staging: the
    merge commit's change rows read back through read_cdf, which
    does no read-time fill, with the same rid values the snapshot
    materializes."""
    import json

    from lcmap_firebird_spark.lakehouse import _entry_path

    t = _mk(spark, identity="rid", enable_cdf=True)
    v = t.merge(spark.createDataFrame([(1, 111), (9, 900)], "k long, v long"))
    with open(_entry_path(t.root, v)) as f:
        assert set(json.load(f)["cdf"]) == {"paths", "rows"}
    snap_ids = {r["k"]: r["rid"] for r in t.snapshot().collect()}
    post = {
        r["k"]: r["rid"]
        for r in t.read_cdf(v - 1, v)
        .filter(F.col("_change_type").isin("insert", "update_postimage"))
        .collect()
    }
    assert post == {1: snap_ids[1], 9: snap_ids[9]}
