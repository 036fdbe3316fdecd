"""Native table format (lakehouse.py): atomic commits, MERGE
semantics vs a DuckDB-computed expectation, copy-on-write file
pruning, snapshot isolation / time travel, optimistic-concurrency
conflicts, and vacuum."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.lakehouse import (
    ConcurrentWriteError,
    LakeTable,
)

from .lake_helpers import duckdb_snapshot, stream_cdf


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def table(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(100)],
        "id long, name string, val double",
    ).repartition(4, "id")
    root = str(tmp_path / "tbl")
    t = LakeTable.create(spark, root, base, key_cols=["id"])
    return t


def test_create_roundtrip_and_attach(spark, table):
    got = table.snapshot()
    assert got.count() == 100
    again = LakeTable(spark, table.root)
    assert _rows(again.snapshot()) == _rows(got)


def test_append_atomic_multi_file(spark, table):
    extra = spark.createDataFrame(
        [(100 + i, f"name{100 + i}", 0.0) for i in range(10)],
        "id long, name string, val double",
    ).repartition(3)
    v = table.append(extra)
    assert v == table.latest_version()
    assert table.snapshot().count() == 110
    # the pre-append snapshot is still readable (time travel)
    assert table.snapshot(version=v - 1).count() == 100


def test_merge_matches_sql_semantics(spark, table, oracle):
    src = spark.createDataFrame(
        [(5, "FIVE", -5.0), (42, "FORTYTWO", -42.0), (200, "new", 1.0)],
        "id long, name string, val double",
    )
    before = table.snapshot().toPandas()
    table.merge(src)
    got = _rows(table.snapshot())
    # oracle: DuckDB full-outer upsert over the same inputs
    import duckdb

    con = duckdb.connect()
    con.register("t", before)
    con.register("s", src.toPandas())
    want = con.execute(
        """
        SELECT s.id, s.name, s.val FROM s
        UNION ALL
        SELECT t.id, t.name, t.val FROM t
        WHERE t.id NOT IN (SELECT id FROM s)
        """
    ).fetchall()
    assert got == sorted(tuple(r) for r in want)


def test_merge_rewrites_only_affected_files(spark, table):
    live_before, _ = table._live()
    # one key -> at most one file (plus carried-forward references)
    src = spark.createDataFrame(
        [(7, "seven", 0.0)], "id long, name string, val double"
    )
    v = table.merge(src)
    with open(
        os.path.join(table.root, "_txn", f"{v:020d}.json")
    ) as f:
        entry = json.load(f)
    # removed at most the files whose [min,max] id-range covers 7
    covering = [
        r["path"]
        for r in live_before
        if r["stats"]["id"][0] <= 7 <= r["stats"]["id"][1]
    ]
    assert set(entry["remove"]) <= set(covering)
    assert len(entry["remove"]) >= 1
    # untouched files are carried by reference, not rewritten
    untouched = {r["path"] for r in live_before} - set(entry["remove"])
    live_after = {r["path"] for r in table._live()[0]}
    assert untouched <= live_after


def test_merge_duplicate_source_keys_raise(spark, table):
    src = spark.createDataFrame(
        [(1, "a", 0.0), (1, "b", 0.0)], "id long, name string, val double"
    )
    with pytest.raises(ValueError):
        table.merge(src)
    table.merge(src, dedupe_source=True)
    assert table.snapshot().filter("id = 1").count() == 1


def test_delete_predicate_and_time_travel(spark, table):
    v0 = table.latest_version()
    table.delete_mor("id >= 90")
    assert table.snapshot().count() == 90
    assert table.snapshot().filter("id >= 90").count() == 0
    # old snapshot unchanged
    assert table.snapshot(version=v0).count() == 100


def test_concurrent_append_retries_merge_raises(spark, table):
    head = table.latest_version()
    # another writer lands the next version first
    fake = {
        "version": head + 1,
        "operation": "append",
        "add": [],
        "remove": [],
        "schema": json.load(
            open(os.path.join(table.root, "_txn", f"{0:020d}.json"))
        )["schema"],
        "key_cols": ["id"],
    }
    with open(
        os.path.join(table.root, "_txn", f"{head + 1:020d}.json"), "x"
    ) as f:
        json.dump(fake, f)
    # append is order-independent: retries onto head+2
    extra = spark.createDataFrame(
        [(500, "x", 0.0)], "id long, name string, val double"
    )
    v = table.append(extra)
    assert v == head + 2
    # merge is read-dependent: conflict must raise
    with open(
        os.path.join(table.root, "_txn", f"{v + 1:020d}.json"), "x"
    ) as f:
        json.dump(fake | {"version": v + 1}, f)
    with pytest.raises(ConcurrentWriteError):
        # snapshot head is v+1 now; simulate a stale read by lying
        table._commit("merge", [], [], expected_head=v)


def test_vacuum_removes_only_unreferenced(spark, table):
    src = spark.createDataFrame(
        [(3, "three", 0.0)], "id long, name string, val double"
    )
    table.merge(src)
    data_dir = os.path.join(table.root, "data")
    before = set(os.listdir(data_dir))
    removed = table.vacuum(keep_last=1, retention_seconds=0)
    live = {
        os.path.basename(r["path"]) for r in table._live()[0]
    }
    after = set(os.listdir(data_dir))
    assert after == live  # exactly the referenced files survive
    assert {os.path.basename(p) for p in removed} == before - live
    # current snapshot still reads fine
    assert table.snapshot().count() == 100
    # vacuumed old version is gone (documented contract)
    with pytest.raises(Exception):
        table.snapshot(version=1).collect()


def test_vacuum_vs_cdf_readers_on_old_offsets(spark, tmp_path):
    """The r5-verdict interaction probe: an aggressive vacuum sweeps
    change files of unprotected commits, and a CDF reader (or a
    resuming CDF stream — same read path) pointed at a swept offset
    must fail LOUDLY, never return a silently truncated feed. Change
    files of protected commits stay readable."""
    base = spark.createDataFrame(
        [(i, float(i)) for i in range(20)], "id long, val double"
    )
    t = LakeTable.create(
        spark, str(tmp_path / "vc"), base,
        key_cols=["id"], enable_cdf=True,
    )
    t.merge(spark.createDataFrame([(1, 111.0)], "id long, val double"))
    v_old_merge = t.latest_version()
    t.merge(spark.createDataFrame([(2, 222.0)], "id long, val double"))
    v_head = t.latest_version()
    # pre-vacuum: the full feed reads fine
    assert t.read_cdf(0).count() > 0
    removed = t.vacuum(keep_last=1, retention_seconds=0)
    assert any(p.endswith(".cdf.parquet") for p in removed), (
        "expected the old merge's change file to be swept"
    )
    # offsets inside the protected window still work...
    assert {
        r["_change_type"] for r in t.read_cdf(v_head - 1).collect()
    } >= {"update_preimage", "update_postimage"}
    # ...and an old offset fails loudly (v_old_merge's change file
    # and the create commit's add files are both gone)
    with pytest.raises(Exception, match="(?i)path|exist|found"):
        t.read_cdf(0).collect()
    with pytest.raises(Exception, match="(?i)path|exist|found"):
        t.read_cdf(v_old_merge - 1, v_old_merge).collect()


def test_history(spark, table):
    table.append(
        spark.createDataFrame(
            [(900, "y", 0.0)], "id long, name string, val double"
        )
    )
    h = table.history()
    assert [e["operation"] for e in h[:2]] == ["create", "create"]
    assert h[-1]["operation"] == "append"
    assert [e["version"] for e in h] == list(range(len(h)))


def test_compact_one_commit_same_rows(spark, table):
    # several tiny appends -> fragmented table
    for i in range(3):
        table.append(
            spark.createDataFrame(
                [(1000 + 10 * i + j, "z", 0.0) for j in range(3)],
                "id long, name string, val double",
            ).repartition(2)
        )
    before = _rows(table.snapshot())
    n_files_before = len(table._live()[0])
    v = table.compact(target_rows=1_000_000)
    assert v == table.latest_version()
    assert _rows(table.snapshot()) == before
    n_files_after = len(table._live()[0])
    assert n_files_after < n_files_before
    assert table.history()[-1]["operation"] == "compact"
    # idempotent maintenance: second run is a no-op commit-wise
    assert table.compact(target_rows=1_000_000) == v


def test_compact_scoped_by_ranges(spark, tmp_path):
    """OPTIMIZE ... WHERE: a range-scoped pass rewrites only files
    whose key stats intersect the ranges; out-of-scope fragments
    keep their paths."""
    root = str(tmp_path / "sc")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(0, 0.0)], "id long, val double"),
        ["id"],
    )
    # two disjoint key regions, each fragmented into 2 files
    for lo in (100, 900):
        for j in range(2):
            t.append(
                spark.createDataFrame(
                    [(lo + j * 10 + i, 1.0) for i in range(3)],
                    "id long, val double",
                )
            )
    before = {r["path"]: r for r in t._live()[0]}
    high_paths = {
        p
        for p, r in before.items()
        if ((r.get("stats") or {}).get("id") or [0, 0])[0] >= 900
    }
    rows_before = sorted(
        tuple(r) for r in t.snapshot().collect()
    )
    v = t.compact(target_rows=1_000_000, ranges={"id": (0, 500)})
    assert v == t.latest_version()
    after = {r["path"] for r in t._live()[0]}
    # the high-range fragments are untouched, low-range ones merged
    assert high_paths <= after
    assert len(after) < len(before)
    assert sorted(tuple(r) for r in t.snapshot().collect()) == rows_before
    # a scoped pass over an already-compacted range is a no-op
    assert t.compact(target_rows=1_000_000, ranges={"id": (0, 500)}) == v


def test_clustered_append_and_pruned_scan(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float(i)) for i in range(10_000)], "id long, val double"
    ).repartition(8)  # deliberately scrambled
    root = str(tmp_path / "ztbl")
    t = LakeTable.create(
        spark, root, spark.createDataFrame([], "id long, val double"),
        key_cols=["id"],
    )
    t.append(df)
    t.cluster()
    live = t._live()[0]
    assert len(live) > 1
    # clustered files: id ranges are non-overlapping (tight stats)
    ranges = sorted(r["stats"]["id"] for r in live if r["rows"])
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo
    # the log prunes most files for a narrow range...
    paths, total = t.pruned_paths({"id": (100, 120)})
    # a narrow range hits at most one data file per straddled
    # boundary
    assert len(paths) < total and len(paths) <= 2
    # ...and the scan is exactly the filtered snapshot
    got = _rows(t.scan({"id": (100, 120)}))
    want = _rows(t.snapshot().filter("id between 100 and 120"))
    assert got == want and len(got) == 21


def test_restore_rolls_back_as_new_commit(spark, table):
    v_good = table.latest_version()
    before = _rows(table.snapshot())
    table.delete_mor("id < 50")
    table.compact()  # the v_good files leave the live set
    table.append(
        spark.createDataFrame(
            [(9999, "bad", -1.0)], "id long, name string, val double"
        )
    )
    assert _rows(table.snapshot()) != before
    v = table.restore(v_good)
    assert v == table.latest_version()
    assert _rows(table.snapshot()) == before
    # history is append-only: the bad states remain time-travelable
    assert table.snapshot(version=v - 1).filter("id = 9999").count() == 1
    h = table.history()
    assert h[-1]["operation"] == "restore"
    # restore after vacuuming the target must refuse
    table.vacuum(keep_last=1, retention_seconds=0)
    with pytest.raises(FileNotFoundError):
        table.restore(v - 1)


def test_schema_evolution_add_column(spark, table):
    v_before = table.latest_version()
    v = table.add_column("score", "double")
    assert v == table.latest_version()
    # old rows read as NULL under the new schema
    snap = table.snapshot()
    assert "score" in snap.columns
    assert snap.filter("score IS NOT NULL").count() == 0
    # new appends carry the column through merge-by-key too
    table.append(
        spark.createDataFrame(
            [(7777, "s", 0.0, 0.9)],
            "id long, name string, val double, score double",
        )
    )
    got = table.snapshot().filter("id = 7777").first()
    assert got["score"] == 0.9
    assert table.snapshot().count() == 101
    # time travel before the evolution: old schema, no column
    old = table.snapshot(version=v_before)
    assert "score" not in old.columns
    # duplicate add refused
    with pytest.raises(ValueError):
        table.add_column("score", "double")


def test_log_checkpoint_replays_identically(spark, table):
    # build some history
    table.delete_mor("id >= 95")
    table.merge(
        spark.createDataFrame(
            [(1, "one", 11.0)], "id long, name string, val double"
        )
    )
    v_ck = table.checkpoint_log()
    # post-checkpoint tail
    table.append(
        spark.createDataFrame(
            [(800, "tail", 0.0)], "id long, name string, val double"
        )
    )
    full_live, full_head = table._live_full()
    fast_live, fast_head = table._live()
    assert sorted(r["path"] for r in fast_live) == sorted(
        r["path"] for r in full_live
    )
    assert fast_head["schema"] == full_head["schema"]
    # time travel OLDER than the checkpoint falls back to full replay
    old_full, _ = table._live_full(v_ck - 1)
    old_fast, _ = table._live(v_ck - 1)
    assert sorted(r["path"] for r in old_fast) == sorted(
        r["path"] for r in old_full
    )
    # _versions ignores the checkpoint artifact
    assert all(isinstance(v, int) for v in table._versions())


def test_real_concurrent_appends_all_land(spark, table):
    """Eight threads append simultaneously against the same table —
    the O_EXCL version race plus append's retry must land ALL eight
    commits with no lost updates and no duplicate versions."""
    import threading

    head = table.latest_version()
    errors = []

    def writer(i):
        try:
            df = spark.createDataFrame(
                [(10_000 + i, f"t{i}", float(i))],
                "id long, name string, val double",
            )
            table.append(df)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert table.latest_version() == head + 8
    got = table.snapshot().filter("id >= 10000").count()
    assert got == 8
    vs = table._versions()
    assert vs == sorted(set(vs))  # no duplicate/missing versions


def test_vacuum_retention_protects_recent_snapshots(spark, table):
    # a merge rewrites files; the pre-merge snapshot's files are
    # unreferenced by the head but were the head within the window —
    # default-retention vacuum must keep them readable
    v_old = table.latest_version()
    table.merge(
        spark.createDataFrame(
            [(3, "three", 0.0)], "id long, name string, val double"
        )
    )
    removed = table.vacuum(keep_last=1)  # default 7-day retention
    assert removed == []
    assert table.snapshot(version=v_old).count() == 100


def test_vacuum_retention_protects_inflight_staged_files(spark, table):
    # files staged by an in-flight writer sit in data/ unreferenced
    # until its commit lands; a retention-window vacuum must not
    # sweep them (their mtime is younger than the window)
    df = spark.createDataFrame(
        [(7777, "inflight", 1.0)], "id long, name string, val double"
    )
    add = table._stage_files(df)  # writer paused mid-commit
    removed = table.vacuum(keep_last=1, retention_seconds=3600)
    assert not any(rec["path"] in removed for rec in add)
    # the paused writer can still complete its commit
    table._commit("append", add, [], expected_head=None)
    assert table.snapshot().filter("id = 7777").count() == 1


def test_concurrent_appends_with_vacuum_no_lost_data(spark, table):
    """Appenders racing a retention-window vacuum: every committed
    row must survive (the round-4 hazard was vacuum sweeping an
    in-flight writer's staged-but-uncommitted files)."""
    import threading

    errors = []

    def writer(i):
        try:
            df = spark.createDataFrame(
                [(20_000 + i, f"v{i}", float(i))],
                "id long, name string, val double",
            )
            table.append(df)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    def vacuumer():
        try:
            for _ in range(6):
                table.vacuum(keep_last=1, retention_seconds=3600)
        except Exception as e:  # pragma: no cover
            errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(i,)) for i in range(6)
    ] + [threading.Thread(target=vacuumer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert table.snapshot().filter("id >= 20000").count() == 6
    # and the base table is intact
    assert table.snapshot().filter("id < 20000").count() == 100


def _dv_recs(table):
    return [r for r in table._live()[0] if r.get("kind") == "dv"]


def _data_recs(table):
    return [r for r in table._live()[0] if r.get("kind") != "dv"]


def test_delete_mor_no_rewrite_same_result_as_cow(spark, table):
    before_files = {r["path"] for r in _data_recs(table)}
    v = table.delete_mor("id % 10 = 3")
    assert v == table.latest_version()
    # data files untouched — only a DV dataset was added
    assert {r["path"] for r in _data_recs(table)} == before_files
    dvs = _dv_recs(table)
    assert dvs and sum(r["rows"] for r in dvs) == 10
    snap = table.snapshot()
    assert snap.count() == 90
    assert snap.filter("id % 10 = 3").count() == 0
    assert snap.filter("id = 4").count() == 1
    # time travel to the pre-delete snapshot still sees every row
    assert table.snapshot(version=v - 1).count() == 100


def test_delete_mor_accumulates_one_live_dv_dataset(spark, table):
    table.delete_mor("id < 5")
    table.delete_mor("id >= 95")
    snap = table.snapshot()
    assert snap.count() == 90
    assert snap.filter("id < 5 OR id >= 95").count() == 0
    assert sum(r["rows"] for r in _dv_recs(table)) == 10
    # deleting already-deleted rows is a no-op commit, DV kept intact
    v = table.latest_version()
    table.delete_mor("id < 5")
    assert sum(r["rows"] for r in _dv_recs(table)) == 10
    assert table.latest_version() == v + 1  # noop commit still logs


def test_delete_mor_then_merge_does_not_resurrect(spark, table, oracle):
    table.delete_mor("id BETWEEN 10 AND 19")
    src = spark.createDataFrame(
        [(15, "fifteen", 1.5), (200, "new", 2.0)],
        "id long, name string, val double",
    )
    table.merge(src)
    snap = table.snapshot()
    # 100 - 10 deleted + 1 re-inserted via merge + 1 new
    assert snap.count() == 92
    assert snap.filter("id = 15").first().name == "fifteen"
    # the other MOR-deleted ids stayed deleted through the COW rewrite
    assert snap.filter("id BETWEEN 10 AND 19 AND id != 15").count() == 0


def test_delete_mor_then_compact_materializes(spark, table):
    table.delete_mor("id % 2 = 0")
    assert table.snapshot().count() == 50
    table.compact(target_rows=1_000_000)
    assert table.snapshot().count() == 50
    # the compacted files are not covered by any DV anymore: the scan
    # of live data no longer needs the anti-join (covers ∩ live = ∅)
    live_data = {r["path"] for r in _data_recs(table)}
    covered = set()
    for r in _dv_recs(table):
        covered.update(r.get("covers", []))
    assert not (covered & live_data)


def test_delete_mor_survives_schema_evolution(spark, table):
    # DV positions are file-physical; adding a column (metadata-only,
    # null-filled at read) must not disturb them in either order
    table.delete_mor("id < 10")
    table.add_column("tag", "string")
    snap = table.snapshot()
    assert "tag" in snap.columns
    assert snap.count() == 90
    assert snap.filter("id < 10").count() == 0
    assert snap.filter("tag IS NOT NULL").count() == 0
    # and deleting MOR-style under the evolved schema still works
    table.delete_mor("id >= 95")
    assert table.snapshot().count() == 85


def test_compact_deletes_materializes_only_pressured_files(spark, tmp_path):
    # two files with CONTIGUOUS id ranges; deleting id<40 puts file 1
    # at 80% dead (over compact's 10% DV threshold) and the id=99
    # delete puts file 2 at 2% with 49 live rows (not small at
    # target_rows=45): only file 1 is rewritten, file 2's DV row
    # carries forward
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(lo, hi)],
        "id long, name string, val double",
    ).coalesce(1)
    table = LakeTable.create(
        spark, str(tmp_path / "cd"), mk(0, 50), key_cols=["id"]
    )
    table.append(mk(50, 100))
    before = _rows(table.snapshot())
    table.delete_mor("id < 40 OR id = 99")
    files_before = {r["path"]: r["rows"] for r in _data_recs(table)}
    v = table.compact(target_rows=45)
    assert v == table.latest_version()
    assert table.history()[-1]["operation"] == "compact"
    # result identical to the pre-compaction reads
    assert _rows(table.snapshot()) == [
        r for r in before if 40 <= r[0] < 99
    ]
    after = {r["path"]: r["rows"] for r in _data_recs(table)}
    rewritten = set(files_before) - set(after)
    untouched = set(files_before) & set(after)
    assert rewritten  # the pressured files were rewritten
    assert untouched  # lightly-touched files were NOT
    # remaining DV rows only cover still-live files
    covered = set()
    for r in _dv_recs(table):
        covered.update(r.get("covers", []))
    assert covered and covered <= set(after)
    assert sum(r["rows"] for r in _dv_recs(table)) == 1
    # second run: nothing qualifies anymore → no commit
    assert table.compact(target_rows=45) == v


def test_compact_deletes_clears_dv_when_all_materialized(spark, table):
    table.delete_mor("id % 2 = 0")
    assert table.snapshot().count() == 50
    table.compact()
    assert table.snapshot().count() == 50
    assert _dv_recs(table) == []  # every DV row materialized


def test_compact_rewrites_only_dv_pressured_large_file(spark, tmp_path):
    """compact's default rewrite set includes a file that is NOT
    small but has >= 10% of its rows deleted; a clean large file
    stays live and no DV record survives."""
    mk = lambda lo, hi: spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(lo, hi)],
        "id long, name string, val double",
    ).coalesce(1)
    table = LakeTable.create(
        spark, str(tmp_path / "big"), mk(0, 50), key_cols=["id"]
    )
    table.append(mk(50, 100))
    by_lo = sorted(_data_recs(table), key=lambda r: r["stats"]["id"])
    dirty, clean = (r["path"] for r in by_lo)
    table.delete_mor("id < 5")  # exactly 10% of the first file
    before = _rows(table.snapshot())
    v = table.compact(target_rows=40)  # both files hold >= 40 live rows
    assert v == table.latest_version()
    live = {r["path"] for r in _data_recs(table)}
    assert dirty not in live and clean in live
    assert _dv_recs(table) == []
    assert _rows(table.snapshot()) == before


def test_delete_mor_datasource_and_lookup_and_scan(spark, table):
    table.delete_mor("id % 5 = 0")
    # an independent reader applies the same deletion vectors
    ds = duckdb_snapshot(table)
    assert len(ds) == 80
    assert not [r for r in ds if r[0] % 5 == 0]
    assert ds == sorted(map(tuple, table.snapshot().collect()), key=repr)
    # stats-pruned scan applies the DV too
    got = table.scan({"id": (0, 20)})
    assert got.filter("id % 5 = 0").count() == 0
    assert got.count() == 21 - 5


def test_delete_mor_restore_and_vacuum(spark, table):
    v0 = table.latest_version()
    table.delete_mor("id < 50")
    assert table.snapshot().count() == 50
    # restore to the pre-delete version un-deletes (metadata only)
    table.restore(v0)
    assert table.snapshot().count() == 100
    # go forward again and vacuum: the DV dataset is referenced by
    # the head after a fresh MOR delete, so it must survive
    table.delete_mor("id < 50")
    removed = table.vacuum(keep_last=1, retention_seconds=0)
    assert table.snapshot().count() == 50
    # the live DV dataset was never swept
    live_dv_paths = {r["path"] for r in _dv_recs(table)}
    assert not (live_dv_paths & set(removed))
    import os as _os

    for p in live_dv_paths:
        assert _os.path.exists(_os.path.join(table.root, p))


def test_delete_mor_streaming_source_skips_dv_commits(spark, table, tmp_path):
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    table.delete_mor("id < 90")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("lake")
        .option("path", table.root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # the stream emits the APPEND history (100 original rows); the
    # delete_mor commit itself contributes no rows
    assert got.count() == 100


def test_table_changes_across_mixed_commits(spark, table):
    v0 = table.latest_version()
    # one of everything: update, insert, two deletes
    table.merge(
        spark.createDataFrame(
            [(5, "FIVE", 55.0), (300, "new", 3.0)],
            "id long, name string, val double",
        )
    )
    table.delete_mor("id = 7")
    table.delete_mor("id = 8")
    cdf = table.table_changes(v0).collect()
    by_type = {}
    for r in cdf:
        by_type.setdefault(r["_change_type"], set()).add(r["id"])
    assert by_type["insert"] == {300}
    assert by_type["delete"] == {7, 8}
    assert by_type["update_preimage"] == {5}
    assert by_type["update_postimage"] == {5}
    pre = [r for r in cdf if r["_change_type"] == "update_preimage"][0]
    post = [r for r in cdf if r["_change_type"] == "update_postimage"][0]
    assert pre["name"] == "name5" and post["name"] == "FIVE"
    # no-change window → empty feed
    assert table.table_changes(table.latest_version()).count() == 0
    # bounded window: only the merge, not the later deletes
    mid = table.table_changes(v0, v0 + 1)
    assert {r["_change_type"] for r in mid.collect()} == {
        "insert", "update_preimage", "update_postimage",
    }


@pytest.fixture()
def cdf_table(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(100)],
        "id long, name string, val double",
    ).repartition(4, "id")
    root = str(tmp_path / "cdftbl")
    return LakeTable.create(
        spark, root, base, key_cols=["id"], enable_cdf=True
    )


def test_cdf_per_commit_attribution(spark, cdf_table):
    t = cdf_table
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame(
            [(5, "FIVE", 55.0), (300, "new", 3.0)],
            "id long, name string, val double",
        )
    )
    v_merge = t.latest_version()
    t.append(
        spark.createDataFrame(
            [(400, "app", 4.0)], "id long, name string, val double"
        )
    )
    v_append = t.latest_version()
    t.delete_mor("id = 7")
    v_del = t.latest_version()
    t.delete_mor("id = 8")
    v_mor = t.latest_version()
    cdf = t.read_cdf(v0).collect()
    by_commit = {}
    for r in cdf:
        by_commit.setdefault(r["_commit_version"], []).append(r)
    # merge commit: pre+post for 5, insert for 300
    m = {(r["_change_type"], r["id"]) for r in by_commit[v_merge]}
    assert m == {
        ("update_preimage", 5),
        ("update_postimage", 5),
        ("insert", 300),
    }
    pre = [r for r in by_commit[v_merge] if r["_change_type"] == "update_preimage"][0]
    assert pre["name"] == "name5"  # the pre-image carries OLD values
    # append commit: derived inserts, no change file written
    a = {(r["_change_type"], r["id"]) for r in by_commit[v_append]}
    assert a == {("insert", 400)}
    import json as _json

    from lcmap_firebird_spark.lakehouse import _entry_path

    with open(_entry_path(t.root, v_append)) as f:
        assert "cdf" not in _json.load(f)
    # each delete commit records its own delete rows
    assert {(r["_change_type"], r["id"]) for r in by_commit[v_del]} == {
        ("delete", 7)
    }
    assert {(r["_change_type"], r["id"]) for r in by_commit[v_mor]} == {
        ("delete", 8)
    }
    # bounded window
    assert {r["_commit_version"] for r in t.read_cdf(v0, v_merge).collect()} == {
        v_merge
    }
    # empty window
    assert t.read_cdf(t.latest_version()).count() == 0


def test_cdf_apply_changes_and_disabled_table(spark, cdf_table, table):
    t = cdf_table
    v0 = t.latest_version()
    t.apply_changes(
        spark.createDataFrame(
            [
                (5, "V", 5.5, "upsert"),     # matched upsert
                (500, "I", 1.0, "upsert"),   # insert
                (7, None, None, "delete"),   # matched delete
                (999, None, None, "delete"), # unmatched delete: no-op
            ],
            "id long, name string, val double, _op string",
        )
    )
    got = {
        (r["_change_type"], r["id"]) for r in t.read_cdf(v0).collect()
    }
    assert got == {
        ("update_preimage", 5),
        ("update_postimage", 5),
        ("insert", 500),
        ("delete", 7),
    }
    # CDF replay reconstructs the table: apply inserts/post-images,
    # drop deletes/pre-images over the v0 snapshot
    with pytest.raises(ValueError, match="enable_cdf"):
        table.read_cdf(0)


def test_merge_equals_all_upsert_apply_changes(spark, tmp_path):
    """merge(src) and apply_changes(src tagged _op='upsert') are one
    rewrite: on twin CDF + identity tables they leave equal snapshots,
    equal change feeds (batch and stream) and equal add/remove counts
    per commit. The source mixes matched keys, new keys and a key a
    delete_mor removed earlier (it inserts; its old row and the other
    MOR-deleted row in the rewritten file stay gone)."""
    schema = "id long, name string, val double"
    src = spark.createDataFrame(
        [(3, "THREE", -3.0), (5, "FIVE", -5.0), (7, "SEVEN", -7.0),
         (100, "new", 1.0), (101, "new", 2.0)],
        schema,
    )
    tables = []
    for name in ("m", "a"):
        t = LakeTable.create(
            spark, str(tmp_path / name),
            spark.createDataFrame(
                [(i, f"name{i}", float(i)) for i in range(10)], schema
            ).repartition(1),
            key_cols=["id"], enable_cdf=True, identity="rid",
        )
        t.append(spark.createDataFrame(
            [(i, f"name{i}", float(i)) for i in range(10, 20)], schema
        ).repartition(1))
        t.delete_mor("id IN (3, 4)")
        tables.append(t)
    m, a = tables
    vm = m.merge(src)
    va = a.apply_changes(src.withColumn("_op", F.lit("upsert")))
    assert vm == va
    assert [e["operation"] for e in m._entries()][-1] == "merge"
    assert [e["operation"] for e in a._entries()][-1] == "apply_changes"

    snap = _rows(m.snapshot())
    assert snap == _rows(a.snapshot())
    by_id = {r[0]: r for r in snap}
    assert 4 not in by_id and by_id[3][1] == "THREE"
    assert len(by_id) == 21

    assert _rows(m.read_cdf(0).drop("_commit_version")) == _rows(
        a.read_cdf(0).drop("_commit_version")
    )
    last = {
        (r["_change_type"], r["id"])
        for r in m.read_cdf(vm - 1).collect()
    }
    assert last == {
        ("insert", 3), ("insert", 100), ("insert", 101),
        ("update_preimage", 5), ("update_postimage", 5),
        ("update_preimage", 7), ("update_postimage", 7),
    }
    assert _rows(stream_cdf(spark, m.root, str(tmp_path / "sm"))) == _rows(
        stream_cdf(spark, a.root, str(tmp_path / "sa"))
    )

    def counts(t):
        return [(len(e["add"]), len(e["remove"])) for e in t._entries()]

    assert counts(m) == counts(a)


def test_cdf_files_survive_vacuum_and_restore_diff(spark, cdf_table):
    t = cdf_table
    v0 = t.latest_version()
    t.delete_mor("id < 10")
    t.compact()  # the deleted rows' files leave the live set
    t.vacuum(keep_last=1)  # default retention protects the window
    assert {r["id"] for r in t.read_cdf(v0).collect()} == set(range(10))
    # restore emits a snapshot-diff (the un-delete reappears)
    t.restore(v0)
    changes = t.read_cdf(v0)
    restored = changes.filter("_change_type = 'insert'")
    assert restored.filter("id < 10").count() == 10


def test_cdf_batch_datasource_versioned_read(spark, cdf_table, tmp_path):
    t = cdf_table
    v0 = t.latest_version()
    t.merge(
        spark.createDataFrame(
            [(5, "FIVE", 55.0)], "id long, name string, val double"
        )
    )
    df = stream_cdf(spark, t.root, str(tmp_path / "cdf"), start=v0)
    got = {(r["_change_type"], r["id"]) for r in df.collect()}
    assert got == {("update_preimage", 5), ("update_postimage", 5)}
    # equals the API surface
    api = {
        (r["_change_type"], r["id"]) for r in t.read_cdf(v0).collect()
    }
    assert got == api


def test_cdf_streaming_source_tails_changes(spark, cdf_table, tmp_path):
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    t = cdf_table
    t.merge(
        spark.createDataFrame(
            [(5, "FIVE", 55.0), (300, "new", 3.0)],
            "id long, name string, val double",
        )
    )
    t.delete_mor("id = 8")
    out = str(tmp_path / "cdfout")
    ckpt = str(tmp_path / "cdfckpt")

    def run():
        q = (
            spark.readStream.format("lake")
            .option("path", t.root)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run()
    got = spark.read.parquet(out)
    # create's 100 rows arrive as derived inserts; the merge commit's
    # pre/post/insert and the MOR delete's change rows follow, each
    # stamped with its commit version
    assert got.filter("_change_type = 'insert' AND id < 100").count() == 100
    m = {
        (r["_change_type"], r["id"])
        for r in got.filter("id IN (5, 300, 8)").collect()
    }
    assert ("update_preimage", 5) in m
    assert ("update_postimage", 5) in m
    assert ("insert", 300) in m
    assert ("delete", 8) in m
    n_before = got.count()
    # exactly-once: tail only the NEW commit on resume
    t.append(
        spark.createDataFrame(
            [(700, "tail", 7.0)], "id long, name string, val double"
        )
    )
    run()
    got2 = spark.read.parquet(out)
    assert got2.count() == n_before + 1
    new = got2.filter("id = 700").first()
    assert new["_change_type"] == "insert"
    assert new["_commit_version"] == t.latest_version()


def test_apply_changes_mixed_batch_atomic(spark, table):
    changes = spark.createDataFrame(
        [
            (5, "FIVE", 55.0, "upsert"),     # update existing
            (300, "new", 3.0, "upsert"),     # insert
            (7, None, None, "delete"),       # delete existing
            (999, None, None, "delete"),     # delete absent: no-op
        ],
        "id long, name string, val double, _op string",
    )
    v0 = table.latest_version()
    v = table.apply_changes(changes)
    assert v == v0 + 1  # ONE commit for the whole batch
    snap = table.snapshot()
    assert snap.count() == 100  # 100 - 1 deleted + 1 inserted
    assert snap.filter("id = 5").first().val == 55.0
    assert snap.filter("id = 7").count() == 0
    assert snap.filter("id = 300").first().name == "new"
    # duplicate keys in one batch rejected
    bad = spark.createDataFrame(
        [(1, "a", 0.0, "upsert"), (1, None, None, "delete")],
        "id long, name string, val double, _op string",
    )
    with pytest.raises(ValueError):
        table.apply_changes(bad)


def test_fused_preflight_edges(spark, table):
    """r12 optimization regression: merge/apply_changes fold their
    dup-guard, op-validity guard, and the stats-prune key ranges into
    ONE source aggregation. Pin the edges the fusion must preserve:
    (a) dup refusal takes precedence over bad-op refusal when a batch
    has both; (b) an empty merge source commits cleanly and rewrites
    nothing; (c) a source whose key column is entirely NULL behaves
    like today's 'nothing can match' path (rows append, no rewrite)."""
    both_bad = spark.createDataFrame(
        [(1, "a", 0.0, "bogus"), (1, "b", 0.0, "bogus")],
        "id long, name string, val double, _op string",
    )
    with pytest.raises(ValueError, match="duplicate keys"):
        table.apply_changes(both_bad)

    v0 = table.latest_version()
    empty = spark.createDataFrame(
        [], "id long, name string, val double"
    )
    v = table.merge(empty)
    assert v == v0 + 1
    with open(os.path.join(table.root, "_txn", f"{v:020d}.json")) as f:
        entry = json.load(f)
    assert entry["remove"] == []
    assert table.snapshot().count() == 100

    null_keys = spark.createDataFrame(
        [(None, "nk", -1.0)], "id long, name string, val double"
    )
    v2 = table.merge(null_keys)
    with open(os.path.join(table.root, "_txn", f"{v2:020d}.json")) as f:
        entry2 = json.load(f)
    assert entry2["remove"] == []  # NULL keys match nothing
    assert table.snapshot().filter("id is null").count() == 1


def test_apply_changes_rejects_bad_op_values(spark, table):
    # regression (round-4 ADVICE): every change key lands in the
    # anti-join but only _op != 'delete' rows re-insert, so a NULL or
    # misspelled _op silently DELETED its matched target row. Now it
    # must error before any commit, leaving the table untouched.
    v0 = table.latest_version()
    for bad_op in ("delte", None, "DELETE"):
        changes = spark.createDataFrame(
            [(5, "x", 1.0, bad_op)],
            "id long, name string, val double, _op string",
        )
        with pytest.raises(ValueError, match="invalid _op"):
            table.apply_changes(changes)
    assert table.latest_version() == v0
    assert table.snapshot().filter("id = 5").count() == 1


def test_append_retry_carries_concurrent_schema_evolution(spark, table):
    # regression (round-4 ADVICE): an append that loses the O_EXCL
    # race to a concurrent add_column used to retry with the schema
    # it read BEFORE the race and commit it as the new head —
    # silently reverting schema evolution. Simulate the interleaving
    # exactly: the concurrent evolution lands between the appender's
    # head read and its entry create.
    other = LakeTable(spark, table.root)  # the concurrent writer
    orig = table.latest_version
    state = {"fired": False}

    def racy_latest_version():
        if not state["fired"]:
            state["fired"] = True
            stale = orig()
            other.add_column("tag", "string")  # lands "now"
            return stale
        return orig()

    table.latest_version = racy_latest_version
    try:
        extra = spark.createDataFrame(
            [(500, "n500", 1.0)], "id long, name string, val double"
        )
        v = table.append(extra)
    finally:
        del table.latest_version
    assert state["fired"]  # the race actually happened
    from lcmap_firebird_spark.lakehouse import _entry_path

    with open(_entry_path(table.root, v)) as f:
        head_entry = json.load(f)
    assert "tag" in head_entry["schema"], (
        "append retry committed a pre-evolution schema as the head"
    )
    # readers after the append still see the evolved column
    assert "tag" in table.snapshot().columns


def test_lake_datasource_reads_snapshot_and_versions(spark, table):
    assert duckdb_snapshot(table) == sorted(_rows(table.snapshot()), key=repr)
    # time travel: the log replay at an old version agrees too
    v1 = sorted(_rows(table.snapshot(version=1)), key=repr)
    table.append(
        spark.createDataFrame(
            [(7000, "x", 0.0)], "id long, name string, val double"
        )
    )
    assert duckdb_snapshot(table, version=1) == v1
    assert len(duckdb_snapshot(table)) == len(v1) + 1


def test_lake_datasource_null_fills_evolved_column(spark, table):
    table.add_column("extra", "double")
    assert table.snapshot().columns[-1] == "extra"
    rows = duckdb_snapshot(table)
    # files written before the evolution read as NULL
    assert len(rows) == 100
    assert all(r[-1] is None for r in rows)


def test_timestamp_time_travel(spark, table):
    import time as _time

    _time.sleep(0.02)
    table.append(
        spark.createDataFrame(
            [(500, "late", 5.0)], "id long, name string, val double"
        )
    )
    entries = table._entries()
    ts = [e["ts"] for e in entries]
    assert ts == sorted(ts) and all(isinstance(t, float) for t in ts)
    # midpoint between the create commit and the append resolves to
    # the pre-append version
    mid = (ts[1] + ts[2]) / 2
    v = table.version_at(mid)
    assert v == 1
    assert table.snapshot(as_of=mid).count() == 100
    # "now" resolves to the head; prehistory raises
    assert table.version_at(_time.time() + 1) == table.latest_version()
    with pytest.raises(ValueError):
        table.version_at(ts[0] - 10.0)
    with pytest.raises(ValueError):
        table.snapshot(version=1, as_of=mid)


def test_version_at_monotone_under_clock_step(spark, table, monkeypatch):
    """A backwards wall-clock step between commits cannot produce an
    out-of-order log: _commit clamps each stored ts to >= its
    predecessor's, so version_at's backward tail scan stays exact."""
    import lcmap_firebird_spark.lakehouse as lh

    real_time = lh.time.time
    # next commit sees a clock 1h in the past
    monkeypatch.setattr(
        lh.time, "time", lambda: real_time() - 3600.0
    )
    table.append(
        spark.createDataFrame(
            [(501, "a", 1.0)], "id long, name string, val double"
        )
    )
    monkeypatch.setattr(lh.time, "time", real_time)
    table.append(
        spark.createDataFrame(
            [(502, "b", 2.0)], "id long, name string, val double"
        )
    )
    ts = [e["ts"] for e in table._entries()]
    assert ts == sorted(ts)  # the backwards step was clamped away
    # the clamped commit resolves at its STORED (monotone) time: a
    # timestamp between it and the next real commit returns it
    mid = (ts[2] + ts[3]) / 2
    assert table.version_at(mid) == 2
    assert table.snapshot(as_of=mid).count() == 101
    assert table.version_at(ts[3]) == 3
    assert table.snapshot(as_of=ts[3]).count() == 102
    with pytest.raises(ValueError):
        table.version_at(ts[0] - 10.0)


def test_compact_sizes_by_live_rows(spark, table):
    # table fixture: 100 rows across 4 files (~25 rows each, all
    # physically < target below). Make one MORE file that is
    # physically huge but almost fully deleted via a DV.
    table.append(
        spark.createDataFrame(
            [(10_000 + i, "bulk", 0.0) for i in range(5000)],
            "id long, name string, val double",
        ).coalesce(1)
    )
    table.delete_mor("id >= 10100")  # 4900 of 5000 dead
    before = _rows(table.snapshot())
    assert len(before) == 200
    # target sits between the big file's live count (100) and its
    # physical count (5000): only live-row sizing compacts it
    v = table.compact(target_rows=1000)
    assert v == table.latest_version()
    assert table.history()[-1]["operation"] == "compact"
    assert _rows(table.snapshot()) == before
    data, _dvs = table._split_live(table._live()[0])
    # every pre-existing data file (incl. the mostly-deleted bulk
    # file) was rewritten into a single live-sized output
    assert [r["rows"] for r in data if r["rows"]] == [200]


def test_cluster_rewrites_live_set(spark, tmp_path):
    root = str(tmp_path / "ctbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, float(i % 7)) for i in range(0, 4000, 2)],
            "id long, val double",
        ).repartition(5),  # scrambled: every file spans ~the full id range
        key_cols=["id"],
    )
    t.append(
        spark.createDataFrame(
            [(i, float(i % 7)) for i in range(1, 4000, 2)],
            "id long, val double",
        ).repartition(5)
    )
    t.delete_mor("id % 100 = 0")
    before = _rows(t.snapshot())
    v = t.cluster()
    assert v == t.latest_version()
    assert t.history()[-1]["operation"] == "cluster"
    assert _rows(t.snapshot()) == before
    data, dvs = t._split_live(t._live()[0])
    # deletes were materialized: no DV survives the rewrite
    assert dvs == []
    # rewritten files cover disjoint id ranges (tight stats) ...
    ranges = sorted(r["stats"]["id"] for r in data if r["rows"])
    for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo
    # ... so a narrow range now prunes to a couple of files
    paths, total = t.pruned_paths({"id": (200, 220)})
    assert len(paths) <= 2 < total
    got = _rows(t.scan({"id": (200, 220)}))
    assert got == _rows(t.snapshot().filter("id between 200 and 220"))


def test_cluster_on_non_key_column_records_stats(spark, tmp_path):
    root = str(tmp_path / "ctbl2")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, float((i * 37) % 1000)) for i in range(4000)],
            "id long, val double",
        ).repartition(6),
        key_cols=["id"],
    )
    t.cluster(cluster_by=["val"])
    data, _ = t._split_live(t._live()[0])
    ranges = sorted(
        r["stats"]["val"] for r in data if r["rows"] and r["stats"].get("val")
    )
    assert ranges, "cluster() must record stats for its cluster column"
    for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo
    paths, total = t.pruned_paths({"val": (10.0, 20.0)})
    assert len(paths) < total
    got = _rows(t.scan({"val": (10.0, 20.0)}))
    assert got == _rows(t.snapshot().filter("val between 10.0 and 20.0"))


def test_delete_null_predicate_rows_survive(spark, tmp_path):
    """SQL DELETE semantics: rows where the predicate is NULL are
    NOT deleted (NOT(NULL) is NULL — a bare complement filter would
    silently drop them with no change recorded anywhere)."""
    root = str(tmp_path / "ntbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, None), (2, 10.0), (3, 2.0)], "id long, val double"
        ).coalesce(1),
        key_cols=["id"],
    )
    t.delete_mor("val > 5")
    assert _rows(t.snapshot()) == [(1, None), (3, 2.0)]
    # a trailing `--` comment in the predicate is fine: it cannot
    # swallow anything the delete composes around it
    t.append(spark.createDataFrame([(4, 9.0)], "id long, val double"))
    t.delete_mor("val > 5 -- drop the big one")
    assert _rows(t.snapshot()) == [(1, None), (3, 2.0)]


def test_cdf_and_table_changes_span_schema_evolution(spark, tmp_path):
    root = str(tmp_path / "etbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a")], "id long, name string"),
        key_cols=["id"],
        enable_cdf=True,
    )
    t.append(spark.createDataFrame([(2, "b")], "id long, name string"))
    v_pre = t.latest_version()
    t.add_column("x", "int")
    t.append(
        spark.createDataFrame([(3, "c", 7)], "id long, name string, x int")
    )
    # read_cdf across the evolution: old-schema parts null-fill up
    # to the final schema instead of crashing the union
    cdf = t.read_cdf(0)
    assert cdf.columns == ["id", "name", "x", "_change_type", "_commit_version"]
    got = sorted(
        (r["id"], r["x"], r["_change_type"]) for r in cdf.collect()
    )
    assert got == [(1, None, "insert"), (2, None, "insert"), (3, 7, "insert")]
    # table_changes across the evolution: the old snapshot is
    # null-filled, so the post-evolution insert registers cleanly
    tc = t.table_changes(v_pre)
    assert sorted((r["id"], r["x"], r["_change_type"]) for r in tc.collect()) == [
        (3, 7, "insert")
    ]


def test_cluster_on_string_keys_lexicographic(spark, tmp_path):
    """Multi-column clustering on non-numeric keys falls back to
    lexicographic range clustering instead of crashing on str-str
    span arithmetic."""
    root = str(tmp_path / "stbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(f"u{i:04d}", f"g{i % 3}", float(i)) for i in range(3000)],
            "url string, lang string, val double",
        ).repartition(5),
        key_cols=["url", "lang"],
    )
    before = _rows(t.snapshot())
    v = t.cluster()
    assert v == t.latest_version()
    assert _rows(t.snapshot()) == before
    data, _ = t._split_live(t._live()[0])
    ranges = sorted(r["stats"]["url"] for r in data if r["rows"])
    assert len(ranges) > 1
    for (_, a_hi), (b_lo, _) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo


def test_describe_detail_metadata_only(spark, table):
    d0 = table.describe_detail()
    assert d0["physical_rows"] == d0["live_rows"] == 100
    assert d0["num_dv_files"] == 0 and d0["deleted_rows"] == 0
    assert d0["key_cols"] == ["id"] and d0["cdf_enabled"] is False
    assert d0["bytes"] > 0 and d0["num_data_files"] >= 1
    table.delete_mor("id < 30")
    d1 = table.describe_detail()
    assert d1["physical_rows"] == 100
    assert d1["deleted_rows"] == 30 and d1["live_rows"] == 70
    assert d1["num_dv_files"] >= 1
    assert d1["version"] == table.latest_version()
    # compaction materializes: metrics collapse back to live-only
    table.compact(target_rows=1_000_000)
    d2 = table.describe_detail()
    assert d2["physical_rows"] == d2["live_rows"] == 70
    # history rows carry their commit timestamps
    h = table.history()
    assert [e["operation"] for e in h][-1] == "compact"
    assert all(e["ts"] is not None for e in h)


def test_append_conforms_to_table_schema(spark, table):
    # unknown column: rejected up front, not committed as a file
    # readers would silently null-fill away
    with pytest.raises(ValueError):
        table.append(
            spark.createDataFrame(
                [(700, "x", 1.0, 9)],
                "id long, name string, val double, extra int",
            )
        )
    # wrong-typed column is cast at the boundary, so the committed
    # parquet stays readable by every scan
    table.append(
        spark.createDataFrame(
            [("701", "y", "2.5")], "id string, name string, val string"
        )
    )
    got = table.snapshot().filter("id = 701").collect()
    assert got[0]["val"] == 2.5
    assert dict(table.snapshot().dtypes)["val"] == "double"


def test_table_changes_with_duplicate_keys_multiset_diff(spark, tmp_path):
    root = str(tmp_path / "duptbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a")], "k long, v string"),
        key_cols=["k"],
    )
    v1 = t.latest_version()
    # duplicate key lands legally via append
    t.append(spark.createDataFrame([(1, "b"), (2, "c")], "k long, v string"))
    tc = t.table_changes(v1)
    got = sorted((r["k"], r["v"], r["_change_type"]) for r in tc.collect())
    # exact multiset diff: two inserts, no phantom update pair for
    # k=1 and no spurious delete of the original row
    assert got == [(1, "b", "insert"), (2, "c", "insert")]
    # removing one of the two k=1 rows shows as exactly one delete
    v2 = t.latest_version()
    t.delete_mor("v = 'b'")
    tc2 = t.table_changes(v2)
    assert sorted(
        (r["k"], r["v"], r["_change_type"]) for r in tc2.collect()
    ) == [(1, "b", "delete")]


def test_restore_detects_concurrent_vacuum_sweep(spark, table, monkeypatch):
    """A vacuum racing a restore can sweep the resurrected files
    between restore's precheck and its commit: the post-commit
    verification must roll the table forward to its pre-restore
    state and raise, never leave a head referencing deleted files."""
    v1 = table.latest_version()
    table.delete_mor("id >= 50")
    table.compact()  # the v1 files leave the live set
    pre = _rows(table.snapshot())
    head = table.latest_version()
    # the v1 files the restore will resurrect (not in current live)
    cur = {r["path"] for r in table._live(head)[0]}
    resurrected = [
        r["path"] for r in table._live(v1)[0] if r["path"] not in cur
    ]
    assert resurrected
    orig_commit = LakeTable._commit
    state = {"fired": False}

    def commit_hook(self, operation, add, remove, expected_head, extra=None):
        v = orig_commit(self, operation, add, remove, expected_head, extra)
        if operation == "restore" and not state["fired"]:
            state["fired"] = True  # simulate the vacuum sweep window
            os.remove(os.path.join(self.root, resurrected[0]))
        return v

    monkeypatch.setattr(LakeTable, "_commit", commit_hook)
    with pytest.raises(FileNotFoundError, match="rolled forward"):
        table.restore(v1)
    monkeypatch.undo()
    # the head is the compensating commit: pre-restore state, readable
    assert _rows(table.snapshot()) == pre
    assert table.history()[-1]["operation"] == "restore"


def test_cdf_stream_startingversion_resumes_past_restore(spark, tmp_path):
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    try:
        spark.dataSource.register(LakeDataSource)
    except Exception:
        pass
    root = str(tmp_path / "cdfres")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 1.0)], "k long, v double"),
        key_cols=["k"],
        enable_cdf=True,
    )
    t.append(spark.createDataFrame([(2, 2.0)], "k long, v double"))
    v_pre = t.latest_version()
    t.restore(v_pre - 1)  # non-streamable commit
    t.append(spark.createDataFrame([(3, 3.0)], "k long, v double"))

    def drain(ckpt, out, start=None):
        r = (
            spark.readStream.format("lake")
            .option("path", root)
            .option("readChangeFeed", "true")
        )
        if start is not None:
            r = r.option("startingVersion", start)
        q = (
            r.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return spark.read.schema(
            "k long, v double, _change_type string, _commit_version long"
        ).parquet(out)

    # from history start the range spans the restore: fail fast
    with pytest.raises(Exception, match="restore"):
        drain(str(tmp_path / "c0"), str(tmp_path / "o0"))
    # startingVersion just past the restore resumes the feed
    out = drain(
        str(tmp_path / "c1"), str(tmp_path / "o1"), start=v_pre + 1
    )
    rows = sorted(
        (r["k"], r["_change_type"], r["_commit_version"])
        for r in out.collect()
    )
    assert rows == [(3, "insert", v_pre + 2)]


def test_incremental_cluster(spark, tmp_path):
    """cluster(incremental=True) rewrites only files not already
    stamped clustered on the same columns: the clustered bulk keeps
    its paths, new appends re-cluster at their own cost, a second
    incremental pass is a no-op commit-wise, and pruning still
    bites across both clustered generations."""
    from pyspark.sql import functions as F

    base = spark.createDataFrame(
        [(i, float(i)) for i in range(400)], "id long, val double"
    ).repartition(4)
    t = LakeTable.create(spark, str(tmp_path / "ic"), base, key_cols=["id"])
    t.cluster(["id"])  # full pass stamps everything
    clustered_paths = {
        r["path"]
        for r in t._live()[0]
        if r.get("clustered_by") == ["id"]
    }
    assert clustered_paths
    t.append(
        spark.createDataFrame(
            [(1000 + i, 1.0) for i in range(100)], "id long, val double"
        ).repartition(3)
    )
    v = t.cluster(["id"], incremental=True)
    live = t._live()[0]
    # the original clustered generation was NOT rewritten
    assert clustered_paths <= {r["path"] for r in live}
    # every live data file is now stamped
    assert all(
        r.get("clustered_by") == ["id"]
        for r in live
        if r.get("kind") != "dv"
    )
    assert t.snapshot().count() == 500
    # already-clustered table: incremental pass is a no-op (no commit)
    assert t.cluster(["id"], incremental=True) == v
    # pruning works across both generations
    paths, total = t.pruned_paths({"id": (1000, 1009)})
    assert 0 < len(paths) < total
    assert t.scan({"id": (1000, 1009)}).count() == 10
    # one incremental pass stamps a fresh append -> no-op again after
    t.append(spark.createDataFrame([(2000, 2.0)], "id long, val double"))
    v2 = t.cluster(["id"], incremental=True)
    assert v2 > v
    assert t.cluster(["id"], incremental=True) == v2
    # MOR deletes on an unstamped append materialize incrementally
    t.append(spark.createDataFrame([(3000, 3.0), (3001, 3.0)],
                                   "id long, val double"))
    t.delete_mor("id = 3000")
    t.cluster(["id"], incremental=True)
    snap = t.snapshot()
    assert snap.filter("id = 3000").count() == 0
    assert snap.count() == 502


def test_history_operation_metrics(spark, table):
    """history() carries row/byte totals per commit from the add
    records' footer stats (Delta's operationMetrics posture)."""
    table.append(
        spark.createDataFrame(
            [(500, "x", 1.0)], "id long, name string, val double"
        )
    )
    h = table.history()
    assert h[1]["operation"] == "create"
    assert h[1]["rows_added"] == 100 and h[1]["bytes_added"] > 0
    assert h[-1]["operation"] == "append"
    assert h[-1]["rows_added"] == 1
    # metadata-only commits add zero rows
    table.add_column("extra", "string")
    assert table.history()[-1]["rows_added"] == 0


def test_clone_inherits_cdf_and_streams_changes(spark, tmp_path):
    """r9 (r8 VERDICT #2): a clone of a CDF table inherits the
    cdf_enabled PROPERTY (Delta's property inheritance; history still
    never transfers — the clone's feed starts at ITS create). The
    clone-commit's referenced files derive as inserts on every feed
    with the transferred deletion vectors APPLIED, so a MOR-deleted
    source row never appears as a clone insert: batch read_cdf and
    the STREAMING CDF source agree, and per-window replay closure
    holds from version 0."""
    from pyspark.sql import functions as F

    src_root = str(tmp_path / "cdfsrc")
    t = LakeTable.create(
        spark,
        src_root,
        spark.createDataFrame(
            [(i, f"v{i}") for i in range(1, 7)], "id long, val string"
        ),
        key_cols=["id"],
        enable_cdf=True,
    )
    t.delete_mor("id <= 2")  # DVs transfer to the clone by reference
    c = t.clone(str(tmp_path / "cdfclone"))
    assert c._cdf_enabled()
    c.append(spark.createDataFrame([(99, "new")], "id long, val string"))

    def _inserts(df):
        return sorted(
            (r["id"], r["val"], r["_commit_version"])
            for r in df.filter(F.col("_change_type") == "insert").collect()
        )

    want = [(3, "v3", 1), (4, "v4", 1), (5, "v5", 1), (6, "v6", 1), (99, "new", 2)]
    assert _inserts(c.read_cdf(0)) == want
    assert _inserts(stream_cdf(spark, c.root, str(tmp_path / "cdf"))) == want

    # replay closure from the clone's empty v0 through both commits
    snap = sorted((r["id"], r["val"]) for r in c.snapshot().collect())
    assert snap == [(3, "v3"), (4, "v4"), (5, "v5"), (6, "v6"), (99, "new")]
    # mutating the clone never wrote a change file into the source
    assert t.read_cdf(1).filter(F.col("id") == 99).count() == 0


def test_stats_cols_prune_from_birth(spark, tmp_path):
    """A declared stats column lands in every commit's per-file
    stats: file pruning on it works without any retroactive
    cluster() pass."""
    base = spark.createDataFrame(
        [(i, float(i), i // 10) for i in range(100)],
        "id long, val double, bucket int",
    ).repartition(4, "id")
    t = LakeTable.create(
        spark, str(tmp_path / "sc"), base, key_cols=["id"],
        stats_cols=["bucket"],
    )
    # files were written partitioned by id, so bucket ranges per file
    # are real; every commit records bucket stats
    live = [r for r in t._live()[0] if r.get("kind") != "dv"]
    assert all("bucket" in (r.get("stats") or {}) for r in live)
    paths, total = t.pruned_paths({"bucket": (0, 0)})
    assert 0 < len(paths) <= total
    got = t.scan({"bucket": (2, 2)})
    assert got.count() == 10
    assert _rows(got.select("id")) == [(i,) for i in range(20, 30)]


def test_stats_cols_survive_checkpoint_and_writer(spark, tmp_path):
    """Table-level stats columns flow through checkpoints, into the
    per-file stats of a later append, and through a clone."""
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
    assert len(paths) == 1
    assert t.scan({"score": (99.0, 99.0)}).count() == 1
    # a clone's own appends record the stats column too
    c = t.clone(str(tmp_path / "st_clone"))
    c.append(spark.createDataFrame([(200, 70.0)], "id long, score double"))
    own = [r for r in c._live()[0] if not os.path.isabs(r["path"])]
    assert own and all("score" in (r.get("stats") or {}) for r in own)
    paths, total = c.pruned_paths({"score": (70.0, 70.0)})
    assert len(paths) == 1
    assert c.scan({"score": (70.0, 70.0)}).count() == 1


def test_one_row_append_adds_one_live_file(spark, tmp_path):
    """A write's zero-row parts never become live files: a table
    created from an empty frame has no data file and reads empty, and
    a one-row append of a 4-partition frame adds exactly one data
    file whose key stats bound the row."""
    schema = "id long, score double"
    t = LakeTable.create(
        spark,
        str(tmp_path / "one"),
        spark.createDataFrame([], schema),
        key_cols=["id"],
    )
    assert t._live()[0] == []
    assert t.snapshot().count() == 0
    one = spark.createDataFrame([(100, 1.0)], schema)
    t.append(one.repartition(4))
    live = t._live()[0]
    assert len(live) == 1
    assert live[0]["rows"] == 1
    assert live[0]["stats"]["id"] == [100, 100]
