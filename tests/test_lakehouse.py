"""Native table format (lakehouse.py): atomic commits, MERGE
semantics vs a DuckDB-computed expectation, copy-on-write file
pruning, snapshot isolation / time travel, optimistic-concurrency
conflicts, and vacuum."""

from __future__ import annotations

import json
import os

import pytest

from lcmap_firebird_spark.lakehouse import (
    ConcurrentWriteError,
    LakeTable,
)

from .lake_helpers import duckdb_snapshot
from .test_session import _compiles


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
    # so a MERGE over a narrow key range rewrites at most one data
    # file per straddled boundary (the scrambled append would have
    # put those keys in every file)
    before = dict(_rows(t.snapshot()))
    t.merge(
        spark.createDataFrame(
            [(i, -1.0) for i in range(100, 121)], "id long, val double"
        )
    )
    assert t.history()[-1]["removed"] <= 2 < len(live)
    want = before | {i: -1.0 for i in range(100, 121)}
    assert _rows(t.snapshot()) == sorted(want.items())


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
    add = table._stage_files(df, table._live()[1])  # writer paused mid-commit
    removed = table.vacuum(keep_last=1, retention_seconds=3600)
    assert not any(rec["path"] in removed for rec in add)
    # the paused writer can still complete its commit
    table._commit("append", add, [], expected_head=None)
    assert table.snapshot().filter("id = 7777").count() == 1


def _synthetic_log(root, n):
    """An n-commit log written by hand (no Spark): entry 0 creates,
    then each commit adds data/f<v>.parquet and removes its
    predecessor's file, as a chain of one-file rewrites would."""
    os.makedirs(os.path.join(root, "_txn"))
    os.makedirs(os.path.join(root, "data"))
    for v in range(n):
        add = [] if v == 0 else [{"path": f"data/f{v}.parquet", "rows": 1}]
        remove = [f"data/f{v - 1}.parquet"] if v > 1 else []
        entry = {
            "version": v,
            "operation": "create" if v == 0 else "merge",
            "add": add,
            "remove": remove,
            "schema": '{"type": "struct", "fields": []}',
            "key_cols": ["id"],
        }
        with open(os.path.join(root, "_txn", f"{v:020d}.json"), "w") as f:
            json.dump(entry, f)
        if add:
            open(os.path.join(root, add[0]["path"]), "w").close()


def _count_entry_opens(monkeypatch) -> list:
    """The log-entry files `lakehouse` opens from here on."""
    from lcmap_firebird_spark import lakehouse

    opened = []

    def counting_open(path, *a, **kw):
        if f"{os.sep}_txn{os.sep}0" in str(path):
            opened.append(path)
        return open(path, *a, **kw)

    monkeypatch.setattr(lakehouse, "open", counting_open, raising=False)
    return opened


def test_vacuum_reads_each_log_entry_once(tmp_path, monkeypatch):
    """vacuum builds its reference set from ONE log replay: a
    50-commit log whose every version is inside the retention window
    opens each entry file once, not once per protected version."""
    root = str(tmp_path / "log")
    _synthetic_log(root, 50)
    opened = _count_entry_opens(monkeypatch)
    assert LakeTable.attach(root).vacuum() == []  # everything protected
    assert len(opened) <= 50


def test_append_reads_each_log_entry_once(spark, table, monkeypatch):
    """append stages its files against the head entry its own replay
    found: on a 40-entry log with no checkpoint one append opens each
    entry file once plus the commit's head re-read, not a second full
    replay."""
    txn = os.path.join(table.root, "_txn")
    with open(os.path.join(txn, f"{1:020d}.json")) as f:
        entry = json.load(f)
    for v in range(2, 40):  # empty appends: the log grows, the data not
        with open(os.path.join(txn, f"{v:020d}.json"), "w") as f:
            json.dump(entry | {"version": v, "add": [], "remove": []}, f)
    assert table.latest_version() == 39
    extra = spark.createDataFrame(
        [(100, "name100", 0.0)], "id long, name string, val double"
    )
    opened = _count_entry_opens(monkeypatch)
    assert table.append(extra) == 40
    assert len(opened) <= 44
    assert table.snapshot().count() == 101


def test_vacuum_protects_the_retention_suffix(tmp_path):
    """Entries older than the window protect nothing beyond the
    newest of them: with v0..v39 ten days old, the files live at v39
    or added after it survive and f1..f38 are swept."""
    root = str(tmp_path / "log")
    _synthetic_log(root, 50)
    old = os.path.getmtime(root) - 10 * 24 * 3600
    for v in range(40):
        os.utime(os.path.join(root, "_txn", f"{v:020d}.json"), (old, old))
    for f in os.listdir(os.path.join(root, "data")):
        os.utime(os.path.join(root, "data", f), (old, old))
    removed = LakeTable.attach(root).vacuum(keep_last=1)
    assert sorted(removed) == sorted(
        f"data/f{v}.parquet" for v in range(1, 39)
    )
    assert sorted(os.listdir(os.path.join(root, "data"))) == sorted(
        f"f{v}.parquet" for v in range(39, 50)
    )


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


def test_delete_mor_emptiness_probe_compiles_once(spark, table):
    """Repeating a delete that matches nothing finds every generated
    class of its plan cached, so its emptiness probe compiles nothing
    per call (a `limit(n).count()` probe recompiles its limit stage
    every time)."""
    table.delete_mor("id < 0")
    before = _compiles(spark)
    table.delete_mor("id < 0")
    assert _compiles(spark) - before == 0


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


def test_fused_preflight_edges(spark, table):
    """r12 optimization regression: merge folds its dup-guard and
    the stats-prune key ranges into ONE source aggregation. Pin the
    edges the fusion must preserve (duplicate-key refusal is
    test_merge_duplicate_source_keys_raise): (a) an empty merge source
    commits cleanly and rewrites nothing; (b) a source whose key
    column is entirely NULL behaves like today's 'nothing can match'
    path (rows append, no rewrite)."""
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
    # ... so a MERGE over a narrow key range now rewrites at most
    # a couple of files
    t.merge(
        spark.createDataFrame(
            [(i, -1.0) for i in range(200, 221)], "id long, val double"
        )
    )
    assert t.history()[-1]["removed"] <= 2 < len(data)
    want = dict(before) | {i: -1.0 for i in range(200, 221)}
    assert _rows(t.snapshot()) == sorted(want.items())


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
    before = _rows(t.snapshot())
    v = t.cluster(cluster_by=["val"])
    assert v == t.latest_version()
    assert t.history()[-1]["operation"] == "cluster"
    assert _rows(t.snapshot()) == before
    # the rewritten files record the MERGE key's stats, and only those
    data, _ = t._split_live(t._live()[0])
    assert data and all(set(r["stats"]) == {"id"} for r in data)
    assert all(r["stats"]["id"] is not None for r in data)


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
    assert d0["key_cols"] == ["id"]
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


def test_signature_store_on_lakehouse_merge(spark, tmp_path):
    """Cross-module integration: the incremental-dedup signature
    store persisted as a lakehouse table. N transactional merges of
    per-batch signatures reproduce the one-shot signature table
    exactly (merge semantics == operators/incremental.merge_batch:
    re-ingested doc_ids refresh their state), with every batch an
    atomic, time-travelable commit."""
    from lcmap_firebird_spark.operators.incremental import signature_table

    docs = [
        (i, f"doc number {i} body " + " ".join(f"w{i}x{j}" for j in range(8)))
        for i in range(30)
    ]
    batches = [docs[:10], docs[10:20], docs[15:30]]  # overlap re-ingests
    root = str(tmp_path / "sigstore")
    t = None
    for b in batches:
        bdf = spark.createDataFrame(b, "doc_id long, text string")
        sigs = signature_table(bdf)
        if t is None:
            t = LakeTable.create(spark, root, sigs, key_cols=["doc_id"])
        else:
            t.merge(sigs)
    all_df = spark.createDataFrame(docs, "doc_id long, text string")
    one_shot = signature_table(all_df)
    cols = sorted(one_shot.columns)
    want = sorted(
        tuple(r[c] for c in cols) for r in one_shot.collect()
    )
    got = sorted(
        tuple(r[c] for c in cols) for r in t.snapshot().collect()
    )
    assert got == want
    # the store's history is per-batch time travel
    assert t.snapshot(version=1).count() == 10


def _codecs(table, recs) -> dict[str, set[str]]:
    """{record path: the codecs of its Parquet column chunks}, read
    from the footers."""
    import pyarrow.parquet as pq

    out = {}
    for r in recs:
        md = pq.ParquetFile(os.path.join(table.root, r["path"])).metadata
        out[r["path"]] = {
            md.row_group(i).column(j).compression
            for i in range(md.num_row_groups)
            for j in range(md.num_columns)
        }
    return out


def test_every_lake_write_path_writes_zstd(spark, table):
    """create, merge, delete_mor, compact and cluster all stage their
    data and deletion-vector files as zstd, whatever the session's
    Parquet codec."""
    key = "spark.sql.parquet.compression.codec"
    prev = spark.conf.get(key)
    spark.conf.set(key, "snappy")
    try:

        def check(step) -> set[str]:
            got = _codecs(table, table._live()[0])
            assert got, step
            bad = {p: c for p, c in got.items() if c != {"ZSTD"}}
            assert not bad, (step, bad)
            return set(got)

        check("create")
        table.merge(
            spark.createDataFrame(
                [(5, "FIVE", -5.0), (200, "new", 1.0)],
                "id long, name string, val double",
            )
        )
        check("merge")
        table.delete_mor("id % 10 = 3")
        assert any(p.endswith(".dv.parquet") for p in check("delete_mor"))
        table.compact(target_rows=1_000_000)
        check("compact")
        table.cluster()
        check("cluster")
    finally:
        spark.conf.set(key, prev)


def test_snappy_files_of_older_tables_still_read_and_compact(
    spark, tmp_path
):
    """A table whose committed file is snappy (staged before the lake
    wrote zstd) gives the same rows as an all-zstd twin through
    snapshot, delete_mor, merge and compact, and compact's output is
    zstd."""
    import pyarrow.parquet as pq

    base = spark.createDataFrame(
        [(i, f"name{i}", float(i)) for i in range(100)],
        "id long, name string, val double",
    ).repartition(4, "id")
    old = LakeTable.create(spark, str(tmp_path / "old"), base, key_cols=["id"])
    new = LakeTable.create(spark, str(tmp_path / "new"), base, key_cols=["id"])
    for t in (old, new):
        t.delete_mor("id % 10 = 3")
    # rewrite one DV-covered file in place: same rows, same order, so
    # the committed DV positions still name the same rows
    covered = {c for r in _dv_recs(old) for c in r["covers"]}
    rec = next(r for r in _data_recs(old) if r["path"] in covered)
    path = os.path.join(old.root, rec["path"])
    pq.write_table(pq.read_table(path), path, compression="snappy")
    assert _codecs(old, [rec])[rec["path"]] == {"SNAPPY"}
    ids = sorted(
        i for i in pq.read_table(path, columns=["id"])["id"].to_pylist()
        if i % 10 != 3
    )

    def same():
        got = _rows(old.snapshot())
        assert got == _rows(new.snapshot())
        return got

    assert len(same()) == 90
    for t in (old, new):
        t.delete_mor(f"id = {ids[0]}")
    assert len(same()) == 89
    src = spark.createDataFrame(
        [(ids[1], "merged", -1.0), (ids[2], "merged", -2.0), (500, "new", 5.0)],
        "id long, name string, val double",
    )
    for t in (old, new):
        t.merge(src)
    assert len(same()) == 90
    assert rec["path"] not in {r["path"] for r in _data_recs(old)}
    for t in (old, new):
        t.compact(target_rows=1_000_000)
    same()
    live = _codecs(old, old._live()[0])
    assert live and all(c == {"ZSTD"} for c in live.values())


def test_lake_has_one_dataframe_writer():
    """Every DataFrameWriter use in lakehouse.py sits in
    `LakeTable._stage`, so no write path can skip the lake's codec."""
    import ast
    import inspect

    from lcmap_firebird_spark import lakehouse

    tree = ast.parse(inspect.getsource(lakehouse))
    uses = []

    def walk(node, where):
        if isinstance(node, (ast.ClassDef, ast.FunctionDef)):
            where = (*where, node.name)
        if isinstance(node, ast.Attribute) and node.attr in (
            "write", "writeTo", "writeStream"
        ):
            uses.append((where, node.lineno))
        for child in ast.iter_child_nodes(node):
            walk(child, where)

    walk(tree, ())
    assert uses and all(w == ("LakeTable", "_stage") for w, _ in uses), uses
