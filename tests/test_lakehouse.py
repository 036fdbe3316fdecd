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
    t.append_clustered(df)
    live = t._live()[0]
    assert len(live) > 1
    # clustered files: id ranges are non-overlapping (tight stats)
    ranges = sorted(r["stats"]["id"] for r in live if r["rows"])
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi < b_lo
    # the log prunes most files for a narrow range...
    paths, total = t.pruned_paths({"id": (100, 120)})
    # a narrow range hits at most one data file per straddled
    # boundary plus the stats-less empty create file
    assert len(paths) < total and len(paths) <= 3
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


def test_bloom_index_prunes_interleaved_files(spark, tmp_path):
    """Even keys in one file, odd in another: min/max stats overlap
    completely, so only the bloom sidecar can discriminate."""
    root = str(tmp_path / "btbl")
    evens = spark.createDataFrame(
        [(i, "e") for i in range(0, 2000, 2)], "id long, tag string"
    ).coalesce(1)
    odds = spark.createDataFrame(
        [(i, "o") for i in range(1, 2000, 2)], "id long, tag string"
    ).coalesce(1)
    t = LakeTable.create(spark, root, evens, key_cols=["id"])
    t.append(odds)
    v = t.build_bloom_index()
    assert t.history()[-1]["operation"] == "bloom_index"
    # every data file now carries a bloom pointer
    assert all(r.get("bloom") for r in t._live()[0] if r["rows"])
    # lookup(42): stats cannot prune (both files span [~0, ~1999]),
    # bloom must cut the odd file out
    live = t._live()[0]

    def admitted(val):
        import hashlib

        d = hashlib.md5(str(val).encode()).digest()
        h1 = int.from_bytes(d[:8], "big")
        h2 = int.from_bytes(d[8:], "big") | 1
        n = 0
        for rec in live:
            bl = rec["bloom"]
            bits = open(os.path.join(root, bl["path"]), "rb").read()
            m, k = bl["m"], bl["k"]
            if all(
                bits[((h1 + i * h2) % m) // 8]
                & (1 << (((h1 + i * h2) % m) % 8))
                for i in range(k)
            ):
                n += 1
        return n

    assert admitted(42) == 1  # the even file only
    got = t.lookup(42).collect()
    assert [(r.id, r.tag) for r in got] == [(42, "e")]
    assert t.lookup(43).first().tag == "o"
    # absent key: no file admits it (w.h.p.), empty result
    assert t.lookup(999_999).count() == 0
    # idempotent: second build is a no-op commit-wise
    assert t.build_bloom_index() == v


def test_vacuum_keeps_live_bloom_sidecars(spark, tmp_path):
    root = str(tmp_path / "vtbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a")], "id long, tag string").coalesce(1),
        key_cols=["id"],
    )
    t.build_bloom_index()
    # churn a version so vacuum has something to consider
    t.append(spark.createDataFrame([(2, "b")], "id long, tag string"))
    t.vacuum(keep_last=1, retention_seconds=0)
    # the live file's sidecar survived and lookup still works
    assert t.lookup(1).first().tag == "a"


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
    # point lookup of a deleted key finds nothing
    assert table.lookup(10).count() == 0
    assert table.lookup(11).count() == 1
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


def test_check_constraints_enforced_on_commits(spark, tmp_path):
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    root = str(tmp_path / "contbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, 5.0), (2, None)], "id long, val double"
        ),
        key_cols=["id"],
        constraints={"val_pos": "val > 0"},  # NULL passes (SQL CHECK)
    )
    v = t.latest_version()
    # violating append: rejected atomically, nothing committed,
    # staged files reclaimed
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(3, -1.0)], "id long, val double"))
    assert t.latest_version() == v
    assert t.snapshot().count() == 2
    data_files = {r["path"] for r in t._live()[0]}
    on_disk = {
        "data/" + f for f in os.listdir(os.path.join(root, "data"))
    }
    assert on_disk == data_files
    # valid append (incl. NULL) lands
    t.append(
        spark.createDataFrame([(3, 3.0), (4, None)], "id long, val double")
    )
    assert t.snapshot().count() == 4
    # merge with a violating source is rejected too
    with pytest.raises(ConstraintViolation):
        t.merge(spark.createDataFrame([(1, -9.0)], "id long, val double"))
    assert {r["id"]: r["val"] for r in t.snapshot().collect()}[1] == 5.0


def test_add_drop_constraint_lifecycle(spark, tmp_path):
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    root = str(tmp_path / "contbl2")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 5.0), (2, -2.0)], "id long, val double"),
        key_cols=["id"],
    )
    # existing rows violate: constraint refused, no commit
    v = t.latest_version()
    with pytest.raises(ConstraintViolation):
        t.add_constraint("val_pos", "val > 0")
    assert t.latest_version() == v
    t.delete_mor("val <= 0")
    t.add_constraint("val_pos", "val > 0")
    with pytest.raises(ValueError):
        t.add_constraint("val_pos", "val > 1")  # duplicate name
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(7, 0.0)], "id long, val double"))
    # constraints survive a log checkpoint (compacted replay path)
    t.checkpoint_log()
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(8, -1.0)], "id long, val double"))
    t.drop_constraint("val_pos")
    t.append(spark.createDataFrame([(9, -3.0)], "id long, val double"))
    assert t.snapshot().filter("val < 0").count() == 1
    with pytest.raises(ValueError):
        t.drop_constraint("nope")


def test_append_retry_revalidates_new_constraint(spark, tmp_path):
    """An append that stages (and validates) under the old head,
    then loses the O_EXCL race to a concurrent add_constraint, must
    re-validate against the NEW constraint set before landing."""
    from lcmap_firebird_spark.lakehouse import (
        ConstraintViolation,
        _entry_path,
    )

    root = str(tmp_path / "racetbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 5.0)], "id long, val double"),
        key_cols=["id"],
    )
    # stage a batch that is valid now but violates the constraint a
    # concurrent writer is about to add
    add = t._stage_files(
        spark.createDataFrame([(2, -7.0)], "id long, val double")
    )
    t.add_constraint("val_pos", "val > 0")  # lands first
    with pytest.raises(ConstraintViolation):
        t._commit("append", add, [], expected_head=None)
    assert t.snapshot().count() == 1
    # the losing append's staged files were reclaimed
    live = {r["path"] for r in t._live()[0]}
    assert all(r["path"] not in live for r in add)
    assert not any(
        os.path.exists(os.path.join(root, r["path"])) for r in add
    )


def test_constraint_on_added_column_nullfills(spark, tmp_path):
    """A constraint on a column added by schema evolution passes as
    NULL for writers still staging the pre-evolution shape (the
    validator scans under the TABLE schema, not file inference)."""
    root = str(tmp_path / "evtbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 1.0)], "id long, val double"),
        key_cols=["id"],
    )
    t.add_column("score", "double")
    t.add_constraint("score_pos", "score > 0")
    t.append(spark.createDataFrame([(2, 2.0)], "id long, val double"))
    assert t.snapshot().count() == 2
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame(
                [(3, 3.0, -1.0)], "id long, val double, score double"
            )
        )


def test_constraint_violation_reclaims_cdf_and_create_root(spark, tmp_path):
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    # create-time violation leaves a reusable root
    root = str(tmp_path / "ctbl")
    with pytest.raises(ConstraintViolation):
        LakeTable.create(
            spark,
            root,
            spark.createDataFrame([(1, -1.0)], "id long, val double"),
            key_cols=["id"],
            constraints={"val_pos": "val > 0"},
        )
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 1.0)], "id long, val double"),
        key_cols=["id"],
        constraints={"val_pos": "val > 0"},
        enable_cdf=True,
    )
    assert t.snapshot().count() == 1
    # a violating merge on a CDF table orphans no change files
    with pytest.raises(ConstraintViolation):
        t.merge(spark.createDataFrame([(1, -5.0)], "id long, val double"))
    leftovers = [
        f
        for f in os.listdir(os.path.join(root, "data"))
        if f.endswith(".cdf.parquet")
    ]
    referenced = [
        p
        for e in t._entries()
        if e.get("cdf")
        for p in e["cdf"]["paths"]
    ]
    assert len(leftovers) == len(referenced)


def test_restore_restores_constraint_set(spark, tmp_path):
    """Restoring past an add_constraint resurrects rows validated
    under the OLD set — the restore carries that set back so the
    table never lives in violation of its own constraints."""
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    root = str(tmp_path / "rtbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, 5.0), (2, -2.0)], "id long, val double"),
        key_cols=["id"],
    )
    v1 = t.latest_version()
    t.delete_mor("val <= 0")
    t.add_constraint("val_pos", "val > 0")
    with pytest.raises(ConstraintViolation):
        t.append(spark.createDataFrame([(3, -3.0)], "id long, val double"))
    t.restore(v1)
    # the resurrected negative row is back AND the constraint set is
    # the one it was validated under (none) — appends are free again
    assert t.snapshot().filter("val < 0").count() == 1
    t.append(spark.createDataFrame([(4, -4.0)], "id long, val double"))
    assert t.snapshot().count() == 3  # v1's two rows + the append


def test_restore_rebinds_constraints_by_physical_identity(spark, tmp_path):
    """r10 fix (found by reading the restore/rename/constraint seam):
    restore keeps the NEWER schema but resurrects the TARGET
    version's constraint TEXT — stored over the target's logical
    names. Before the fix, a shadowing rename (another column taking
    the constrained name after the constraint was dropped) made the
    restored text silently bind to the WRONG column (a violating
    append LANDED), and restoring past a drop of the referenced
    column poisoned every later append with UNRESOLVED_COLUMN.
    Now: referenced names re-bind by physical identity
    (val -> its current name), and a gone column refuses the restore
    loudly."""
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    root = str(tmp_path / "rebind")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, 5.0, 1.0)], "id long, other double, val double"
        ),
        key_cols=["id"],
    )
    t.add_constraint("val_floor", "val > -100")
    v_cons = t.latest_version()
    t.drop_constraint("val_floor")
    t.rename_column("val", "v2")
    t.rename_column("other", "val")  # shadow: logical 'val' is now OTHER
    t.restore(v_cons)
    cons = t._live()[1].get("constraints")
    assert cons == {"val_floor": "v2 > -100"}, cons
    # the truly constrained physical column (now v2) is enforced ...
    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame(
                [(3, 7.0, -500.0)], "id long, val double, v2 double"
            )
        )
    # ... and the shadow column is NOT (it was never the constrained one)
    t.append(
        spark.createDataFrame(
            [(4, -500.0, 4.0)], "id long, val double, v2 double"
        )
    )
    assert t.snapshot().filter("id = 4").count() == 1


def test_rebind_constraints_swap_rename_unit():
    """_rebind_constraints is a pure metadata function — unit-test the
    SIMULTANEOUS substitution on a swap-rename (val<->other via a temp
    name): sequential replacement would corrupt 'val > other' into a
    self-comparison; the single-pass alternation must produce the
    swapped text, each name following its physical column."""
    import json as _json

    from pyspark.sql.types import DoubleType, StructField, StructType

    def entry(fields, mapping, cons):
        return {
            "schema": StructType(
                [StructField(f, DoubleType()) for f in fields]
            ).json(),
            "column_mapping": mapping,
            "constraints": cons,
        }

    # old: logical val=phys val, other=phys other; constraint text
    # over old names. current: swapped — logical 'other' is phys val,
    # logical 'val' is phys other.
    old = entry(["val", "other"], {}, {"c": "val > other"})
    cur = entry(["val", "other"], {"other": "val", "val": "other"}, {})
    t = LakeTable.__new__(LakeTable)
    got = t._rebind_constraints(old, cur, 1)
    assert got == {"c": "other > val"}, got
    # word-boundary: a name appearing as a substring stays untouched
    old2 = entry(["val"], {}, {"c": "val2(val) AND val_x > val"})
    cur2 = entry(["v9"], {"v9": "val"}, {})
    got2 = t._rebind_constraints(old2, cur2, 1)
    assert got2 == {"c": "val2(v9) AND val_x > v9"}, got2
    # no constraints -> empty, no schema parse
    assert t._rebind_constraints({"constraints": {}}, cur2, 1) == {}


def test_restore_refuses_when_constrained_column_dropped(spark, tmp_path):
    """The other half of the r10 rebind fix: a restore whose
    resurrected constraint references a since-DROPPED physical column
    refuses loudly (ValueError naming the constraint) instead of
    committing text that can never bind — before the fix the table
    was poisoned: every later row-introducing commit died with
    UNRESOLVED_COLUMN until a manual drop_constraint."""
    root = str(tmp_path / "rgone")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a", 1.0)], "id long, name string, val double"),
        key_cols=["id"],
    )
    t.add_constraint("val_floor", "val > -100")
    v_cons = t.latest_version()
    t.drop_constraint("val_floor")
    t.drop_column("val")
    v_head = t.latest_version()
    with pytest.raises(ValueError, match="val_floor"):
        t.restore(v_cons)
    # refusal consumed no version and the table stays writable
    assert t.latest_version() == v_head
    t.append(spark.createDataFrame([(3, "c")], "id long, name string"))
    assert t.snapshot().count() == 2


def test_rebind_constraints_literal_case_backtick_unit():
    """r11 hardening of the r10 rebind fix (same stored-text class):
    (a) a column name inside a QUOTED STRING LITERAL is data, not a
    reference — a rename crossing `tag != 'val'` must not rewrite
    the literal, and a dropped column mentioned only in a literal
    must not refuse the restore; (b) Spark resolves identifiers
    case-insensitively, so 'VAL > -100' references val and must
    follow its rename (before: the mixed-case text escaped both the
    rewrite and the dropped-column refusal); (c) backtick-quoted
    identifiers are references and rewrite with backticks kept."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    def entry(fields, mapping, cons):
        return {
            "schema": StructType(
                [StructField(f, DoubleType()) for f in fields]
            ).json(),
            "column_mapping": mapping,
            "constraints": cons,
        }

    t = LakeTable.__new__(LakeTable)
    ren = entry(["v2", "tag"], {"v2": "val"}, {})  # val renamed to v2

    # (a) literals survive the rewrite — single, double, escaped quote
    old = entry(
        ["val", "tag"],
        {},
        {
            "c1": "val > 0 AND tag != 'val'",
            "c2": 'val > 0 AND tag != "val"',
            "c3": "val > 0 AND tag != 'it''s val'",
        },
    )
    got = t._rebind_constraints(old, ren, 1)
    assert got == {
        "c1": "v2 > 0 AND tag != 'val'",
        "c2": 'v2 > 0 AND tag != "val"',
        "c3": "v2 > 0 AND tag != 'it''s val'",
    }, got

    # (a') dropped column mentioned ONLY inside a literal: no refusal,
    # text carried verbatim (before: false ValueError)
    old_lit = entry(["gone", "tag"], {}, {"c": "tag != 'gone'"})
    cur_dropped = entry(["tag"], {}, {})
    assert t._rebind_constraints(old_lit, cur_dropped, 1) == {
        "c": "tag != 'gone'"
    }

    # (b) mixed-case reference follows the rename ...
    old_case = entry(["val", "tag"], {}, {"c": "VAL > -100"})
    assert t._rebind_constraints(old_case, ren, 1) == {"c": "v2 > -100"}
    # ... and mixed-case reference to a dropped column refuses loudly
    old_case2 = entry(["gone", "tag"], {}, {"c": "GONE > 0"})
    with pytest.raises(ValueError, match="'gone'"):
        t._rebind_constraints(old_case2, cur_dropped, 1)

    # (c) backtick-quoted identifier rewrites, backticks preserved
    old_bt = entry(["val", "tag"], {}, {"c": "`val` > 0"})
    assert t._rebind_constraints(old_bt, ren, 1) == {"c": "`v2` > 0"}


def test_sql_segments_tokenizer_unit():
    """The r11 tokenizer behind _expr_references/_expr_rewrite_refs:
    segments must reassemble to the input EXACTLY for any string
    (hypothesis sweep over a quote-heavy alphabet — a lost or
    duplicated character would corrupt constraint text), and the
    span classification must handle the escape edge cases: doubled
    quotes, backslash escapes, trailing backslash, unterminated
    literals (conservatively swallowed to end-of-string: never
    misread as code)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from lcmap_firebird_spark.lakehouse import (
        _expr_references,
        _expr_rewrite_refs,
        _sql_segments,
        _strip_sql_comments,
    )

    @given(st.text(alphabet="ab'\"`\\ ()_,x-/*\n", max_size=40))
    @settings(max_examples=300, deadline=None)
    def roundtrip(s):
        segs = _sql_segments(s)
        assert "".join(t for _, t in segs) == s
        for kind, t in segs:
            assert kind in ("code", "str", "ident", "comment")
            if kind == "str":
                assert t[0] in ("'", '"')
            if kind == "ident":
                assert t[0] == "`"
            if kind == "comment":
                assert t.startswith("--") or t.startswith("/*")
            if kind == "code":
                # a comment opener must never survive inside code
                assert "--" not in t and "/*" not in t
        # storage normalization: output is comment-free and stable
        stripped = _strip_sql_comments(s)
        assert all(k != "comment" for k, _ in _sql_segments(stripped))
        assert _strip_sql_comments(stripped) == stripped

    roundtrip()

    # escape edges
    assert _sql_segments("a = 'it''s'") == [
        ("code", "a = "), ("str", "'it''s'")
    ]
    assert _sql_segments(r"a = 'x\'y'") == [
        ("code", "a = "), ("str", r"'x\'y'")
    ]
    assert _sql_segments("`a``b` > 0") == [
        ("ident", "`a``b`"), ("code", " > 0")
    ]
    # unterminated literal swallows to EOS (never misread as code)
    assert _sql_segments("a = 'oops") == [("code", "a = "), ("str", "'oops")]
    # trailing backslash inside a literal must not read past the end
    assert _sql_segments("a = 'x\\")[-1][0] == "str"

    # reference semantics on the edges
    assert _expr_references("`a``b` > 0", "a`b")
    assert not _expr_references("c = 'a' || \"b\"", "a")
    assert _expr_references("A > 0 AND c = 'a'", "a")
    assert _expr_rewrite_refs("`a``b` > 0 AND t != 'a`b'", {"a`b": "q"}) == (
        "`q` > 0 AND t != 'a`b'"
    )
    # swap-rename stays simultaneous under mixed case
    assert _expr_rewrite_refs("VAL > Other", {"val": "other", "other": "val"}) == (
        "other > val"
    )

    # r12: SQL comments are their own segment kind — neither a
    # reference nor a rewrite target (Spark's lexer strips them, so
    # stored constraint text may legally carry them)
    assert _sql_segments("val > 0 -- val note") == [
        ("code", "val > 0 "), ("comment", "-- val note")
    ]
    assert _sql_segments("a /* val */ > 0\n-- b\n") == [
        ("code", "a "), ("comment", "/* val */"), ("code", " > 0\n"),
        ("comment", "-- b\n"),
    ]
    # nested bracketed comment, matching Spark's lexer
    assert _sql_segments("/* a /* b */ c */x")[-1] == ("code", "x")
    # unterminated block comment swallows to EOS (never read as code)
    assert _sql_segments("a /* oops")[-1][0] == "comment"
    # a comment opener inside a string literal stays literal
    assert _sql_segments("tag != '--'") == [
        ("code", "tag != "), ("str", "'--'")
    ]
    # SQL reads 5--3 as '5' then a comment — so do we
    assert _sql_segments("5--3") == [("code", "5"), ("comment", "--3")]
    assert not _expr_references("val > 0 -- tag here", "tag")
    assert not _expr_references("val /* tag */ > 0", "tag")
    assert _expr_rewrite_refs(
        "val > 0 -- val stays prose", {"val": "v2"}
    ) == "v2 > 0 -- val stays prose"

    # r12 (r11 ADVICE): a bare word followed by '(' is a FUNCTION
    # CALL, never a column reference — renaming column 'abs' must
    # not rewrite the abs() call in an unrelated constraint...
    assert _expr_rewrite_refs(
        "abs(val) > 0 AND abs > 1 AND abs (x) > 0", {"abs": "mag"}
    ) == "abs(val) > 0 AND mag > 1 AND abs (x) > 0"
    # ...while the refusal-only guard keeps the conservative
    # over-match (false refusal is loud and safe)
    assert _expr_references("abs(val) > 0", "abs")


def test_restore_rebind_preserves_literal_integration(spark, tmp_path):
    """End-to-end dual of the unit case: constraint
    'val > 0 AND tag != ''val''' crosses a val->v2 rename via
    restore. The LITERAL must still say 'val' afterwards — rows
    tagged 'val' violate, rows tagged 'v2' pass. A buggy rewrite
    into the literal would invert both outcomes."""
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    root = str(tmp_path / "rlit")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "ok", 1.0)], "id long, tag string, val double"),
        key_cols=["id"],
    )
    t.add_constraint("c", "val > 0 AND tag != 'val'")
    v_cons = t.latest_version()
    t.drop_constraint("c")
    t.rename_column("val", "v2")
    t.restore(v_cons)
    assert t._live()[1]["constraints"] == {"c": "v2 > 0 AND tag != 'val'"}
    t.append(
        spark.createDataFrame([(2, "v2", 2.0)], "id long, tag string, v2 double")
    )
    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame(
                [(3, "val", 3.0)], "id long, tag string, v2 double"
            )
        )
    assert t.snapshot().count() == 2


def test_check_constraint_refs_literal_and_case(spark, tmp_path):
    """_check_constraint_refs (rename/drop guard) shares the r11
    hardening: a name appearing only inside a string literal no
    longer blocks the rename (false positive), while a MIXED-CASE
    reference now does (before: 'VAL > -100' escaped the guard and
    the stale text poisoned later commits). Same for the identity
    guards at create/add_constraint time."""
    root = str(tmp_path / "refs")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "ok", 1.0)], "id long, tag string, val double"
        ),
        key_cols=["id"],
    )
    t.add_constraint("lit_only", "tag != 'val'")
    t.rename_column("val", "v2")  # allowed: 'val' is only a literal
    assert "v2" in t.snapshot().columns
    t.add_constraint("cfloor", "V2 > -100")  # mixed-case reference
    with pytest.raises(ValueError, match="cfloor"):
        t.rename_column("v2", "v3")
    with pytest.raises(ValueError, match="cfloor"):
        t.drop_column("v2")

    # identity guards: literal mention allowed, mixed-case refused
    root2 = str(tmp_path / "refs_ident")
    t2 = LakeTable.create(
        spark,
        root2,
        spark.createDataFrame([(1, "x")], "id long, note string"),
        key_cols=["id"],
        identity="rid",
        constraints={"lit": "note != 'rid'"},  # literal: fine
    )
    with pytest.raises(ValueError, match="identity"):
        t2.add_constraint("bad", "RID > 0")


def test_restore_strips_vacuumed_bloom_pointer(spark, tmp_path):
    """r11 find (bloom sidecar x vacuum x restore matrix, the r10
    restore-bug class): a file can stay vacuum-protected through a
    PRE-bloom version while no protected version references its
    SIDECAR — the sidecar is legitimately swept. A later restore to
    the bloom-indexed version then resurrected the rec verbatim,
    pointer included: lookup() on a key in that file died with
    FileNotFoundError, and build_bloom_index could not repair (it
    skipped recs that already carry a pointer). Now: restore strips
    pointers whose sidecar is gone (blooms are rebuildable indexes,
    not data), lookup() degrades a missing sidecar to a scan, and
    build_bloom_index re-indexes stripped recs."""
    root = str(tmp_path / "bloomres")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
        key_cols=["id"],
    )
    v1 = t.latest_version()
    t.build_bloom_index()
    v2 = t.latest_version()
    t.delete_mor("id = 1")
    t.compact()          # the indexed files leave live
    t.restore(v1)        # back WITHOUT its pointer (v1's rec)
    t.delete_mor("id >= 1")
    t.compact()          # everything leaves live again
    removed = t.vacuum(keep_last=2, retention_seconds=0)
    assert any(p.endswith(".bloom") for p in removed), removed
    t.restore(v2)  # pre-fix: resurrected the dangling pointer
    live, _ = t._live()
    for rec in live:
        bl = rec.get("bloom")
        if bl:
            assert os.path.exists(os.path.join(root, bl["path"])), (
                "restore resurrected a pointer to a swept sidecar"
            )
    # the lookup that crashed pre-fix
    assert [r["id"] for r in t.lookup(1).collect()] == [1]
    # and the stripped rec is re-indexable again
    t.build_bloom_index()
    live, _ = t._live()
    rows_recs = [r for r in live if r.get("rows")]
    assert rows_recs and all(r.get("bloom") for r in rows_recs)
    assert all(
        os.path.exists(os.path.join(root, r["bloom"]["path"]))
        for r in rows_recs
    )
    assert [r["id"] for r in t.lookup(1).collect()] == [1]


def test_lookup_degrades_missing_sidecar_to_scan(spark, tmp_path):
    """lookup() with a pointer whose sidecar vanished (vacuum racing
    the restore-time strip; source-table vacuum under a shallow
    clone) must scan the file, not fail the query — an INDEX that
    cannot be read degrades, same as Delta's bloom indexes."""
    root = str(tmp_path / "bloomgone")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
        key_cols=["id"],
    )
    t.build_bloom_index()
    live, _ = t._live()
    for rec in live:
        if rec.get("bloom"):
            os.remove(os.path.join(root, rec["bloom"]["path"]))
    assert sorted(r["id"] for r in t.lookup(1).collect()) == [1]
    assert sorted(r["id"] for r in t.lookup(2).collect()) == [2]


def test_lookup_degrades_truncated_sidecar_to_scan(spark, tmp_path):
    """r12 (r11 ADVICE): a TRUNCATED sidecar is as unreadable as a
    missing one — the old code caught only FileNotFoundError, so a
    short bitset raised IndexError mid-probe, violating the
    'an index that cannot be read degrades to a scan, never fails
    the query' contract the missing-sidecar branch honors."""
    root = str(tmp_path / "bloomshort")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"n{i}") for i in range(64)], "id long, name string"
        ),
        key_cols=["id"],
    )
    t.build_bloom_index()
    live, _ = t._live()
    n_trunc = 0
    for rec in live:
        if rec.get("bloom"):
            with open(os.path.join(root, rec["bloom"]["path"]), "wb") as f:
                f.write(b"\x00")  # 8 bits << m: every probe would IndexError
            n_trunc += 1
    assert n_trunc > 0
    assert sorted(r["id"] for r in t.lookup(1).collect()) == [1]
    assert sorted(r["id"] for r in t.lookup(63).collect()) == [63]


def test_constraint_comments_normalized_at_storage(spark, tmp_path):
    """r12 (r11 VERDICT watch item #2): SQL comments in expression
    text are ACCEPTED at every storage boundary (Spark's parser takes
    them) but normalized away before storage — stored text is later
    re-embedded in composed SQL (`NOT coalesce((expr), true)`) where
    a `--` line comment would swallow the wrapper's tail and flip the
    check's meaning. So: (a) a commented constraint validates and
    ENFORCES, (b) the stored text is comment-free and crosses a
    rename-restore rebind correctly, (c) a column mentioned only in a
    comment never blocks its rename, (d) create-time constraints and
    generated expressions get the same normalization, (e) delete()
    takes a commented predicate without swallowing its keep-side
    wrapper."""
    from lcmap_firebird_spark.lakehouse import ConstraintViolation

    root = str(tmp_path / "ccomm")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "ok", 1.0)], "id long, tag string, val double"
        ),
        key_cols=["id"],
    )
    t.add_constraint("c", "val > 0 -- val must stay positive")
    assert t._live()[1]["constraints"] == {"c": "val > 0"}
    with pytest.raises(ConstraintViolation):
        t.append(
            spark.createDataFrame(
                [(2, "bad", -1.0)], "id long, tag string, val double"
            )
        )
    v_cons = t.latest_version()
    t.drop_constraint("c")
    t.rename_column("val", "v2")
    t.restore(v_cons)
    assert t._live()[1]["constraints"] == {"c": "v2 > 0"}
    # comment-only mention must never block a rename
    t.drop_constraint("c")
    t.add_constraint("c2", "v2 > 0 /* tag is prose */")
    t.rename_column("tag", "label")
    assert "label" in t.snapshot().columns

    # create-time normalization: constraints AND generated columns
    root2 = str(tmp_path / "ccomm2")
    t2 = LakeTable.create(
        spark,
        root2,
        spark.createDataFrame([(1, 4.0)], "id long, val double"),
        key_cols=["id"],
        constraints={"pos": "val > 0 -- floor"},
        generated={"dbl": "val * 2 /* derived */"},
    )
    head2 = t2._live()[1]
    assert head2["constraints"] == {"pos": "val > 0"}
    assert head2["generated"] == {"dbl": "val * 2"}
    assert t2.snapshot().collect()[0]["dbl"] == 8.0
    # enforcement still bites post-normalization (the composed
    # wrapper parses)
    with pytest.raises(ConstraintViolation):
        t2.append(spark.createDataFrame([(2, -1.0)], "id long, val double"))

    # a trailing comment in a delete predicate is fine
    t2.append(spark.createDataFrame([(3, 9.0)], "id long, val double"))
    t2.delete_mor("val > 5 -- drop the big one")
    assert sorted(r["id"] for r in t2.snapshot().collect()) == [1]


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


def test_bloom_index_commit_does_not_reemit_stream(spark, tmp_path):
    """build_bloom_index re-adds every live record to attach sidecar
    pointers (zero new rows) — the plain streaming source must not
    replay the table because of it."""
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    try:
        spark.dataSource.register(LakeDataSource)
    except Exception:
        pass
    root = str(tmp_path / "btbl")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, float(i)) for i in range(50)], "k long, v double"
        ),
        key_cols=["k"],
    )
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def drain():
        q = (
            spark.readStream.format("lake")
            .option("path", root)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return (
            spark.read.schema("k long, v double").parquet(out).count()
        )

    assert drain() == 50
    t.build_bloom_index()
    t.append(spark.createDataFrame([(100, 1.0)], "k long, v double"))
    # resumed stream delivers ONLY the appended row, not a replay
    assert drain() == 51


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
    # append_clustered stamps its records too -> still no-op after
    t.append_clustered(
        spark.createDataFrame([(2000, 2.0)], "id long, val double"),
        ["id"],
    )
    assert t.cluster(["id"], incremental=True) == t.latest_version()
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
