"""Shallow clone (LakeTable.clone): zero-copy table forks that
reference the source's live files by absolute path, with independent
logs afterwards. Verifies: snapshot identity, write independence in
both directions, deletion-vector transfer, COW materialization into
the clone's own data dir, column-mapping transfer,
clone-of-clone, and vacuum isolation."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.lakehouse import LakeTable


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _own_files(t):
    d = os.path.join(t.root, "data")
    return {f for f in os.listdir(d) if f.endswith(".parquet")}


@pytest.fixture()
def source(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(100)],
        "id long, name string, val double",
    ).repartition(4, "id")
    return LakeTable.create(
        spark, str(tmp_path / "src"), base, key_cols=["id"]
    )


def test_clone_is_zero_copy_and_identical(spark, source, tmp_path):
    c = source.clone(str(tmp_path / "c1"))
    assert _rows(c.snapshot()) == _rows(source.snapshot())
    assert _own_files(c) == set()  # ZERO data copied
    # every live reference is absolute into the source
    assert all(
        os.path.isabs(r["path"]) for r in c._live()[0]
    )


def test_writes_are_independent_both_ways(spark, source, tmp_path):
    c = source.clone(str(tmp_path / "c2"))
    c.append(
        spark.createDataFrame(
            [(500, "c500", 1.0)], "id long, name string, val double"
        )
    )
    source.append(
        spark.createDataFrame(
            [(600, "s600", 2.0)], "id long, name string, val double"
        )
    )
    assert c.snapshot().count() == 101
    assert source.snapshot().count() == 101
    assert c.snapshot().filter("id = 600").count() == 0
    assert source.snapshot().filter("id = 500").count() == 0
    # the clone's append landed in its OWN data dir
    assert len(_own_files(c)) >= 1
    # COW merge on the clone rewrites the hit file locally; the
    # source file stays live in the SOURCE's log
    src_live_before = {r["path"] for r in source._live()[0]}
    c.merge(
        spark.createDataFrame(
            [(7, "SEVEN", -7.0)], "id long, name string, val double"
        )
    )
    assert {r["path"] for r in source._live()[0]} == src_live_before
    assert {r["id"]: r["name"] for r in c.snapshot().collect()}[7] == "SEVEN"
    assert {r["id"]: r["name"] for r in source.snapshot().collect()}[7] == "n7"


def test_clone_carries_deletion_vectors(spark, source, tmp_path):
    source.delete_mor("id < 10")
    c = source.clone(str(tmp_path / "c3"))
    assert c.snapshot().count() == 90
    assert c.snapshot().filter("id < 10").count() == 0
    # materializing the MOR deletes on the clone writes LOCAL files
    # and drops the absolute references for the rewritten data
    c.compact(target_rows=1000)
    assert c.snapshot().count() == 90
    assert len(_own_files(c)) >= 1
    # source unaffected, still MOR
    assert source.snapshot().count() == 90


def test_clone_after_rename_carries_mapping(spark, source, tmp_path):
    source.rename_column("val", "value")
    c = source.clone(str(tmp_path / "c4"))
    snap = c.snapshot()
    assert snap.columns == ["id", "name", "value"]
    assert snap.filter(F.col("value").isNotNull()).count() == 100
    # and the clone can rename independently
    c.rename_column("value", "v2")
    assert c.snapshot().columns == ["id", "name", "v2"]
    assert source.snapshot().columns == ["id", "name", "value"]


def test_cow_delete_on_clone(spark, source, tmp_path):
    """A delete then compact on a clone must resolve cloned
    (absolute-path) records against the scan's data/<basename> keys
    — a path-equality compare silently no-ops."""
    c = source.clone(str(tmp_path / "c9"))
    src_files = _own_files(source)
    c.delete_mor("id < 10")
    v = c.compact()
    assert c.snapshot().count() == 90
    assert c.snapshot().filter("id < 10").count() == 0
    assert v == c.latest_version()
    # source untouched, clone's rewrite local
    assert source.snapshot().count() == 100
    assert _own_files(source) == src_files
    assert len(_own_files(c)) >= 1


def test_clone_of_clone_and_vacuum_isolation(spark, source, tmp_path):
    c1 = source.clone(str(tmp_path / "c6"))
    c2 = c1.clone(str(tmp_path / "c7"))
    assert _rows(c2.snapshot()) == _rows(source.snapshot())
    # aggressive vacuum on the clones sweeps nothing of the source
    src_files_before = _own_files(source)
    c1.vacuum(keep_last=1, retention_seconds=0)
    c2.vacuum(keep_last=1, retention_seconds=0)
    assert _own_files(source) == src_files_before
    assert _rows(c2.snapshot()) == _rows(source.snapshot())


def test_chained_clone_of_mutated_cdf_clone(spark, tmp_path):
    """r9b: clone a MUTATED clone — c1 carries a mix of source-dir
    references, c1-local COW files, and a c1-local deletion vector
    when c2 is cut, so c2's referenced set spans two foreign data
    dirs with a transferred DV. c2 must read exactly c1's live rows,
    and mutations must stay independent across all three tables."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "src"),
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(40)],
            "id long, name string, val double",
        ).repartition(4, "id"),
        key_cols=["id"],
    )
    c1 = src.clone(str(tmp_path / "c1"))
    # mutate c1: COW merge (c1-local file) + MOR delete (c1-local DV)
    c1.merge(
        spark.createDataFrame(
            [(3, "m", 3.5), (100, "new", 1.0)],
            "id long, name string, val double",
        )
    )
    c1.delete_mor("id >= 35 AND id < 40")
    c2 = c1.clone(str(tmp_path / "c2"))
    assert _rows(c2.snapshot()) == _rows(c1.snapshot())
    # mutate all three; snapshots stay independent
    before_src = _rows(src.snapshot())
    before_c1 = _rows(c1.snapshot())
    c2.merge(
        spark.createDataFrame([(0, "c2", -1.0)], "id long, name string, val double")
    )
    c2.delete_mor("id = 7")
    c2.compact()
    assert _rows(src.snapshot()) == before_src
    assert _rows(c1.snapshot()) == before_c1
    # c2 vacuum sweeps nothing from src's or c1's data dirs
    sf, c1f = _own_files(src), _own_files(c1)
    c2.vacuum(keep_last=1, retention_seconds=0)
    assert _own_files(src) == sf and _own_files(c1) == c1f
    assert _rows(src.snapshot()) == before_src
    assert _rows(c1.snapshot()) == before_c1


def test_compact_deletes_on_dv_transferred_clone(spark, tmp_path):
    """r11 matrix read (DV transfer x DV-pressure compact): a clone
    inherits the source's live deletion vectors over ABSOLUTE file
    paths; compact must key them through _dv_key (basename
    scoping), rewrite only the over-threshold shared files INTO THE
    CLONE's data dir, drop exactly their now-inert DV rows, and leave
    the source untouched."""
    from lcmap_firebird_spark.lakehouse import _dv_key

    src = LakeTable.create(
        spark,
        str(tmp_path / "dvsrc"),
        spark.createDataFrame(
            [(i, float(i)) for i in range(20)], "id long, val double"
        ),
        key_cols=["id"],
    )
    src.delete_mor("id < 12")
    c = src.clone(str(tmp_path / "dvclone"))
    src_v = src.latest_version()
    # 5-row files: the three with deletes are over the DV threshold
    # (and small), the clean one is not small at target_rows=5
    c.compact(target_rows=5)
    assert sorted(r["id"] for r in c.snapshot().collect()) == list(
        range(12, 20)
    )
    # source untouched (log AND data)
    assert src.latest_version() == src_v
    assert sorted(r["id"] for r in src.snapshot().collect()) == list(
        range(12, 20)
    )
    live, _ = c._live()
    data = [r for r in live if r.get("kind") != "dv"]
    dvs = [r for r in live if r.get("kind") == "dv"]
    shared = [r for r in data if os.path.isabs(r["path"])]
    local = [r for r in data if not os.path.isabs(r["path"])]
    assert local, "over-threshold files were not rewritten locally"
    # surviving DV rows may only cover still-shared files (rewritten
    # files' rows are dropped, never orphaned)
    for key in c._dv_counts(dvs):
        assert any(_dv_key(r["path"]) == key for r in shared), (
            f"orphan DV rows for {key}"
        )
    # rewrites materialized every transferred delete for the targets:
    # a fresh pass at the same threshold finds nothing to do
    v1 = c.latest_version()
    assert c.compact(target_rows=5) == v1


def test_clone_materializing_all_dvs_survives_source_vacuum(
    spark, tmp_path
):
    """r12 matrix read (r11 VERDICT #2: DV transfer x DV-pressure
    compact x CLONE x source vacuum). A clone whose compact rewrote
    EVERY covered shared file holds no absolute reference left — it
    has escaped the documented 'clones pin the source's retention'
    caveat. The source's history may then move on and vacuum its old
    files (data AND DV parquet) without breaking the clone: reads on
    the clone return the same rows after the sweep, from clone-local
    files only."""
    src = LakeTable.create(
        spark,
        str(tmp_path / "vsrc"),
        spark.createDataFrame(
            [(i, float(i)) for i in range(30)], "id long, val double"
        ).repartition(3, "id"),
        key_cols=["id"],
    )
    # even ids die — hash partitioning spreads them over every file,
    # so every data file is covered and over any sane threshold
    src.delete_mor("id % 2 = 0")
    c = src.clone(str(tmp_path / "vclone"))
    c.compact()
    live, _ = c._live()
    assert not any(os.path.isabs(r["path"]) for r in live), (
        "clone still references the source after materializing all DVs"
    )
    want = sorted(r["id"] for r in c.snapshot().collect())
    assert want == list(range(1, 30, 2))
    # source moves on and sweeps everything its own head no longer
    # references (controlled-maintenance retention=0 sweep)
    src_data = _own_files(src)
    assert src_data  # the shared files existed
    src.delete_mor("true")
    src.compact()  # rewrites every file and retires the DV rows
    swept = src.vacuum(keep_last=1, retention_seconds=0)
    assert swept, "source vacuum swept nothing — setup is wrong"
    # the clone is unaffected: same rows, clone-local files only
    assert sorted(r["id"] for r in c.snapshot().collect()) == want
    assert c.snapshot().filter("id = 3").count() == 1
