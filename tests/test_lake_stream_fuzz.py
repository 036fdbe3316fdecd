"""Randomized exactly-once resume fuzz for the CDF streaming source.

A seeded random commit sequence (append / merge / delete then
compact / delete / apply_changes) is interleaved with availableNow drains
at random points — every drain is a full stop/restart from the same
checkpoint. Invariant: the union of all streamed change rows equals,
as a multiset, the concatenation of `table_changes(v-1, v)` over
every data commit — each change row delivered EXACTLY once, no
matter where the restarts landed. Composes the CDF replay-closure
contract (test_cdf_closure) with the streaming offset contract
(offsets are commit versions)."""

from __future__ import annotations

import random
from collections import Counter

import pytest

from lcmap_firebird_spark.lakehouse import LakeTable

from .helpers import fuzz_seeds

from .helpers import skip_unless_slow

skip_unless_slow("CDF exactly-once fuzz under random restarts (~200 s)")

SCHEMA = "id long, name string, val double"


def _seeds(default):
    """This suite's widening hook: helpers.fuzz_seeds at base 8100
    (per-suite bases keep swept seed sets distinct across files)."""
    return fuzz_seeds(default, base=8100)


@pytest.mark.parametrize("identity", [None, "rid"])
@pytest.mark.parametrize("seed", _seeds([29]))
def test_cdf_stream_exactly_once_under_random_restarts(
    spark, tmp_path, seed, identity
):
    """The identity='rid' leg additionally crosses exactly-once
    restarts with engine-assigned identity values: every writer frame
    omits rid, and streamed change rows must STILL equal the
    per-commit table_changes diffs with rid included — merge and
    apply_changes share one rewrite (LakeTable._keyed_rewrite) whose
    change files carry write-time-filled values
    (_fill_identity_in_changes), delete change files carry scanned
    values, and append inserts materialize from their add files'
    reserved ranges; no reader fills identity (r8)."""
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    try:
        spark.dataSource.register(LakeDataSource)
    except Exception:
        pass
    rng = random.Random(seed)
    root = str(tmp_path / f"fuzztbl{identity or 'plain'}")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(i, f"n{i}", float(i)) for i in range(30)], SCHEMA),
        key_cols=["id"],
        enable_cdf=True,
        identity=identity,
    )
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
        q = (
            spark.readStream.format("lake")
            .option("path", root)
            .option("readChangeFeed", "true")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)

    next_id = 1000
    n_drains = 0
    for step in range(10):
        op = rng.choice(["append", "merge", "delete", "delete_mor", "apply"])
        if op == "append":
            t.append(
                spark.createDataFrame(
                    [(next_id, f"a{step}", float(step))], SCHEMA
                )
            )
            next_id += 1
        elif op == "merge":
            t.merge(
                spark.createDataFrame(
                    [(rng.randrange(30), f"m{step}", step + 0.5)], SCHEMA
                )
            )
        elif op == "delete":
            lo = rng.randrange(0, 1100)
            t.delete_mor(f"id >= {lo} AND id < {lo + 15}")
            t.compact(target_rows=1_000)
        elif op == "delete_mor":
            lo = rng.randrange(0, 1100)
            t.delete_mor(f"id >= {lo} AND id < {lo + 15}")
        elif op == "apply":
            t.apply_changes(
                spark.createDataFrame(
                    [(next_id, f"c{step}", 9.0, "upsert")],
                    SCHEMA + ", _op string",
                )
            )
            next_id += 1
        # random restart point; a swept seed with no mid-drain by the
        # last step gets one forced (the n_drains >= 2 resume guard
        # must hold for every seed, and rng consumption is unchanged —
        # rng.random() is always drawn first)
        if rng.random() < 0.4 or (step == 9 and n_drains == 0):
            drain()
            n_drains += 1
    drain()  # final catch-up
    n_drains += 1
    assert n_drains >= 2, "fuzz must exercise at least one resume"

    streamed = Counter(
        tuple(r)
        for r in spark.read.parquet(out)
        .drop("_commit_version")
        .collect()
    )
    expected: Counter = Counter()
    for v in range(1, t.latest_version() + 1):
        for r in t.table_changes(v - 1, v).collect():
            expected[tuple(r)] += 1
    assert streamed == expected, f"seed {seed}: streamed feed != per-commit diffs"


@pytest.mark.parametrize("identity", [None, "rid"])
@pytest.mark.parametrize("seed", _seeds([41]))
def test_cdf_stream_exactly_once_on_clone(spark, tmp_path, seed, identity):
    """r9: the same exactly-once restart fuzz with a CLONE as the
    streamed table — the last uncrossed pair (clone x streaming CDF x
    identity). The source accretes history INCLUDING MOR deletes, so
    the clone commit carries transferred deletion vectors; streaming
    from version 0 must deliver the clone's initial population as
    DV-masked derived inserts exactly once, then tail the clone's own
    commits — and the whole feed must equal the clone's per-commit
    table_changes diffs as a multiset. Mutating the clone must leave
    the SOURCE's own feed untouched (cross-contamination check)."""
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    try:
        spark.dataSource.register(LakeDataSource)
    except Exception:
        pass
    rng = random.Random(seed)
    src_root = str(tmp_path / f"src{identity or 'plain'}")
    src = LakeTable.create(
        spark,
        src_root,
        spark.createDataFrame([(i, f"n{i}", float(i)) for i in range(30)], SCHEMA),
        key_cols=["id"],
        enable_cdf=True,
        identity=identity,
    )
    # pre-clone source history: a merge + a MOR delete (DVs transfer)
    src.merge(spark.createDataFrame([(3, "pre", 3.5)], SCHEMA))
    src.delete_mor("id >= 25")
    src_changes: Counter = Counter()
    for v in range(1, src.latest_version() + 1):
        for r in src.table_changes(v - 1, v).collect():
            src_changes[tuple(r)] += 1

    t = src.clone(str(tmp_path / f"clone{identity or 'plain'}"))
    assert t._cdf_enabled()
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    def drain():
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
        q.awaitTermination(180)

    next_id = 1000
    n_drains = 0
    for step in range(8):
        op = rng.choice(["append", "merge", "delete", "delete_mor", "apply"])
        if op == "append":
            t.append(
                spark.createDataFrame(
                    [(next_id, f"a{step}", float(step))], SCHEMA
                )
            )
            next_id += 1
        elif op == "merge":
            t.merge(
                spark.createDataFrame(
                    [(rng.randrange(25), f"m{step}", step + 0.5)], SCHEMA
                )
            )
        elif op == "delete":
            lo = rng.randrange(0, 1100)
            t.delete_mor(f"id >= {lo} AND id < {lo + 15}")
            t.compact(target_rows=1_000)
        elif op == "delete_mor":
            lo = rng.randrange(0, 1100)
            t.delete_mor(f"id >= {lo} AND id < {lo + 15}")
        elif op == "apply":
            t.apply_changes(
                spark.createDataFrame(
                    [(next_id, f"c{step}", 9.0, "upsert")],
                    SCHEMA + ", _op string",
                )
            )
            next_id += 1
        if rng.random() < 0.4 or (step == 7 and n_drains == 0):
            drain()
            n_drains += 1
    drain()
    n_drains += 1
    assert n_drains >= 2, "fuzz must exercise at least one resume"

    streamed = Counter(
        tuple(r)
        for r in spark.read.parquet(out).drop("_commit_version").collect()
    )
    expected: Counter = Counter()
    for v in range(1, t.latest_version() + 1):
        for r in t.table_changes(v - 1, v).collect():
            expected[tuple(r)] += 1
    assert streamed == expected, f"seed {seed}: clone feed != per-commit diffs"
    # the clone's initial population arrived DV-masked: no id >= 25
    # row ever streams as an insert of the clone commit
    v1_inserts = [
        r
        for r in spark.read.parquet(out)
        .filter("_commit_version = 1 AND _change_type = 'insert'")
        .collect()
    ]
    assert v1_inserts and all(r["id"] < 25 for r in v1_inserts)
    # cross-contamination: the SOURCE's own feed is unchanged
    src_after: Counter = Counter()
    for v in range(1, src.latest_version() + 1):
        for r in src.table_changes(v - 1, v).collect():
            src_after[tuple(r)] += 1
    assert src_after == src_changes
