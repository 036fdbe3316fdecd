"""CDF replay closure, fuzzed: for ANY two versions v1 < v2 of a
table driven by a random mixed-op sequence (append / merge / delete
then compact / delete / apply_changes / compact / cluster / rename),
applying `table_changes(v1, v2)` to `snapshot(v1)` must reproduce
`snapshot(v2)` as a multiset — i.e. the change feed is a complete,
non-redundant row-level diff under every commit mix, including
layout-only commits (which must diff to EMPTY) and metadata-only
renames (positional row identity). This is the algebraic contract a
downstream incremental consumer relies on; the point-case CDF tests
in test_lakehouse.py pin attribution, this pins closure.
"""

from __future__ import annotations

import random
from collections import Counter

import pytest

from .helpers import fuzz_seeds, slow_enabled, skip_unless_slow

skip_unless_slow("CDF random-op replay-closure fuzz (~80 s; functional CDF coverage stays in test_lakehouse/test_identity/test_clone)")

from lcmap_firebird_spark.lakehouse import LakeTable

SCHEMA = "id long, name string, val double"


def _multiset(df):
    return Counter(tuple(r) for r in df.collect())


def _apply(base: Counter, changes) -> Counter:
    out = Counter(base)
    for r in changes.collect():
        row, kind = tuple(r)[:-1], r["_change_type"]
        if kind in ("delete", "update_preimage"):
            out[row] -= 1
            if out[row] <= 0:
                del out[row]
        elif kind in ("insert", "update_postimage"):
            out[row] += 1
        else:  # unknown change type would silently corrupt the replay
            raise AssertionError(f"unexpected _change_type {kind!r}")
    return out


@pytest.mark.parametrize(
    "seed",
    fuzz_seeds([5, 17] if slow_enabled() else [5], base=8300),
)
def test_table_changes_replay_closure(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / f"cdf{seed}")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, f"n{i}", float(i)) for i in range(60)], SCHEMA
        ),
        key_cols=["id"],
    )
    cols = {"name": "name", "val": "val"}
    layout_only: set[int] = set()  # versions created by compact/cluster
    next_id = 1000
    for step in range(16):
        op = rng.choice(
            ["append", "merge", "delete", "delete_mor",
             "apply_changes", "compact", "cluster", "rename"]
        )
        schema = f"id long, {cols['name']} string, {cols['val']} double"
        if op == "append":
            t.append(
                spark.createDataFrame(
                    [(next_id + i, f"a{step}", float(step)) for i in range(3)],
                    schema,
                )
            )
            next_id += 3
        elif op == "merge":
            ids = [rng.randrange(60), next_id]
            next_id += 1
            t.merge(
                spark.createDataFrame(
                    [(k, f"m{step}", step + 0.5) for k in set(ids)], schema
                )
            )
        elif op == "delete":
            lo = rng.randrange(0, 1200)
            t.delete_mor(f"id >= {lo} AND id < {lo + 40}")
            t.compact(target_rows=1_000)
        elif op == "delete_mor":
            lo = rng.randrange(0, 1200)
            t.delete_mor(f"id >= {lo} AND id < {lo + 40}")
        elif op == "apply_changes":
            rows = [(next_id, f"c{step}", 9.0, "upsert"),
                    (rng.randrange(60), None, None, "delete")]
            next_id += 1
            t.apply_changes(
                spark.createDataFrame(rows, schema + ", _op string")
            )
        elif op == "compact":
            t.compact(target_rows=1_000)
            layout_only.add(t.latest_version())
        elif op == "cluster":
            t.cluster()
            layout_only.add(t.latest_version())
        elif op == "rename":
            sem = rng.choice(["name", "val"])
            new = f"{sem}_{step}"
            t.rename_column(cols[sem], new)
            cols[sem] = new
            layout_only.add(t.latest_version())  # metadata-only

    head = t.latest_version()
    snaps = {v: _multiset(t.snapshot(version=v)) for v in range(head + 1)}
    # every adjacent window + a handful of random wide windows
    windows = [(v, v + 1) for v in range(head)]
    windows += [tuple(sorted(rng.sample(range(head + 1), 2))) for _ in range(8)]
    windows.append((0, head))
    for v1, v2 in windows:
        if v1 == v2:
            continue
        ch = t.table_changes(v1, v2)
        got = _apply(snaps[v1], ch)
        assert got == snaps[v2], f"replay {v1}->{v2} diverged (seed {seed})"
    # layout-only and metadata-only commits must diff to EMPTY
    for v in sorted(layout_only):
        assert t.table_changes(v - 1, v).count() == 0, (
            f"layout/metadata commit v{v} produced phantom changes"
        )
