"""Model-based lakehouse check: a deterministic pseudo-random
sequence of mixed table operations (append / merge / delete then
compact / delete / compact (twice, two sizes) / cluster / restore /
metadata-only column RENAME)
mirrored against an in-memory dict model — after EVERY step the
snapshot must equal the model, and at the end every historical
version must still time-travel to its recorded state (except those
the final vacuum retired). Row comparison is POSITIONAL (column
order is rename-stable), so renames interleave freely with every
data operation."""

from __future__ import annotations

import random

from lcmap_firebird_spark.lakehouse import LakeTable

SCHEMA = "id long, name string, val double"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _model_rows(model):
    return sorted((k, v[0], v[1]) for k, v in model.items())


import pytest

from .helpers import fuzz_seeds, slow_enabled, skip_unless_slow

skip_unless_slow("model-based random-op fuzz (~15 s/seed; lakehouse functional ops covered by test_lakehouse)")


@pytest.mark.parametrize(
    "seed",
    fuzz_seeds([1234, 99] if slow_enabled() else [99], base=8200),
)
def test_random_op_sequence_matches_dict_model(spark, tmp_path, seed):
    rng = random.Random(seed)  # deterministic: reruns identical
    root = str(tmp_path / f"mtbl{seed}")
    model: dict[int, tuple[str, float]] = {
        i: (f"n{i}", float(i)) for i in range(40)
    }
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in model.items()], SCHEMA
        ),
        key_cols=["id"],
    )
    history = {t.latest_version(): _model_rows(model)}
    next_id = 1000
    # semantic -> CURRENT logical name (renames move these; writer
    # frames must always use the logical names in force)
    cols = {"name": "name", "val": "val"}

    def _schema():
        return f"id long, {cols['name']} string, {cols['val']} double"

    def df_of(rows):
        return spark.createDataFrame(rows, _schema())

    for step in range(24):
        op = rng.choice(
            [
                "append", "merge", "delete", "delete_mor",
                "compact", "compact_deletes", "cluster", "restore",
                "rename",
            ]
        )
        if op == "append":
            rows = []
            for _ in range(rng.randint(1, 4)):
                rows.append((next_id, f"a{next_id}", float(step)))
                model[next_id] = (f"a{next_id}", float(step))
                next_id += 1
            t.append(df_of(rows))
        elif op == "merge":
            keys = rng.sample(sorted(model) or [next_id], k=min(3, len(model)))
            keys.append(next_id)
            rows = [(k, f"m{step}", float(step) + 0.5) for k in set(keys)]
            for k, n, v in rows:
                model[k] = (n, v)
            next_id += 1
            t.merge(df_of(rows))
        elif op == "delete":
            cut = rng.choice([3, 5, 7])
            t.delete_mor(f"id % {cut} = 0")
            t.compact(target_rows=1_000)
            model = {k: v for k, v in model.items() if k % cut != 0}
        elif op == "delete_mor":
            lo = rng.randint(0, 900)
            t.delete_mor(f"id >= {lo} AND id < {lo + 300}")
            model = {
                k: v for k, v in model.items() if not (lo <= k < lo + 300)
            }
        elif op == "compact":
            t.compact(target_rows=1_000)
        elif op == "compact_deletes":
            t.compact()
        elif op == "cluster":
            t.cluster()
        elif op == "rename":
            # metadata-only rename of a random non-key column; data
            # ops before and after must read/write through the moved
            # logical name while physical bytes stay put
            sem = rng.choice(["name", "val"])
            new = f"{sem}_{step}"
            t.rename_column(cols[sem], new)
            cols[sem] = new
        elif op == "restore":
            target = rng.choice(sorted(history))
            t.restore(target)
            model = {
                k: (n, v) for k, n, v in history[target]
            }
        got = _rows(t.snapshot())
        want = _model_rows(model)
        assert got == want, f"step {step} ({op}): snapshot != model"
        history[t.latest_version()] = want

    # every recorded version still time-travels to its state — by
    # version number AND by its recorded commit timestamp
    entry_ts = {e["version"]: e["ts"] for e in t._entries()}
    for v, want in history.items():
        assert _rows(t.snapshot(version=v)) == want, f"version {v}"
        assert t.version_at(entry_ts[v]) == v
        assert _rows(t.snapshot(as_of=entry_ts[v])) == want, f"ts of v{v}"

    # aggressive vacuum keeps only the head readable — and the head
    # still equals the model afterwards
    t.vacuum(keep_last=1, retention_seconds=0)
    assert _rows(t.snapshot()) == _model_rows(model)
