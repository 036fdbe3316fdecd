"""Combined lakehouse feature-mix fuzz (r7 VERDICT next-round #5):
column mapping (rename + drop + re-add of the SAME logical name)
and shallow clones interleaved with every rewrite class
(append/merge/delete then compact/delete/compact at two
sizes/cluster/restore) in ONE random mix — feature interactions are
where the r5-r7 bugs clustered (column rebirth, vacuum-vs-clone).

Model notes:
- the extra column is tracked per row as (generation, value): a
  drop + re-add of logical name `extra` creates a new GENERATION
  (fresh physical name), and a row only displays its value when its
  generation matches the live one — the no-resurrection contract.
- restore keeps the NEWER schema (documented in lakehouse.restore)
  but re-references the target version's files, so the model rolls
  data back while the column state stays put.
- clone appends must not disturb the source.

Default run pins two seeds; set SPARK_GRAFT_FUZZ_SEEDS=n to sweep n
random seeds (the r8 closeout ran 12)."""

from __future__ import annotations

import copy
import os
import random

import pytest

from lcmap_firebird_spark.lakehouse import LakeTable

from .helpers import skip_unless_slow

skip_unless_slow("combined-feature fuzz mix (~260 s)")


def test_merge_writer_contract(spark, tmp_path):
    """Point regression for the r8 combined-mix finding: merge follows
    the SAME writer contract as append (_conform) — a source omitting
    an evolution-added column null-fills it (pre-evolution writers
    stay valid after add_column), a misspelled column raises instead
    of silently dropping its data, and an absent key column is
    refused instead of null-filled into the match (the old
    hand-rolled projection crashed on the first)."""
    root = str(tmp_path / "wc")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame([(1, "a"), (2, "b")], "id long, name string"),
        key_cols=["id"],
    )
    t.add_column("extra", "double")
    # pre-evolution shape: no `extra` column (its hand-rolled
    # projection crashed on this omission — found by the mix, r8)
    t.merge(spark.createDataFrame([(1, "a3"), (5, "e")], "id long, name string"))
    rows = sorted(tuple(r) for r in t.snapshot().collect())
    assert rows == [(1, "a3", None), (2, "b", None), (5, "e", None)]
    # misspelled column: loud, not silent data loss
    with pytest.raises(ValueError, match="nme"):
        t.merge(spark.createDataFrame([(3, "x")], "id long, nme string"))
    # an absent KEY column is refused, never null-filled into a merge
    with pytest.raises(ValueError, match="key column"):
        t.merge(spark.createDataFrame([("x",)], "name string"))


def test_strict_original_conform(spark, tmp_path):
    """r8 ADVICE: merge confines the silent null-fill to
    EVOLUTION-ADDED columns. A source omitting a create-time column
    raises (the fill would NULL-overwrite existing values on update);
    the evolution-added fill keeps working; tracking is by PHYSICAL
    identity so a rename follows the column and a drop+re-add counts
    as evolution-added."""
    root = str(tmp_path / "strict")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(1, "a", 1.0), (2, "b", 2.0)], "id long, name string, val double"
        ),
        key_cols=["id"],
    )
    # omit ORIGINAL column `val` -> loud
    with pytest.raises(ValueError, match="original-schema"):
        t.merge(spark.createDataFrame([(1, "a2")], "id long, name string"))
    # evolution-added columns still null-fill silently
    t.add_column("extra", "double")
    t.merge(
        spark.createDataFrame(
            [(1, "a2", 1.5)], "id long, name string, val double"
        )
    )
    assert sorted(tuple(r) for r in t.snapshot().collect()) == [
        (1, "a2", 1.5, None),
        (2, "b", 2.0, None),
    ]
    # rename an original column: the strict check follows the
    # PHYSICAL column, so omitting it under the NEW name still raises
    t.rename_column("val", "score")
    with pytest.raises(ValueError, match="original-schema"):
        t.merge(spark.createDataFrame([(2, "b2")], "id long, name string"))
    # drop + re-add of an original name = a NEW physical column =
    # evolution-added: omission null-fills
    t.drop_column("score")
    t.add_column("score", "double")
    t.merge(spark.createDataFrame([(2, "b2")], "id long, name string"))
    got = sorted(tuple(r) for r in t.snapshot().select("id", "name", "score").collect())
    assert got == [(1, "a2", None), (2, "b2", None)]
    # append keeps the permissive contract (no strict check): a
    # partial append inserts NULLs but overwrites nothing
    t.append(spark.createDataFrame([(9, "i")], "id long, name string"))
    assert t.snapshot().filter("id = 9").count() == 1


def _seeds():
    n = int(os.environ.get("SPARK_GRAFT_FUZZ_SEEDS", "0"))
    if n:
        return list(range(8000, 8000 + n))
    return [7, 31]


def _display(model, live_gen):
    """Expected (id, name, val, extra) rows under the live extra
    generation (None = no extra column)."""
    out = []
    for k, (name, val, gen, ev) in sorted(model.items()):
        if live_gen is None:
            out.append((k, name, val))
        else:
            out.append((k, name, val, ev if gen == live_gen else None))
    return out


def _got(t, cols, extra_live, version=None):
    sel = ["id", cols["name"], cols["val"]] + (
        ["extra"] if extra_live else []
    )
    rows = t.snapshot(version=version).select(*sel).collect()
    return sorted(tuple(r) for r in rows)


@pytest.mark.parametrize("seed", _seeds())
def test_combined_feature_mix(spark, tmp_path, seed):
    rng = random.Random(seed)
    root = str(tmp_path / f"mix{seed}")
    # model: id -> (name, val, extra_gen, extra_val)
    model = {i: (f"n{i}", float(i), -1, None) for i in range(30)}
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(k, v[0], v[1]) for k, v in model.items()],
            "id long, name string, val double",
        ),
        key_cols=["id"],
    )
    cols = {"name": "name", "val": "val"}
    extra_gen: int | None = None  # live generation of `extra`, if any
    gen_counter = 0
    next_id = 1000
    # per-version record: (model snapshot, cols, extra_gen)
    history = {t.latest_version(): (copy.deepcopy(model), dict(cols), extra_gen)}
    clone_n = 0
    # r9: the first clone becomes a persistent leg mutated every
    # step alongside the source, with cross-contamination checks
    # after every mutation
    active_clone: dict | None = None

    def _wschema(with_extra):
        s = f"id long, {cols['name']} string, {cols['val']} double"
        return s + (", extra double" if with_extra else "")

    # 20 steps by default; SPARK_GRAFT_FUZZ_STEPS=n runs longer
    # histories (deep restores, many extra-column generations, long
    # checkpoint replays) without touching the seeded op sequence of
    # the default run's prefix
    n_steps = int(os.environ.get("SPARK_GRAFT_FUZZ_STEPS", "20"))
    for step in range(n_steps):
        op = rng.choice(
            [
                "append", "merge", "delete", "delete_mor",
                "compact", "compact_deletes", "cluster", "restore",
                "rename", "addcol", "dropcol", "clone", "checkpoint",
                "safe_vacuum",
            ]
        )
        if op == "append":
            with_extra = extra_gen is not None and rng.random() < 0.7
            rows = []
            for _ in range(rng.randint(1, 3)):
                ev = float(step) + 0.25 if with_extra else None
                rows.append(
                    (next_id, f"a{next_id}", float(step))
                    + ((ev,) if with_extra else ())
                )
                model[next_id] = (
                    f"a{next_id}",
                    float(step),
                    extra_gen if extra_gen is not None else -1,
                    ev,
                )
                next_id += 1
            t.append(spark.createDataFrame(rows, _wschema(with_extra)))
        elif op == "merge":
            with_extra = extra_gen is not None and rng.random() < 0.7
            keys = rng.sample(sorted(model) or [next_id], k=min(3, len(model)))
            keys.append(next_id)
            next_id += 1
            rows = []
            for k in set(keys):
                ev = float(step) + 0.5 if with_extra else None
                rows.append(
                    (k, f"m{step}", float(step))
                    + ((ev,) if with_extra else ())
                )
                # merge REPLACES the whole row (absent cols null-fill)
                model[k] = (
                    f"m{step}",
                    float(step),
                    extra_gen if extra_gen is not None else -1,
                    ev,
                )
            t.merge(spark.createDataFrame(rows, _wschema(with_extra)))
        elif op == "delete":
            cut = rng.choice([3, 5, 7])
            t.delete_mor(f"id % {cut} = 0")
            t.compact(target_rows=1_000)
            model = {k: v for k, v in model.items() if k % cut != 0}
        elif op == "delete_mor":
            lo = rng.randint(0, 1100)
            t.delete_mor(f"id >= {lo} AND id < {lo + 200}")
            model = {
                k: v for k, v in model.items() if not (lo <= k < lo + 200)
            }
        elif op == "compact":
            t.compact(target_rows=1_000)
        elif op == "compact_deletes":
            t.compact()
        elif op == "cluster":
            t.cluster()
        elif op == "restore":
            target = rng.choice(sorted(history))
            t.restore(target)
            model = copy.deepcopy(history[target][0])
            # schema/mapping stay the NEWER ones (restore contract);
            # cols/extra_gen unchanged
        elif op == "rename":
            sem = rng.choice(["name", "val"])
            new = f"{sem}_{step}"
            t.rename_column(cols[sem], new)
            cols[sem] = new
        elif op == "addcol":
            if extra_gen is None:
                t.add_column("extra", "double")
                extra_gen = gen_counter
                gen_counter += 1
            else:
                t.drop_column("extra")
                extra_gen = None
        elif op == "dropcol":
            if extra_gen is not None:
                t.drop_column("extra")
                extra_gen = None
            else:
                t.add_column("extra", "double")
                extra_gen = gen_counter
                gen_counter += 1
        elif op == "checkpoint":
            # log checkpoint: pure metadata, no row change — crosses
            # checkpointed-log replay with mapping state
            t.checkpoint_log()
        elif op == "safe_vacuum":
            # conservative sweep (huge retention): must delete NOTHING
            # and disturb nothing — runs the liveness logic mid-mix
            removed = t.vacuum(keep_last=1, retention_seconds=1e9)
            assert removed == [], f"step {step}: safe vacuum removed {removed}"
        elif op == "clone":
            dest = str(tmp_path / f"clone{seed}_{clone_n}")
            clone_n += 1
            c = t.clone(dest)
            assert _got(c, cols, extra_gen is not None) == _display(
                model, extra_gen
            ), f"step {step}: clone != model"
            if active_clone is None:
                # r9 (r8 VERDICT #2): the FIRST clone becomes a
                # persistent leg — from here on BOTH tables keep
                # mutating independently.
                active_clone = {
                    "t": c,
                    "model": copy.deepcopy(model),
                    "cols": dict(cols),
                    "extra_gen": extra_gen,
                    "next_id": 50_000,
                    "step_tag": step,
                    # r9b: the clone leg gained its own schema-evolution
                    # ops — clone-side generations draw from a disjoint
                    # range so a clone re-add can never alias a source
                    # generation in the model
                    "gen_counter": 1_000,
                    "ver": c.latest_version(),
                    "history": {
                        c.latest_version(): (
                            copy.deepcopy(model),
                            dict(cols),
                            extra_gen,
                        )
                    },
                }
            else:
                # later clones stay throwaway: mutate once, check
                # independence, move on (pre-r9 behavior)
                c.append(
                    spark.createDataFrame(
                        [(90_000 + step, "cl", -1.0)], _wschema(False)
                    )
                )

        got = _got(t, cols, extra_gen is not None)
        want = _display(model, extra_gen)
        assert got == want, f"seed {seed} step {step} ({op}): snapshot != model"
        v_after = t.latest_version()

        if active_clone is not None and active_clone["t"].root != t.root:
            ac = active_clone
            c, cm = ac["t"], ac["model"]
            ccols, cgen = ac["cols"], ac["extra_gen"]
            c_has_extra = cgen is not None

            def _crow(k, name, val, ev):
                # clone writers must supply EVERY original clone
                # column explicitly (strict_original: 'extra' live at
                # clone time is part of the clone's create schema)
                return (k, name, val) + ((ev,) if c_has_extra else ())

            def _cschema(tail=""):
                s = (
                    f"id long, {ccols['name']} string,"
                    f" {ccols['val']} double"
                )
                return s + (", extra double" if c_has_extra else "") + tail

            # source ops must never advance the CLONE's log (the
            # mirror of the clone->source independence check below)
            assert c.latest_version() == ac["ver"], (
                f"seed {seed} step {step}: source op ({op}) advanced"
                " the CLONE log"
            )
            cv_before = c.latest_version()
            cop = rng.choice(
                [
                    "append", "merge", "delete", "compact", "rename",
                    "togglecol", "restore", "checkpoint",
                    "ckpt_restore",
                ]
            )
            if cop == "append":
                k = ac["next_id"]
                ac["next_id"] += 1
                ev = float(step) + 0.75 if c_has_extra else None
                c.append(
                    spark.createDataFrame(
                        [_crow(k, f"ca{k}", float(step), ev)], _cschema()
                    )
                )
                cm[k] = (f"ca{k}", float(step), cgen if cgen is not None else -1, ev)
            elif cop == "merge":
                keys = rng.sample(sorted(cm) or [ac["next_id"]], k=min(2, len(cm)))
                keys.append(ac["next_id"])
                ac["next_id"] += 1
                rows = []
                for k in set(keys):
                    ev = float(step) + 0.125 if c_has_extra else None
                    rows.append(_crow(k, f"cm{step}", float(step), ev))
                    cm[k] = (f"cm{step}", float(step), cgen if cgen is not None else -1, ev)
                c.merge(spark.createDataFrame(rows, _cschema()))
            elif cop == "delete":
                cut = rng.choice([2, 3, 7])
                c.delete_mor(f"id % {cut} = 1")
                c.compact(target_rows=1_000)
                for k in [k for k in cm if k % cut == 1]:
                    cm.pop(k)
            elif cop == "compact":
                c.compact(target_rows=1_000)
            elif cop == "rename":
                # r9b: renames on the CLONE — the transferred column
                # mapping must evolve independently of the source's
                # (fresh physical translation on the clone, source
                # logical names untouched).
                sem = rng.choice(["name", "val"])
                new = f"c{sem}_{step}"
                c.rename_column(ccols[sem], new)
                ac["cols"][sem] = new
            elif cop == "togglecol":
                # r9b: drop + re-add of `extra` on the CLONE — the
                # re-added column gets a fresh clone-side physical name;
                # source rows written under source generations must
                # never resurrect through it (and vice versa)
                if cgen is not None:
                    c.drop_column("extra")
                    ac["extra_gen"] = None
                else:
                    c.add_column("extra", "double")
                    ac["extra_gen"] = ac["gen_counter"]
                    ac["gen_counter"] += 1
            elif cop == "restore":
                # r9b: restore on the CLONE — rolls clone data back
                # (possibly to v1, whose files live in the SOURCE's
                # data dir by absolute path) while keeping the newer
                # clone schema; the source log must not move
                target = rng.choice(sorted(ac["history"]))
                c.restore(target)
                ac["model"] = copy.deepcopy(ac["history"][target][0])
                cm = ac["model"]
            elif cop == "checkpoint":
                # r10 (round-11 candidate pulled forward): checkpoint
                # the CLONE's log mid-mix — checkpointed replay must
                # carry the clone's own mapping
                # state, restores to pre-checkpoint versions (clone
                # restore op) fall back to full replay, and the
                # checkpoint file lives in the CLONE's _txn, never the
                # source's. No commit: the log must not advance.
                c.checkpoint_log()
                assert c.latest_version() == cv_before, (
                    f"seed {seed} step {step}: clone checkpoint "
                    "consumed a version"
                )
            elif cop == "ckpt_restore":
                # r11 (r10 VERDICT #5): the DELIBERATE checkpoint_log
                # x restore x clone metadata-only triple — the
                # least-crossed combination in the mix log (the
                # independent checkpoint/restore ops only rarely land
                # in this order by chance). Checkpoint the clone's
                # head, advance the log with a zero-row commit (a
                # delete_mor that matches nothing), then restore to a
                # PRE-checkpoint version: _live(target) must ignore
                # the too-new checkpoint (full-replay fallback), the
                # restore's own head replay runs THROUGH the
                # checkpoint, and a fresh checkpoint over the
                # post-restore head must summarize the restored state
                # exactly (asserted by the generic clone==model check
                # below plus the end-of-run time-travel sweep).
                c.checkpoint_log()
                assert c.latest_version() == cv_before, (
                    f"seed {seed} step {step}: triple checkpoint "
                    "consumed a version"
                )
                c.delete_mor("false")  # zero-row commit past the ckpt
                target = rng.choice(sorted(ac["history"]))
                c.restore(target)
                ac["model"] = copy.deepcopy(ac["history"][target][0])
                cm = ac["model"]
                # second checkpoint ON TOP of the restore commit: the
                # next clone op (and every later read) replays from it
                c.checkpoint_log()
                # pre-checkpoint versions still time-travel (full-
                # replay fallback past a newer checkpoint), displayed
                # under the names in force at that version
                tv = rng.choice(sorted(ac["history"]))
                m_tv, cols_tv, gen_tv = ac["history"][tv]
                assert _got(
                    c, cols_tv, gen_tv is not None, version=tv
                ) == _display(m_tv, gen_tv), (
                    f"seed {seed} step {step}: pre-checkpoint clone "
                    f"version {tv} lost time travel after the triple"
                )
            # schema ops above may have moved cols/extra_gen — refresh
            # before asserting
            ccols, cgen = ac["cols"], ac["extra_gen"]
            c_has_extra = cgen is not None
            # clone == its own model
            assert _got(c, ccols, c_has_extra) == _display(cm, cgen), (
                f"seed {seed} step {step} (clone {cop}): clone != model"
            )
            cv_after = c.latest_version()
            # cross-contamination: mutating the clone moved NOTHING
            # on the source (histories are independent logs)
            assert t.latest_version() == v_after, (
                f"step {step}: clone op advanced the SOURCE log"
            )
            assert _got(t, cols, extra_gen is not None) == want, (
                f"seed {seed} step {step}: clone {cop} leaked into source"
            )
            ac["ver"] = cv_after
            ac["history"][cv_after] = (
                copy.deepcopy(cm),
                dict(ccols),
                cgen,
            )
        history[v_after] = (
            copy.deepcopy(model),
            dict(cols),
            extra_gen,
        )

    # every recorded version still time-travels to its recorded state,
    # displayed under the column names in force AT that version
    for v, (m, vcols, vgen) in history.items():
        assert _got(t, vcols, vgen is not None, version=v) == _display(
            m, vgen
        ), f"seed {seed}: version {v} time travel"

    # the persistent clone's own history time-travels too — checked
    # BEFORE the source vacuum below, which may legally invalidate
    # clone-referenced source files (Delta's documented caveat)
    if active_clone is not None:
        ac = active_clone
        for v, (m, vcols, vgen) in ac["history"].items():
            assert _got(ac["t"], vcols, vgen is not None, version=v) == _display(
                m, vgen
            ), f"seed {seed}: clone version {v} time travel"

    # aggressive vacuum keeps the head equal to the model
    t.vacuum(keep_last=1, retention_seconds=0)
    assert _got(t, cols, extra_gen is not None) == _display(model, extra_gen)
