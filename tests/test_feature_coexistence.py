"""Kitchen-sink coexistence: EVERY table feature enabled on one
table at once — identity + stats columns + CDF — then driven through
renames, evolution, deletion-vector deletes, rewrites, clustering,
clone, checkpoint, restore, with CDF replay closure asserted per
commit. No other test crosses all features
simultaneously; pairwise guards exist (r5-r7), but the r8 fuzz
showed bugs live in the interactions."""

from __future__ import annotations

from lcmap_firebird_spark.lakehouse import LakeTable
from tests.test_lakehouse_combined_mix import _closure_check

from .helpers import skip_unless_slow

skip_unless_slow("all-features coexistence soak (~50 s)")

SCHEMA = "id long, day long, name string, val double"


def _rows(t, cols):
    return sorted(tuple(r) for r in t.snapshot().select(*cols).collect())


def test_all_features_coexist(spark, tmp_path):
    root = str(tmp_path / "sink")
    t = LakeTable.create(
        spark,
        root,
        spark.createDataFrame(
            [(i, 100 + i, f"n{i}", float(i)) for i in range(8)], SCHEMA
        ),
        key_cols=["id"],
        enable_cdf=True,
        stats_cols=["val"],
        identity="rid",
    )
    # identity assigned, unique
    rids = [r["rid"] for r in t.snapshot().collect()]
    assert None not in rids and len(set(rids)) == len(rids)

    # metadata-only rename of a plain column coexists with everything
    t.rename_column("name", "label")

    # writer omits the identity column — the engine fills it
    t.append(
        spark.createDataFrame(
            [(100, 205, "a", 5.0)], "id long, day long, label string, val double"
        )
    )
    got = {r["id"]: r for r in t.snapshot().collect()}
    assert got[100]["rid"] is not None
    v_before = t.latest_version()

    # merge + apply_changes on the same table
    t.merge(
        spark.createDataFrame(
            [(0, 300, "m", 9.5), (200, 301, "ins", 1.0)],
            "id long, day long, label string, val double",
        )
    )
    t.apply_changes(
        spark.createDataFrame(
            [(201, 400, "c", 2.0, "upsert"), (1, None, None, None, "delete")],
            "id long, day long, label string, val double, _op string",
        )
    )
    got = {r["id"]: r for r in t.snapshot().collect()}
    assert got[0]["day"] == 300 and got[201]["day"] == 400
    assert 1 not in got
    # all identity values remain unique and non-NULL through rewrites
    rids = [r["rid"] for r in t.snapshot().collect()]
    assert None not in rids and len(set(rids)) == len(rids)

    # layout ops + evolution + checkpoint
    t.delete_mor("id = 2")
    t.cluster()
    t.add_column("note", "string")
    t.compact(target_rows=1_000)
    t.checkpoint_log()
    t.drop_column("note")

    # clone inherits the whole feature set and matches the source
    c = t.clone(str(tmp_path / "clone"))
    cols = ["id", "day", "label", "val"]
    assert _rows(c, cols) == _rows(t, cols)
    # clone keeps assigning identity
    c.append(
        spark.createDataFrame(
            [(301, 1, "ok", 1.0)],
            "id long, day long, label string, val double",
        )
    )
    crids = [r["rid"] for r in c.snapshot().collect()]
    assert None not in crids and len(set(crids)) == len(crids)

    # restore + final append still conform
    head = t.latest_version()
    t.restore(v_before)
    t.append(
        spark.createDataFrame(
            [(400, 500, "post", 7.0)],
            "id long, day long, label string, val double",
        )
    )

    # CDF replay closure holds across EVERY commit of this history
    # (restore included), both feeds, identity column included
    for v in range(1, t.latest_version() + 1):
        _closure_check(t, v - 1, v, use_cdf=True, ctx=f"kitchen-sink v{v}")

    # stats-column declaration survives the whole history (every
    # commit entry carries it, so pruning bites from birth)
    assert "val" in (t._live()[1].get("stats_cols") or [])
    assert head >= v_before
