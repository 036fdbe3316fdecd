"""Kitchen-sink coexistence: one table driven through renames,
evolution, deletion-vector deletes, rewrites, clustering, clone,
checkpoint and restore. No other test crosses all features
simultaneously; pairwise guards exist (r5-r7), but the r8 fuzz showed
bugs live in the interactions."""

from __future__ import annotations

from lcmap_firebird_spark.lakehouse import LakeTable

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
    )

    # metadata-only rename of a plain column coexists with everything
    t.rename_column("name", "label")

    t.append(
        spark.createDataFrame(
            [(100, 205, "a", 5.0)], "id long, day long, label string, val double"
        )
    )
    v_before = t.latest_version()

    t.merge(
        spark.createDataFrame(
            [(0, 300, "m", 9.5), (200, 301, "ins", 1.0)],
            "id long, day long, label string, val double",
        )
    )
    got = {r["id"]: r for r in t.snapshot().collect()}
    assert got[0]["day"] == 300

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

    # restore + final append still conform
    head = t.latest_version()
    t.restore(v_before)
    t.append(
        spark.createDataFrame(
            [(400, 500, "post", 7.0)],
            "id long, day long, label string, val double",
        )
    )
    assert head >= v_before
    assert t.snapshot().filter("id = 400").count() == 1
