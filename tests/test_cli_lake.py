"""Lake CLI subcommand: end-to-end administration of a table root
through `python -m lcmap_firebird_spark.cli lake ...` — metadata
actions session-less, data actions through the library session."""

from __future__ import annotations

import json

import pytest

from lcmap_firebird_spark.cli import main
from lcmap_firebird_spark.lakehouse import LakeTable


@pytest.fixture()
def roots(spark, tmp_path):
    base = spark.createDataFrame(
        [(i, f"n{i}", float(i)) for i in range(50)],
        "id long, name string, val double",
    )
    root = str(tmp_path / "tbl")
    LakeTable.create(spark, root, base, key_cols=["id"])
    src = str(tmp_path / "src.parquet")
    spark.createDataFrame(
        [(5, "FIVE", -5.0), (100, "new", 1.0)],
        "id long, name string, val double",
    ).write.parquet(src)
    return root, src, tmp_path


def test_lake_cli_lifecycle(spark, roots, capsys):
    root, src, tmp_path = roots

    def run(*argv):
        rc = main(["lake", *argv])
        out = capsys.readouterr().out.strip()
        return rc, out

    rc, out = run("describe", "--root", root)
    assert rc == 0
    d = json.loads(out)
    assert d["live_rows"] == 50 and d["key_cols"] == ["id"]

    rc, out = run("merge", "--root", root, "--source", src)
    assert rc == 0 and json.loads(out)["version"] == 2
    rc, out = run("count", "--root", root)
    assert json.loads(out)["rows"] == 51

    rc, out = run("delete", "--root", root, "--predicate", "id >= 40")
    assert rc == 0
    rc, out = run("count", "--root", root)
    assert json.loads(out)["rows"] == 40
    # compact reclaims what delete marked: no deletion vector is left
    rc, out = run("compact", "--root", root)
    assert rc == 0
    rc, out = run("describe", "--root", root)
    d = json.loads(out)
    assert d["num_dv_files"] == 0 and d["deleted_rows"] == 0
    assert d["live_rows"] == 40

    # cluster moves file boundaries, never rows: on the keys by
    # default, on any column with --by
    before = sorted(map(tuple, LakeTable(spark, root).snapshot().collect()))
    for by in ([], ["--by", "val"]):
        rc, out = run("cluster", "--root", root, *by)
        assert rc == 0
        t = LakeTable(spark, root)
        assert json.loads(out)["version"] == t.latest_version()
        assert t.history()[-1]["operation"] == "cluster"
        assert sorted(map(tuple, t.snapshot().collect())) == before

    rc, out = run("rename-column", "--root", root, "--column",
                  "val:value")
    assert rc == 0
    rc, out = run("show", "--root", root, "--limit", "1")
    assert '"value"' in out

    rc, out = run("history", "--root", root)
    ops = [e["operation"] for e in json.loads(out)]
    assert ops[-1] == "rename_column" and "merge" in ops

    rc, out = run("clone", "--root", root, "--dest",
                  str(tmp_path / "c"))
    assert rc == 0
    rc, out = run("count", "--root", str(tmp_path / "c"))
    assert json.loads(out)["rows"] == 40

    rc, out = run("compact", "--root", root)
    assert rc == 0
    rc, out = run("checkpoint", "--root", root)
    assert rc == 0
    rc, out = run("restore", "--root", root, "--version", "1")
    assert rc == 0
    rc, out = run("count", "--root", root)
    assert json.loads(out)["rows"] == 50

    rc, out = run("vacuum", "--root", root, "--retention-seconds",
                  "0", "--keep-last", "1")
    assert rc == 0
    rc, out = run("count", "--root", root)
    assert json.loads(out)["rows"] == 50


def test_lake_cli_show_caps_output_by_default(spark, roots, capsys):
    """`lake show` must never collect the whole table unless the user
    explicitly opts in with --limit 0 (VERDICT r6 #3): the default
    --limit is 20, so a fat-fingered show on a fat table stays a
    20-row driver collect."""
    root, _, _ = roots
    assert main(["lake", "show", "--root", root]) == 0
    out = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
    assert len(out) == 20  # table has 50 rows; default cap is 20

    assert main(["lake", "show", "--root", root, "--limit", "0"]) == 0
    out = [ln for ln in capsys.readouterr().out.strip().splitlines() if ln]
    assert len(out) == 50  # explicit opt-in reads everything


def test_lake_cli_validation(spark, roots, capsys):
    root, _, _ = roots
    assert main(["lake", "merge", "--root", root]) == 2
    assert main(["lake", "delete", "--root", root]) == 2
    assert main(["lake", "clone", "--root", root]) == 2
    assert main(["lake", "rename-column", "--root", root,
                 "--column", "justaname"]) == 2
    capsys.readouterr()
