"""A second reader for lake tables, independent of
`LakeTable.snapshot`: a DuckDB read straight from the commit log."""

from __future__ import annotations

import json
import os

import duckdb

from lcmap_firebird_spark.lakehouse import _dv_key


def duckdb_snapshot(table, version=None) -> list[tuple]:
    """Sorted rows of `table` at `version`, read by DuckDB: every live
    data file with its `file_row_number`, minus the positions its
    deletion vectors name, projected to the logical schema under the
    column mapping. Columns a file lacks read as NULL (schema
    evolution)."""
    live, head = table._live(version)
    names = [f["name"] for f in json.loads(head["schema"])["fields"]]
    cmap = head.get("column_mapping") or {}
    data = [r for r in live if r.get("kind") != "dv"]
    rows = []
    with duckdb.connect() as con:
        deleted: dict[str, set] = {}
        for rec in live:
            if rec.get("kind") == "dv":
                for f, i in con.execute(
                    "SELECT file, row_index FROM read_parquet(?)",
                    [os.path.join(table.root, rec["path"])],
                ).fetchall():
                    deleted.setdefault(f, set()).add(i)
        for rec in data:
            path = os.path.join(table.root, rec["path"])
            present = {
                r[0]
                for r in con.execute(
                    "DESCRIBE SELECT * FROM read_parquet(?)", [path]
                ).fetchall()
            }
            cols = [
                f'"{cmap.get(n, n)}"' if cmap.get(n, n) in present
                else "NULL"
                for n in names
            ]
            gone = deleted.get(_dv_key(rec["path"]), set())
            for pos, *vals in con.execute(
                f"SELECT file_row_number, {', '.join(cols)} "
                "FROM read_parquet(?, file_row_number = true)",
                [path],
            ).fetchall():
                if pos in gone:
                    continue
                rows.append(tuple(vals))
    return sorted(rows, key=repr)
