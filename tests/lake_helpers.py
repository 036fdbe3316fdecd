"""Second readers for lake tables, independent of `LakeTable.snapshot`:
a DuckDB read straight from the commit log, and a drain of the
`readStream.format("lake")` change feed."""

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
    evolution); NULL identity values take base + row·step from the
    file's reserved range."""
    live, head = table._live(version)
    names = [f["name"] for f in json.loads(head["schema"])["fields"]]
    cmap = head.get("column_mapping") or {}
    ident = table._identity()
    id_at = names.index(ident["col"]) if ident else None
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
            base = rec.get("identity_base") if ident else None
            for pos, *vals in con.execute(
                f"SELECT file_row_number, {', '.join(cols)} "
                "FROM read_parquet(?, file_row_number = true)",
                [path],
            ).fetchall():
                if pos in gone:
                    continue
                if base is not None and vals[id_at] is None:
                    vals[id_at] = base + pos * ident["step"]
                rows.append(tuple(vals))
    return sorted(rows, key=repr)


def stream_cdf(spark, root: str, out: str, start=0):
    """Drain the change-feed stream of `root` from `startingVersion`
    (exclusive) into parquet at `out` with an availableNow trigger and
    return what it wrote."""
    from lcmap_firebird_spark.sources.lake import LakeDataSource

    spark.dataSource.register(LakeDataSource)
    df = (
        spark.readStream.format("lake")
        .option("path", root)
        .option("readChangeFeed", "true")
        .option("startingVersion", start)
        .load()
    )
    (
        df.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", out + "_ckpt")
        .trigger(availableNow=True)
        .start()
        .awaitTermination(180)
    )
    return spark.read.schema(df.schema).parquet(out)
