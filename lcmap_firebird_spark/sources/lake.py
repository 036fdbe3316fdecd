"""Structured Streaming source for the native lakehouse —
`readStream.format("lake")`.

Tails a commit-log table (lakehouse.py) as a stream::

    spark.dataSource.register(LakeDataSource)
    q = (spark.readStream.format("lake").option("path", root).load()
         .writeStream...start())

Offsets are log versions, so exactly-once delivery follows from the
log's ordering plus Spark's offset checkpointing. This is the one
capability `LakeTable` has no method for; every batch surface lives
there instead: snapshot/time travel is `LakeTable.snapshot(version=)`,
stats-pruned reads are `LakeTable.scan`, change-feed ranges are
`LakeTable.read_cdf`, writes are `LakeTable.create`/`append`.

Options (3):
- path: table root (required)
- readChangeFeed: 'true' streams the change data feed
  (`_change_type`, `_commit_version` appended to the table columns)
  instead of the added rows
- startingVersion: offset to start from (default 0 = the whole
  history); EXCLUSIVE — version N already consumed

Shape: `partitions()` plans one InputPartition per data or change
file of the commits in the offset range, ON THE DRIVER; `read(part)`
streams that file as pyarrow RecordBatches (never row-at-a-time
Python) under the PLANNED schema, null-filling columns added by
schema evolution, translating column mapping, materializing identity
values and masking deletion-vector positions.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

# lakehouse symbols used by stream-reader methods that execute in
# Spark's Python data source workers are imported at MODULE level so
# cloudpickle's by-value registration (end of this file, end of
# lakehouse.py) captures them inside the pickled classes. A
# function-local `from ..lakehouse import X` is a REAL import executed
# in the worker process and dies with ModuleNotFoundError wherever the
# package is not installed / on sys.path (CLAUDE.md invariant 2).
from ..lakehouse import LakeTable, _dv_key


@dataclass
class LakeFilePartition(InputPartition):
    path: str
    schema_json: str
    # deletion-vector support: the file's root-relative name plus the
    # absolute paths of live DV parquet datasets covering it (empty
    # for uncovered files — the common fast path)
    rel: str = ""
    dv_paths: tuple = ()
    # change-feed support: constant columns appended to every batch
    # (e.g. {"_change_type": "insert", "_commit_version": 7}); a
    # column already present in the file (cdf files carry their own
    # _change_type) is passed through, not overwritten
    const_cols: tuple = ()
    # column mapping: (logical, name-in-this-file) pairs — data files
    # store PHYSICAL names (stable across renames), cdf files store
    # the LOGICAL names in force at their commit; either way this maps
    # the planned output column to what the file calls it
    col_map: tuple = ()
    # identity support: (col, base, step) — NULL stored values take
    # base + row_index*step from the file's reserved range (empty for
    # non-identity tables or files without a reservation)
    ident: tuple = ()


class LakeDataSource(DataSource):
    """format name: lake — a streaming-only source; see the module
    docstring for its three options."""

    @classmethod
    def name(cls) -> str:
        return "lake"

    def _root(self) -> str:
        root = self.options.get("path")
        if not root:
            raise ValueError("option 'path' is required for format 'lake'")
        return root

    def _cdf_requested(self) -> bool:
        return str(
            self.options.get("readChangeFeed", "false")
        ).lower() in ("true", "1")

    def schema(self) -> StructType:
        import json as _json

        from pyspark.sql.types import LongType, StringType, StructField

        base = StructType.fromJson(_json.loads(_head(self._root())["schema"]))
        if self._cdf_requested():
            return StructType(
                base.fields
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
        return base

    def streamReader(self, schema) -> "DataSourceStreamReader":
        # the PLANNED schema rides into every partition: deriving it
        # from the log at partitions() time instead would wedge crash
        # recovery (a replayed offset range planned under the old
        # schema would yield batches that no longer match after an
        # add_column lands — an unrecoverable restart loop)
        root = self._root()
        start = int(self.options.get("startingVersion", 0))
        if self._cdf_requested():
            return LakeCDFStreamReader(root, schema, start)
        return LakeStreamReader(root, schema, start)


def _head(root: str) -> dict:
    """The log's head entry: every entry carries the table's logical
    schema and column mapping in force after its commit."""
    t = LakeTable.attach(root)
    return t._entries(since=t.latest_version() - 1)[-1]


def _read_file_partition(part: LakeFilePartition):
    """Worker-side Arrow read of one data or change file under the
    planned schema (shared by both stream readers): stream the
    parquet RecordBatches, null-filling columns added by schema
    evolution after this file was written, and masking out rows whose
    positions appear in a covering deletion vector."""
    import json as _json

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType as _St

    deleted = None
    if part.dv_paths:
        idxs = []
        for dvp in part.dv_paths:
            t = pq.read_table(
                dvp,
                columns=["row_index"],
                filters=[("file", "==", part.rel)],
            )
            idxs.extend(t.column("row_index").to_pylist())
        if idxs:
            deleted = np.unique(np.array(idxs, dtype=np.int64))

    target = to_arrow_schema(_St.fromJson(_json.loads(part.schema_json)))
    cmap = dict(part.col_map)
    pf = pq.ParquetFile(part.path)
    present = set(pf.schema_arrow.names)
    id_col, id_base, id_step = (
        part.ident if part.ident else (None, 0, 1)
    )
    consts = dict(part.const_cols)
    # decode ONLY the physical columns the planned schema maps to:
    # retired/dropped columns keep their bytes in old files by design
    # and must not cost I/O/CPU on every scan of a wide evolved table
    wanted = [
        src
        for src in (cmap.get(f.name, f.name) for f in target)
        if src is not None and src in present
    ]
    offset = 0
    for batch in pf.iter_batches(columns=wanted):
        n = batch.num_rows
        # positions are only needed on the DV-masked or identity-fill
        # paths; the common plain read stays allocation-free
        pos = (
            np.arange(offset, offset + n, dtype=np.int64)
            if deleted is not None or id_col is not None
            else None
        )
        offset += n
        if deleted is not None:
            keep = ~np.isin(pos, deleted)
            if not keep.all():
                batch = batch.filter(pa.array(keep))
                pos = pos[keep]
                if batch.num_rows == 0:
                    continue
        cols = []
        for field in target:
            src = cmap.get(field.name, field.name)
            # src is None = forced null-fill (the column's physical
            # identity is absent from this file — never fall back to
            # a same-named dead column's bytes)
            if src is not None and src in present:
                col = batch.column(src).cast(field.type)
            elif field.name in consts:
                col = pa.array(
                    [consts[field.name]] * batch.num_rows,
                    type=field.type,
                )
            else:
                col = pa.nulls(batch.num_rows, field.type)
            if field.name == id_col and col.null_count:
                # identity materialization: NULL stored values take
                # base + row_index*step from the file's reserved
                # range — positions are the PRE-DV-mask row indexes,
                # identical to what a LakeTable scan computes
                import pyarrow.compute as pc

                virt = pa.array(
                    id_base + pos * id_step, type=field.type
                )
                col = pc.if_else(pc.is_null(col), virt, col)
            cols.append(col)
        yield pa.RecordBatch.from_arrays(cols, schema=target)


# --------------------------------------------------------------------------
# streaming read: spark.readStream.format("lake") — tail the commit
# log. Offsets ARE log versions ({"version": N} = entries <= N
# consumed), so exactly-once follows from the log's ordering plus
# Spark's offset checkpointing; no listing, no file-modification-time
# heuristics. Each micro-batch delivers the rows of files ADDED by
# the entries in (start, end] — an append-only change stream.
# Copy-on-write rewrites (merge/compact/cluster) re-add surviving
# rows in new files and are therefore RE-EMITTED, exactly like the
# Delta source without CDF; downstream either tolerates re-emission
# (idempotent sinks) or reads CDC batches written via mode="cdc".


def _planned_col_map(root: str, schema) -> tuple:
    """(logical, physical) pairs for the PLANNED schema's table
    columns, resolved against the current log head — data files store
    physical names, so a stream planned under logical names needs the
    translation pinned at stream construction. A planned column the
    current logical schema doesn't know (renamed/dropped since the
    checkpoint) fails fast: that's a non-additive schema change, and
    silently null-filling it would corrupt the stream (Delta fails
    the stream the same way)."""
    import json as _json

    from pyspark.sql.types import StructType as _St

    head = _head(root)
    names = {
        f.name
        for f in _St.fromJson(_json.loads(head["schema"])).fields
    }
    cmap = head.get("column_mapping") or {}
    out, missing = [], []
    for f in schema.fields:
        if f.name in ("_change_type", "_commit_version"):
            continue
        if f.name not in names:
            missing.append(f.name)
        elif cmap.get(f.name, f.name) != f.name:
            out.append((f.name, cmap[f.name]))
    if missing:
        raise ValueError(
            f"planned stream column(s) {missing!r} no longer exist "
            "in the table's logical schema (renamed or dropped — a "
            "non-additive change); restart the stream with a fresh "
            "checkpoint"
        )
    return tuple(sorted(out))


class _LogTail(DataSourceStreamReader):
    """Offsets shared by both stream readers: {"version": N} = log
    entries <= N consumed."""

    def __init__(self, root: str, schema, start: int = 0):
        import json as _json

        self._root = root
        self._sj = _json.dumps(schema.jsonValue())  # the PLANNED schema
        self._start = start
        self._cmap = _planned_col_map(root, schema)

    def initialOffset(self) -> dict:
        # default 0 = start of history (the whole current table
        # arrives as the first micro-batch, then the stream tails
        # new commits); option startingVersion skips ahead — e.g. to
        # resume past a commit the stream cannot express
        return {"version": self._start}

    def latestOffset(self) -> dict:
        return {"version": LakeTable.attach(self._root).latest_version()}

    def read(self, partition):
        yield from _read_file_partition(partition)

    def commit(self, end: dict) -> None:
        pass  # the log is the durable source; nothing to clean up


class LakeStreamReader(_LogTail):
    def __init__(self, root: str, schema, start: int = 0):
        super().__init__(root, schema, start)
        # identity metadata is immutable (declared at create only) —
        # safe to pin for the stream's lifetime
        self._ident = LakeTable.attach(root)._identity()

    def partitions(self, start: dict, end: dict):
        import os as _os

        t = LakeTable.attach(self._root)
        # tail read only: opening every entry since version 0 per
        # micro-batch would be O(history) per batch (PLANS.md rule 25)
        entries = t._entries(
            upto=end["version"], since=start["version"]
        )
        if not entries:
            return []
        # kind='dv' adds are deletion-vector datasets, not row data:
        # the append-only stream skips them (deletes don't stream —
        # the Delta source's ignoreDeletes posture; CDC consumers
        # read batches written via mode="cdc" instead). delete_mor
        # adds only a DV dataset, so a delete re-emits nothing; COW
        # rewrite commits (merge/apply_changes/compact/cluster) DO
        # re-emit their rewritten files — Delta's ignoreChanges
        # posture, documented: a maintenance rewrite mid-stream
        # re-delivers rewritten rows, so run table maintenance
        # against streamed tables in windows or consume the CDF
        # source instead.
        return [
            LakeFilePartition(
                _os.path.join(self._root, rec["path"]),
                self._sj,
                col_map=self._cmap,
                ident=_ident_tuple(self._ident, rec),
            )
            for e in entries
            for rec in e.get("add", [])
            if rec.get("rows") and rec.get("kind") != "dv"
        ]


class LakeCDFStreamReader(_LogTail):
    """spark.readStream.format("lake").option("readChangeFeed",
    "true") — tail the change data feed. Offsets are commit versions
    (exactly-once, like the plain source); each micro-batch delivers
    the CHANGE rows of the commits in (start, end]: cdf files where
    the commit staged them, derived inserts for append/create
    commits. A restore/overwrite commit has no streamable change file
    — the stream fails fast and points at `LakeTable.read_cdf`
    (which computes their snapshot diff) and option startingVersion
    (which resumes past them), Delta's posture for non-additive
    changes without CDF data.

    Identity tables stream exact values on every change row (pinned
    in test_identity): merge/apply_changes are never-retried commits,
    so the reserved identity range is deterministic at staging time
    and `LakeTable._fill_identity_in_changes` materializes
    engine-assigned values INTO the staged change file — the
    single-file partition readers here need no cross-file fill, and
    neither does `LakeTable.read_cdf` (r8)."""

    def partitions(self, start: dict, end: dict):
        return _cdf_partitions(
            self._root,
            start["version"],
            end["version"],
            self._sj,
            self._cmap,
        )


def _ident_tuple(ident: dict | None, rec: dict) -> tuple:
    """(col, base, step) for a data add record's reserved identity
    range, or () — shared by both stream planners so derived-insert
    CDF rows and streamed appends carry the same materialized values
    a LakeTable scan computes."""
    if ident and rec.get("identity_base") is not None:
        return (
            ident["col"],
            int(rec["identity_base"]),
            int(ident["step"]),
        )
    return ()


def _cdf_partitions(
    root: str, start_v: int, end_v: int, sj: str, cmap: tuple = ()
):
    """Change-feed file partitions for commits in (start_v, end_v],
    planned by the change-feed stream. `sj` is the PLANNED output
    schema (table schema + change columns) — never derived from the
    log head here, which would desynchronize replayed offset ranges
    from the schema Spark planned. cdf files carry their own
    _change_type; append/create adds become derived inserts;
    restore/overwrite have no change file and fail fast (their
    changes are snapshot diffs — LakeTable.read_cdf computes them;
    a fresh stream resumes past them via option startingVersion).

    `cmap` maps planned logical names to PHYSICAL names; data files
    use it directly, while cdf files (written under the LOGICAL names
    of their commit) get a per-entry map built by physical identity —
    so a range spanning a rename still reads every change row under
    the planned names."""
    import json as _json
    import os as _os

    from pyspark.sql.types import StructType as _St

    t = LakeTable.attach(root)
    if not t._cdf_enabled():
        raise ValueError(
            "table was not created with enable_cdf=True; the "
            "plain lake stream serves added rows instead"
        )
    # tail read only (PLANS.md rule 25)
    entries = t._entries(upto=end_v, since=start_v)
    if not entries:
        return []
    planned = [
        f.name
        for f in _St.fromJson(_json.loads(sj)).fields
        if f.name not in ("_change_type", "_commit_version")
    ]
    ident = t._identity()
    phys_of = dict(cmap)
    parts = []
    for e in entries:
        v = e["version"]
        if e.get("cdf"):
            # planned logical -> this entry's logical, via the shared
            # physical name
            emap = e.get("column_mapping") or {}
            entry_names = [
                f.name
                for f in _St.fromJson(_json.loads(e["schema"])).fields
            ]
            phys_to_entry = {emap.get(c, c): c for c in entry_names}
            # (L, None) = FORCED null-fill: the planned column's
            # physical identity does not exist in this entry, and a
            # bare fallback to the logical name would resurrect a
            # dead same-named column's bytes after drop/re-add or
            # rename/re-add (LakeTable._relabel matches by physical
            # identity; this map must too)
            entry_cmap = tuple(
                sorted(
                    (
                        (L, phys_to_entry.get(phys_of.get(L, L)))
                        for L in planned
                        if phys_to_entry.get(phys_of.get(L, L)) != L
                    ),
                    key=lambda lv: lv[0],
                )
            )
            for p in e["cdf"]["paths"]:
                parts.append(
                    LakeFilePartition(
                        _os.path.join(root, p),
                        sj,
                        const_cols=(("_commit_version", v),),
                        col_map=entry_cmap,
                    )
                )
        elif e["operation"] in ("append", "create", "clone"):
            # 'clone' (r9): a CDF-inheriting clone's v1 references
            # the source snapshot's files — derive them as inserts
            # exactly like create's adds, WITH the transferred
            # deletion vectors applied (a MOR-deleted source row must
            # not stream as a clone insert). append/create commits
            # never carry DVs, so dv_for stays empty for them.

            dv_for: dict[str, list] = {}
            for rec in e.get("add", []):
                if rec.get("kind") == "dv":
                    p = _os.path.join(root, rec["path"])
                    for c in rec.get("covers", []):
                        dv_for.setdefault(c, []).append(p)
            for rec in e.get("add", []):
                if rec.get("kind") == "dv" or not rec.get("rows"):
                    continue
                parts.append(
                    LakeFilePartition(
                        _os.path.join(root, rec["path"]),
                        sj,
                        rel=_dv_key(rec["path"]),
                        dv_paths=tuple(
                            dv_for.get(_dv_key(rec["path"]), ())
                        ),
                        const_cols=(
                            ("_change_type", "insert"),
                            ("_commit_version", v),
                        ),
                        col_map=cmap,
                        ident=_ident_tuple(ident, rec),
                    )
                )
        elif e["operation"] in ("restore", "overwrite"):
            raise ValueError(
                f"commit v{v} is a {e['operation']} — its changes "
                "are a snapshot diff with no change file; read them "
                "with LakeTable.read_cdf/table_changes, then resume "
                "past it"
            )
        # metadata-only commits contribute nothing
    return parts


# shipped to Python workers by class reference — LAST statement so
# every worker-bound definition above is covered (CLAUDE.md rule 2:
# registration is by module identity, but end-of-file placement is
# the convention every module follows so a future reader never has
# to reason about definition order)
import sys  # noqa: E402

import pyspark  # noqa: E402

pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])
