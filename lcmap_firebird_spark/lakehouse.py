"""Native transactional table format — commit log, ACID MERGE, time
travel, vacuum — on plain parquet.

The reference's storage layer is overwrite-in-place Cassandra writes
(/root/reference/ccdc/cassandra.py — per-chip upserts with no
multi-row atomicity); a 100 TB pipeline needs table-format
semantics: atomic multi-file commits, upsert (MERGE), snapshot
isolation for readers, and reproducible time travel. Delta/Iceberg
provide exactly this but neither package is available here, so this
module implements the same public design (a Delta-style ordered
commit log over immutable files) natively:

Layout::

    <root>/_txn/00000000000000000042.json   one entry per commit
    <root>/data/<uuid>.parquet              immutable data files

A commit entry lists files ADDED and files REMOVED plus per-file key
statistics. The table state at version V = union of adds minus
removes across entries 0..V — readers never see a partial write
because the entry file is created atomically (O_EXCL), and data
files are fully written before the commit that references them.

Concurrency is optimistic: a writer stages data files, then tries to
create version N+1; if another writer got there first the exclusive
create fails — `append` (order-independent) retries against the new
head, `merge`/`delete_mor` (read-dependent) raise ConcurrentWriteError
for the caller to re-run against the new snapshot. This is the same
protocol Delta implements over object-store put-if-absent.

Scale design:
- MERGE is copy-on-write over ONLY the files that can contain a
  matching key: per-file [min,max] key stats recorded at commit time
  prune first (no I/O), then an exact `input_file_name` semi-join
  against the (broadcast) source keys confirms — untouched files are
  carried forward by reference, never rewritten or even read beyond
  the pruned candidates.
- Readers plan one `parquet(paths...)` scan over live files — all of
  Catalyst's pushdown/pruning applies unchanged.
- The log is tiny JSON; at real scale you'd checkpoint it like
  Delta; `history()` reads it driver-side.

Non-goal — multi-table transactions: a commit is atomic within ONE
table's log, exactly like Delta and Iceberg v2. Cross-table
consistency belongs to the orchestration layer (write tables in
dependency order; readers join on snapshot versions they pin
explicitly). A coordinator log spanning tables would reintroduce the
global-lock bottleneck the per-table optimistic protocol exists to
avoid, for a guarantee no mainstream lakehouse format offers.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    FloatType,
    IntegralType,
    LongType,
    StringType,
    StructField,
    StructType,
)

_TXN = "_txn"
_DATA = "data"
_WIDTH = 20
_DV_SCHEMA = "file string, row_index bigint"
# operations whose data files hold NEW rows: only they reserve
# identity ranges at commit
_ROW_INTRODUCING = frozenset(
    {"create", "append", "overwrite", "merge", "apply_changes"}
)
# `compact` rewrites a data file whose deletion-vector share reaches
# this fraction whatever its size (Delta's DV-threshold purge)
_DV_REWRITE_FRACTION = 0.1


class ConcurrentWriteError(RuntimeError):
    """The log advanced under a read-dependent commit (merge/delete_mor);
    re-run against the new snapshot."""


def _entry_path(root: str, version: int) -> str:
    return os.path.join(root, _TXN, f"{version:0{_WIDTH}d}.json")


# -- column mapping (Delta's columnMapping design on the commit log) ---------
#
# Every column has a STABLE PHYSICAL NAME — the name actually written
# in parquet files and stats records, assigned at column birth and
# never changed. The entry's `column_mapping` ({logical: physical},
# sparse — absent means identical) translates the user-facing logical
# schema to physical storage, so RENAME and DROP are metadata-only
# commits that touch no data file. `retired_cols` lists physical names
# whose column was dropped: a later add_column with the same logical
# name gets a FRESH physical name, so old files' bytes can never
# resurrect under the new column. Tables written before this feature
# have no mapping key anywhere — absent mapping is identity, so every
# old log stays readable unchanged.


def _dv_key(rec_path: str) -> str:
    """The key deletion-vector rows use for a data file:
    'data/<basename>'. Identical to the record path for ordinary
    (root-relative) records; for shallow-clone records (absolute
    paths into the source table) it still matches the DV rows those
    files were recorded under — basenames are uuid-hex, so they
    never collide across tables."""
    return f"{_DATA}/{os.path.basename(rec_path)}"


def _entry_mapping(entry: dict) -> dict:
    return entry.get("column_mapping") or {}


def _physical_schema(schema: StructType, mapping: dict) -> StructType:
    """The schema as stored in data files: logical field names
    replaced by their physical names (types/nullability unchanged)."""
    if not mapping:
        return schema
    return StructType(
        [
            StructField(
                mapping.get(f.name, f.name), f.dataType, f.nullable
            )
            for f in schema.fields
        ]
    )


def _file_stats(path: str, key_cols: list[str]) -> dict:
    """Per-file row count + [min,max] per key column from the parquet
    footer (no data read). Missing stats -> None (file is always a
    merge candidate)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
    stats: dict[str, list] = {}
    for c in key_cols:
        if c not in idx:
            stats[c] = None
            continue
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            s = md.row_group(rg).column(idx[c]).statistics
            if s is None or not s.has_min_max:
                mins = []
                break
            mins.append(s.min)
            maxs.append(s.max)
        # only JSON-native stat types are recorded; anything else
        # (timestamps, binary) degrades to "always a candidate"
        # rather than crashing the commit serialization
        if mins and all(
            isinstance(v, (int, float, str, bool)) for v in (mins + maxs)
        ):
            stats[c] = [min(mins), max(maxs)]
        else:
            stats[c] = None
    return {
        "rows": md.num_rows,
        "bytes": os.path.getsize(path),
        "stats": stats,
    }


def _stats_intersect(rec: dict, ranges: dict, mapping: dict) -> bool:
    """True when the add record's per-file stats can intersect every
    [lo, hi] range (logical column names; stats are stored under
    physical names). Missing stats are conservatively in scope, as
    are open bounds (lo/hi None — a one-sided range) and
    incomparable literal/stat type pairs. The ONE pruning predicate
    shared by pruned_paths/scan, MERGE candidate selection and
    range-scoped compaction — a stats-handling fix lands everywhere
    or nowhere."""
    for c, (lo, hi) in ranges.items():
        st = (rec.get("stats") or {}).get(mapping.get(c, c))
        if st is None:
            continue
        try:
            if (hi is not None and st[0] > hi) or (
                lo is not None and st[1] < lo
            ):
                return False
        except TypeError:
            continue  # incomparable literal/stat types: keep
    return True


def _preflight(
    df: DataFrame, key_cols: list[str], op_col: str | None = None
) -> dict:
    """Validate a keyed writer's source with ONE aggregation and
    return its key ranges ({col: (min, max)}, or {} for an empty
    source) for `_affected_files`. Group by key with a per-group row
    count — plus, for a change batch (`op_col` = the caller's name
    for its `_op` column), a bad-op count — then fold max(count),
    the bad total and the key min/max in a 1-row global agg (r12:
    one source pass instead of three). min/max over distinct keys
    equals min/max over all rows, and max(count) > 1 iff a key
    repeats. Duplicate keys raise first; then NULL or unknown ops
    raise (every change key lands in the anti-join, so a bad op
    would SILENTLY DELETE its matched target row). A merge source
    (`op_col` None) adds no op term to the plan. Aliases carry a
    collision-proof __pf_ prefix (r12 ADVICE)."""
    bad = F.col("_op").isNull() | ~F.col("_op").isin("upsert", "delete")
    per_key = [F.count(F.lit(1)).alias("__pf_c")]
    folds = [F.max("__pf_c").alias("__pf_maxc")]
    if op_col is not None:
        per_key.append(F.sum(bad.cast("int")).alias("__pf_b"))
        folds.append(F.sum("__pf_b").alias("__pf_nbad"))
    row = (
        df.groupBy(*key_cols)
        .agg(*per_key)
        .agg(
            *folds,
            *[F.min(c).alias(f"__pf_mn_{c}") for c in key_cols],
            *[F.max(c).alias(f"__pf_mx_{c}") for c in key_cols],
        )
        .first()
    )
    if (row["__pf_maxc"] or 0) > 1:
        raise ValueError(
            "duplicate keys in merge source; pass dedupe_source=True "
            "to keep an arbitrary one"
            if op_col is None
            else "duplicate keys in change batch"
        )
    if op_col is not None and (row["__pf_nbad"] or 0) > 0:
        # the error path re-queries for detail; the happy path pays
        # nothing for it
        found = [
            r["_op"]
            for r in df.filter(bad).select("_op").distinct().limit(5).collect()
        ]
        raise ValueError(
            f"invalid {op_col} values {found!r}: expected 'upsert' or "
            "'delete'"
        )
    if any(row[f"__pf_mn_{c}"] is None for c in key_cols):
        return {}
    return {
        c: (row[f"__pf_mn_{c}"], row[f"__pf_mx_{c}"]) for c in key_cols
    }


def _reserve_identity(ident: dict, add: list[dict]) -> tuple[list[dict], int]:
    """Reserve a per-file identity range for each data record of
    `add`, in order: (`add` with `identity_base` stamped on copies
    of its data records, the advanced watermark). `_commit` applies
    it; `_fill_identity_in_changes` replays it before the commit."""
    wm, step = int(ident["watermark"]), int(ident["step"])
    out = []
    for r in add:
        if r.get("kind") is None:
            r = r | {"identity_base": wm + step}
            wm += step * int(r.get("rows") or 0)
        out.append(r)
    return out, wm


class LakeTable:
    """Handle to a committed table. `create` once, then attach with
    `LakeTable(spark, root)`."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        if not os.path.isdir(os.path.join(root, _TXN)):
            raise FileNotFoundError(f"no lakehouse table at {root}")

    @classmethod
    def attach(cls, root: str) -> "LakeTable":
        """Session-less handle for metadata-only use (log replay is
        pure filesystem) — the streaming source (sources/lake.py)
        plans without a SparkSession. Anything that builds a DataFrame
        (snapshot, merge, ...) still needs the real constructor."""
        t = cls.__new__(cls)
        t.spark = None
        t.root = root
        if not os.path.isdir(os.path.join(root, _TXN)):
            raise FileNotFoundError(f"no lakehouse table at {root}")
        return t

    # -- log ---------------------------------------------------------------

    def _versions(self) -> list[int]:
        d = os.path.join(self.root, _TXN)
        return sorted(
            int(f.split(".")[0])
            for f in os.listdir(d)
            if f.endswith(".json") and f.split(".")[0].isdigit()
        )

    def latest_version(self) -> int:
        vs = self._versions()
        if not vs:
            raise FileNotFoundError(f"empty log at {self.root}")
        return vs[-1]

    def _entries(
        self, upto: int | None = None, since: int | None = None
    ) -> list[dict]:
        """Log entries with version in (since, upto] — `since` lets
        checkpoint-aware readers open only the tail files instead of
        re-parsing the whole history."""
        out = []
        for v in self._versions():
            if upto is not None and v > upto:
                break
            if since is not None and v <= since:
                continue
            with open(_entry_path(self.root, v)) as f:
                out.append(json.load(f))
        return out

    def history(self) -> list[dict]:
        """Commit metadata, oldest first — file counts plus Delta's
        operationMetrics-style row/byte totals (from the add records'
        footer stats; removed-file rows would need the prior live map
        and are deliberately not replayed here)."""
        out = []
        for e in self._entries():
            data_adds = [
                r for r in e.get("add", []) if r.get("kind") != "dv"
            ]
            out.append(
                {k: e[k] for k in ("version", "operation")}
                | {
                    "ts": e.get("ts"),
                    "added": len(e.get("add", [])),
                    "removed": len(e.get("remove", [])),
                    "rows_added": sum(
                        r.get("rows") or 0 for r in data_adds
                    ),
                    "bytes_added": sum(
                        r.get("bytes") or 0 for r in data_adds
                    ),
                }
            )
        return out

    def describe_detail(self) -> dict:
        """Table-level metrics from log metadata ALONE plus one
        file-count-sized DV aggregate — Delta's DESCRIBE DETAIL. No
        data files are read: physical rows and bytes come from the
        add records' footer stats, live rows subtract the
        deletion-vector positions. `bytes` sums only records new
        enough to carry it (older commits predate the field)."""
        v = self.latest_version()
        live, head = self._live(v)
        data, dvs = self._split_live(live)
        deleted = self._dv_counts(dvs)
        physical = sum(r.get("rows", 0) for r in data)
        # count only DV positions covering files still live: rows
        # whose file a COW rewrite has since removed are inert
        live_keys = {_dv_key(r["path"]) for r in data}
        n_deleted = sum(
            n for f, n in deleted.items() if f in live_keys
        )
        out = {
            "version": v,
            "key_cols": head["key_cols"],
            "cdf_enabled": self._cdf_enabled(),
            "num_data_files": len(data),
            "num_dv_files": len(dvs),
            "physical_rows": physical,
            "deleted_rows": n_deleted,
            "live_rows": physical - n_deleted,
            "bytes": sum(
                r["bytes"] for r in data if r.get("bytes") is not None
            ),
        }
        if head.get("identity"):
            out["identity"] = head["identity"]
        return out

    def version_at(self, ts: float) -> int:
        """Latest version committed at or before unix-seconds `ts`
        (Delta's timestampAsOf). `_commit` clamps every stored ts to
        be >= its predecessor's, so timestamps are non-decreasing in
        version order and this resolves with a BACKWARD scan from the
        head that stops at the first commit old enough — O(commits
        newer than ts), i.e. O(1) for the common near-now timestamp,
        never a full log replay (PLANS.md rule 25). Entries from
        tables written before timestamps were recorded fall back to
        the entry file's mtime."""
        first = float("inf")
        for v in reversed(self._versions()):
            with open(_entry_path(self.root, v)) as f:
                e = json.load(f)
            ets = e.get("ts")
            if ets is None:
                ets = os.path.getmtime(_entry_path(self.root, v))
            first = float(ets)
            if first <= ts:
                return v
        raise ValueError(
            f"timestamp {ts} predates table {self.root} "
            f"(first commit at {first})"
        )

    def _live_full(self, version: int | None = None) -> tuple[list[dict], dict]:
        """(live add-records, LATEST entry at/<= version) by FULL log
        replay. The latest entry carries the schema in force at that
        version — schema evolution (`add_column`) replaces it going
        forward while old versions keep theirs. Prefer `_live`, which
        starts from the latest checkpoint when one applies."""
        entries = self._entries(upto=version)
        if not entries:
            raise FileNotFoundError(
                f"version {version} predates table {self.root}"
            )
        live: dict[str, dict] = {}
        for e in entries:
            for rec in e.get("add", []):
                live[rec["path"]] = rec
            for p in e.get("remove", []):
                live.pop(p, None)
        return list(live.values()), entries[-1]

    # -- read --------------------------------------------------------------

    def snapshot(
        self, version: int | None = None, as_of: float | None = None
    ) -> DataFrame:
        """The table as of `version` (default: latest), or as of
        unix-seconds `as_of` (timestamp time travel — resolved to a
        version via `version_at`; mutually exclusive with `version`).
        Plain parquet scan over the live files — pushdown/pruning
        apply as usual; files covered by a deletion vector
        additionally anti-join their deleted positions (DV-free
        tables keep the bare scan)."""
        if as_of is not None:
            if version is not None:
                raise ValueError("pass version OR as_of, not both")
            version = self.version_at(as_of)
        live, head = self._live(version)
        schema = StructType.fromJson(json.loads(head["schema"]))
        data, dvs = self._split_live(live)
        return self._scan_live(
            data, dvs, schema, mapping=_entry_mapping(head)
        )

    # -- write -------------------------------------------------------------

    def _stage(self, df: DataFrame, suffix: str) -> list[tuple[str, int]]:
        """Write df into a private `.stage-<uuid>` directory, rename
        its part files into data/ as `<uuid><suffix>` and return
        [(root-relative path, footer row count)]. Zero-row parts are
        dropped: a live file with no rows would carry no key stats
        and join every pruned read and MERGE candidate list. The one
        staging path for data, change and deletion-vector files:
        every file is complete before it is visible in data/, and
        invisible to readers until a commit references it (vacuum's
        retention window protects it meanwhile)."""
        import shutil

        import pyarrow.parquet as pq

        tmp = os.path.join(self.root, f".stage-{uuid.uuid4().hex}")
        os.makedirs(os.path.join(self.root, _DATA), exist_ok=True)
        staged = []
        try:
            df.write.mode("overwrite").parquet(tmp)
            for f in sorted(os.listdir(tmp)):
                if not f.endswith(".parquet"):
                    continue
                n = pq.ParquetFile(os.path.join(tmp, f)).metadata.num_rows
                if not n:
                    continue
                name = f"{_DATA}/{uuid.uuid4().hex}{suffix}"
                os.rename(
                    os.path.join(tmp, f), os.path.join(self.root, name)
                )
                staged.append((name, n))
        finally:
            # a failed write leaves no staging directory behind
            # (vacuum only sweeps data/)
            shutil.rmtree(tmp, ignore_errors=True)
        return staged

    def _stage_files(
        self, df: DataFrame, stat_cols: list[str] | None = None
    ) -> list[dict]:
        """Write df's rows as immutable files in data/, return add
        records with footer stats (over the table's key columns, plus
        any `stat_cols` — e.g. cluster() records stats for its
        clustering columns so scan() can prune on them). Files are
        invisible until a commit references them.

        Data files and stats records always use PHYSICAL column names
        (identical to logical until a rename/drop happens) — renames
        never need to touch committed bytes because committed bytes
        never carry a logical name."""
        # checkpoint-aware head lookup: O(tail), not O(history)
        head = self._live()[1]
        mapping = _entry_mapping(head)
        key_cols = list(head["key_cols"])
        for c in list(head.get("stats_cols") or []) + list(stat_cols or []):
            if c not in key_cols:
                key_cols.append(c)
        key_cols = [mapping.get(c, c) for c in key_cols]
        if mapping:
            df = df.select(
                *[
                    F.col(c).alias(mapping.get(c, c))
                    for c in df.columns
                ]
            )
        return [
            {"path": name}
            | _file_stats(os.path.join(self.root, name), key_cols)
            for name, _ in self._stage(df, ".parquet")
        ]

    def _commit(
        self,
        operation: str,
        add: list[dict],
        remove: list[str],
        expected_head: int | None,
        extra: dict | None = None,
    ) -> int:
        """Atomically create the next log entry. `expected_head`
        non-None = read-dependent commit: raise ConcurrentWriteError
        if the head moved; None = order-independent (append): retry
        against whatever head exists."""
        while True:
            # re-read the head entry on EVERY attempt: an append that
            # loses the O_EXCL race to a concurrent add_column must
            # copy the NEW head's schema/key_cols forward, not commit
            # the stale pre-race schema as the new head (which would
            # silently revert schema evolution for later readers).
            head = self.latest_version()
            with open(_entry_path(self.root, head)) as f:
                head_entry = json.load(f)
            if expected_head is not None and head != expected_head:
                raise ConcurrentWriteError(
                    f"log advanced to v{head} (expected v{expected_head})"
                )
            entry = {
                "version": head + 1,
                "operation": operation,
                # clamped monotone vs the head so stored timestamps
                # are ALWAYS non-decreasing in version order (a
                # backwards clock step can't produce an out-of-order
                # log) — which lets version_at resolve with a
                # backward tail scan instead of a full forward replay
                "ts": max(
                    time.time(), float(head_entry.get("ts") or 0.0)
                ),
                "add": add,
                "remove": remove,
                "schema": head_entry["schema"],
                "key_cols": head_entry["key_cols"],
                "column_mapping": _entry_mapping(head_entry),
                "retired_cols": head_entry.get("retired_cols") or [],
                "stats_cols": head_entry.get("stats_cols") or [],
            }
            if extra:
                entry.update(extra)
            # identity watermark: reserve a per-file value range for
            # every row-introducing data file, INSIDE the retry loop
            # (a lost O_EXCL race re-reserves from the new head, so
            # two racing appends never hand out overlapping ranges).
            # Rewrite commits (compact/cluster/restore) carry the
            # watermark unchanged — their files hold scanned,
            # already-materialized values — and delete_mor adds no
            # data file.
            ident = head_entry.get("identity")
            if ident:
                wm = int(ident["watermark"])
                if operation in _ROW_INTRODUCING:
                    entry["add"], wm = _reserve_identity(ident, add)
                entry["identity"] = ident | {"watermark": wm}
            try:
                with open(_entry_path(self.root, head + 1), "x") as f:
                    json.dump(entry, f, indent=1)
                return head + 1
            except FileExistsError:
                if expected_head is not None:
                    raise ConcurrentWriteError(
                        f"lost the race for v{head + 1}"
                    ) from None
                # append: loop and retry on the new head

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        df: DataFrame,
        key_cols: list[str],
        extra: dict | None = None,
        enable_cdf: bool = False,
        stats_cols: list[str] | None = None,
        identity: str | dict | None = None,
    ) -> "LakeTable":
        """Create a table from df; `key_cols` are the MERGE keys and
        drive per-file stats pruning. `enable_cdf=True` makes every
        row-changing commit also record its change rows (Delta's
        enableChangeDataFeed), read back with `read_cdf`.

        `stats_cols` lists extra (non-key) columns whose per-file
        min/max land in every commit's stats records from birth —
        `scan()`/MERGE pruning then bites on them without a
        retroactive cluster() pass.

        `identity` (a column name, or {"col", "start", "step"})
        declares an IDENTITY column (Delta's GENERATED BY DEFAULT AS
        IDENTITY): writers that omit the column — or supply NULL —
        get engine-assigned unique increasing BIGINTs; non-NULL
        writer values are kept as-is (and, exactly like Delta, their
        uniqueness against engine-assigned ranges is NOT checked).
        Assignment is O(metadata): each commit reserves a per-file
        value range from the table's high watermark INSIDE the
        optimistic-commit retry loop (losing an O_EXCL race re-reserves
        from the new head, so concurrent appenders never collide),
        and values materialize AT SCAN as base + row_index·step —
        fresh appends write no identity bytes at all; any COW rewrite
        (merge/compact/cluster) then persists the scanned values
        physically, which is why ranges survive rewrites. Values are
        unique and increase with commit order; gaps are normal
        (aborts, rewrite over-reservation) — Delta's documented
        semantics. Restrictions (all of which keep the metadata
        immutable and the ranges trustworthy): declared at create
        only; it may not be a key column; the column refuses
        rename/drop. CDF change rows carry the ASSIGNED values, written
        into every change file at staging: merge/apply_changes never
        retry, so their reserved ranges are deterministic at staging
        and the change file records the materialized ids
        (_fill_identity_in_changes, r8); delete_mor stages scanned
        pre-images; append inserts derive from add files,
        which readers materialize. No reader fills identity into a
        change file."""
        ident = None
        if identity is not None:
            if isinstance(identity, str):
                identity = {"col": identity}
            ident = {
                "col": identity["col"],
                "start": int(identity.get("start", 1)),
                "step": int(identity.get("step", 1)),
            }
            if ident["step"] == 0:
                raise ValueError("identity step must be non-zero")
            if ident["col"] in key_cols:
                raise ValueError(
                    f"identity column {ident['col']!r} cannot be a "
                    "key column: engine-assigned values are virtual "
                    "until a rewrite persists them, so MERGE key "
                    "matching (which reads stored bytes) would never "
                    "see them — matched rows would silently "
                    "re-insert as duplicates. Key on a natural "
                    "column and carry the identity alongside."
                )
            if ident["col"] not in df.columns:
                df = df.withColumn(
                    ident["col"], F.lit(None).cast("bigint")
                )
            else:
                df = df.withColumn(
                    ident["col"], F.col(ident["col"]).cast("bigint")
                )
        # exist_ok: a crashed create may have left the empty dirs
        # behind; the O_EXCL entry-0 create below is the real guard
        # against two concurrent creates
        os.makedirs(os.path.join(root, _TXN), exist_ok=True)
        os.makedirs(os.path.join(root, _DATA), exist_ok=True)
        entry0 = {
            "version": 0,
            "operation": "create",
            "ts": time.time(),
            "add": [],
            "remove": [],
            "schema": df.schema.json(),
            "key_cols": key_cols,
            "cdf_enabled": bool(enable_cdf),
            "stats_cols": list(stats_cols or []),
        }
        if ident:
            entry0["identity"] = ident | {
                "watermark": ident["start"] - ident["step"]
            }
        with open(_entry_path(root, 0), "x") as f:
            json.dump(entry0, f, indent=1)
        t = LakeTable(spark, root)
        add = t._stage_files(df)
        t._commit("create", add, [], expected_head=0, extra=extra)
        return t

    def _original_physical(self) -> frozenset:
        """PHYSICAL names of the create-time (entry 0) schema columns
        — one O(1) immutable-file read, memoized per handle (PLANS.md
        rule 25). Physical names are stable and never reused
        (add_column uuid-suffixes any collision with a live or
        retired physical name), so membership is exact across later
        renames and drop+re-adds: a head-schema column is
        EVOLUTION-ADDED iff its physical name is absent here. A
        shallow clone's entry 0 carries the clone-time schema — its
        'original' set is the schema it was born with, by design."""
        cached = getattr(self, "_orig_phys_cache", None)
        if cached is None:
            with open(_entry_path(self.root, 0)) as f:
                e0 = json.load(f)
            schema0 = StructType.fromJson(json.loads(e0["schema"]))
            m0 = _entry_mapping(e0)
            cached = frozenset(
                m0.get(f.name, f.name) for f in schema0.fields
            )
            self._orig_phys_cache = cached
        return cached

    def _conform(
        self,
        df: DataFrame,
        head: dict,
        keep: tuple[str, ...] = (),
        strict_original: bool = False,
    ) -> DataFrame:
        """Project df onto the table schema: reject columns the table
        doesn't have (misspellings must not silently land as a file
        readers null-fill away), null-fill absent evolution-added
        columns (pre-evolution writer shapes stay valid), and cast
        the rest — an unconverted type would commit
        a file every subsequent scan chokes on.

        `strict_original=True` (merge/apply_changes) confines the
        silent null-fill to EVOLUTION-ADDED columns (plus the
        identity column, whose omission means 'engine-assign'): a
        source that omits a create-time column raises instead, since
        on update the null-fill would silently overwrite existing
        values with NULL (r8 ADVICE). Tracked by physical identity
        via `_original_physical`, so renames follow the column and a
        drop+re-add counts as evolution-added.

        `keep` names non-table columns carried through VERBATIM after
        the schema fields (apply_changes' op column) — they must be
        present in df."""
        schema = StructType.fromJson(json.loads(head["schema"]))
        known = {f.name for f in schema.fields} | set(keep)
        extra_cols = [c for c in df.columns if c not in known]
        if extra_cols:
            raise ValueError(
                f"columns {extra_cols!r} not in table schema "
                f"{sorted(known)}"
            )
        orig = self._original_physical() if strict_original else frozenset()
        mapping = _entry_mapping(head)
        ident_col = (head.get("identity") or {}).get("col")

        def _col(f):
            if f.name in df.columns:
                return F.col(f.name).cast(f.dataType).alias(f.name)
            if (
                strict_original
                and f.name != ident_col
                and mapping.get(f.name, f.name) in orig
            ):
                raise ValueError(
                    f"source omits original-schema column {f.name!r}: "
                    "on update the null-fill would silently overwrite "
                    "existing values with NULL. Silent null-fill is "
                    "reserved for evolution-added columns; include "
                    "the column explicitly (or pass NULLs "
                    "deliberately)."
                )
            return F.lit(None).cast(f.dataType).alias(f.name)

        return df.select(
            *[_col(f) for f in schema.fields], *[F.col(c) for c in keep]
        )

    def append(self, df: DataFrame, extra: dict | None = None) -> int:
        """Atomic multi-file append (order-independent: retries
        transparently if another writer commits first). `extra` keys
        land in the commit entry (e.g. a streaming batch_id for
        idempotent replay detection) — atomically with the commit.
        Rows are conformed to the table schema first (cast + null-
        fill of evolution-added columns; unknown columns raise)."""
        add = self._stage_files(self._conform(df, self._live()[1]))
        return self._commit("append", add, [], expected_head=None, extra=extra)

    def _affected_files(
        self,
        live: list[dict],
        keys: DataFrame,
        key_cols: list[str],
        schema: StructType,
        mapping: dict | None = None,
        key_ranges: dict | None = None,
    ) -> list[str]:
        """Files that can contain a source key: footer-stats prune,
        then exact input_file_name semi-join confirmation. `schema`
        is the caller's PINNED head schema — re-reading the head here
        would cost another log replay and could pick up a racing
        add_column's different schema mid-operation. Stats records
        are keyed by PHYSICAL column names; `mapping` translates.

        `key_ranges` ({col: (min, max)}, or {} for a known-empty
        source) lets the caller supply precomputed bounds so the
        min/max aggregation here is skipped — merge/apply_changes
        fold it into the source pass they already run (r12: one
        source aggregation instead of two full scans)."""
        mapping = mapping or {}
        if key_ranges is None:
            ranges = keys.agg(
                *[F.min(c).alias(f"_mn_{c}") for c in key_cols],
                *[F.max(c).alias(f"_mx_{c}") for c in key_cols],
            ).first()
            if any(ranges[f"_mn_{c}"] is None for c in key_cols):
                return []  # empty source: nothing can match
            key_ranges = {
                c: (ranges[f"_mn_{c}"], ranges[f"_mx_{c}"])
                for c in key_cols
            }
        elif not key_ranges:
            return []  # caller saw an empty source
        cands = [
            rec["path"]
            for rec in live
            if _stats_intersect(rec, key_ranges, mapping)
        ]
        if not cands:
            return []
        scan = self.spark.read.schema(
            _physical_schema(schema, mapping)
        ).parquet(
            *[os.path.join(self.root, p) for p in cands]
        ).select(
            *[
                F.col(mapping.get(f.name, f.name)).alias(f.name)
                for f in schema.fields
            ]
        )
        hits = (
            scan.withColumn("_f", F.input_file_name())
            .join(F.broadcast(keys), key_cols, "left_semi")
            .select("_f")
            .distinct()
            .collect()
        )
        hit_names = {os.path.basename(r["_f"]) for r in hits}
        return [p for p in cands if os.path.basename(p) in hit_names]

    # -- deletion vectors (merge-on-read deletes) --------------------------

    @staticmethod
    def _split_live(live: list[dict]) -> tuple[list[dict], list[dict]]:
        """(data records, deletion-vector records). DV records carry
        kind='dv' and never hold table rows."""
        data = [r for r in live if r.get("kind") != "dv"]
        dvs = [r for r in live if r.get("kind") == "dv"]
        return data, dvs

    @staticmethod
    def _rel_file() -> Column:
        """'data/<basename>' of the file a scanned row came from —
        the root-relative key DV rows are recorded under (absolute
        URIs would break if the table directory moves)."""
        return F.concat(
            F.lit(_DATA + "/"),
            F.element_at(
                F.split(F.col("_metadata.file_path"), "/"), -1
            ),
        )

    def _dv_df(self, dvs: list[dict]) -> DataFrame:
        return self.spark.read.schema(_DV_SCHEMA).parquet(
            *[os.path.join(self.root, r["path"]) for r in dvs]
        )

    def _dv_counts(self, dvs: list[dict]) -> dict[str, int]:
        """{covered file: deleted-position count} — one aggregate
        over the DV dataset, file-count rows back to the driver
        (metadata scale). Shared by compact's sizing and
        describe_detail. Session-less handles (LakeTable.attach)
        fall back to a pyarrow read — DV datasets are metadata
        scale, and describe_detail promises to work from metadata
        alone."""
        if not dvs:
            return {}
        if self.spark is None:
            import collections

            import pyarrow.parquet as pq

            counts: dict[str, int] = collections.defaultdict(int)
            for r in dvs:
                t = pq.read_table(
                    os.path.join(self.root, r["path"]), columns=["file"]
                )
                for f, n in (
                    t.column("file").to_pandas().value_counts().items()
                ):
                    counts[f] += int(n)
            return dict(counts)
        return {
            r["file"]: r["n"]
            for r in self._dv_df(dvs)
            .groupBy("file")
            .agg(F.count("*").alias("n"))
            .collect()
        }

    def _retire_dvs(
        self, dvs: list[dict], keep: list[dict]
    ) -> DataFrame | None:
        """The rows of the DV records `dvs` that still apply when only
        the data records `keep` stay live, or None. Rows for removed
        files are dropped (every rewrite scans through the DVs, so
        its output materializes them); metadata-only when no DV
        record's `covers` names a kept file."""
        keys = {_dv_key(r["path"]) for r in keep}
        if not any(keys.intersection(r.get("covers", ())) for r in dvs):
            return None
        kept = self.spark.createDataFrame(
            [(k,) for k in sorted(keys)], "file string"
        )
        return self._dv_df(dvs).join(F.broadcast(kept), "file", "left_semi")

    def _stage_dvs(self, rows: DataFrame | None) -> list[dict]:
        """Stage (file, row_index) `rows` as a DV dataset (invisible
        pre-commit, like data files) and return its kind='dv' add
        records ([] for None); `covers` lists exactly the files the
        rows name, so rows handed over by `_retire_dvs` or a
        delete's matches are never empty."""
        if rows is None:
            return []
        staged = self._stage(rows, ".dv.parquet")
        covers = sorted(
            self._dv_df([{"path": p} for p, _ in staged])
            .agg(F.collect_set("file").alias("files"))
            .first()["files"]
        )
        return [
            {"path": p, "kind": "dv", "covers": covers, "rows": n}
            for p, n in staged
        ]

    def _scan_live(
        self,
        data: list[dict],
        dvs: list[dict],
        schema: StructType,
        keep_pos: bool = False,
        mapping: dict | None = None,
    ) -> DataFrame:
        """The ONE read path every consumer routes through: scan the
        given data records under `schema` with live deletion vectors
        applied. Files no DV covers take the plain parquet scan
        (identical plan to a DV-free table — the common case pays
        nothing); covered files carry (_file, _ridx) from the
        parquet reader's metadata column and anti-join the DV rows.
        `keep_pos=True` returns (_file, _ridx) on every row — the
        position source for recording NEW deletion vectors.
        `mapping` (the entry's column_mapping) makes the parquet read
        run under PHYSICAL names and the output carry LOGICAL names —
        the read half of metadata-only rename/drop.

        Identity columns materialize HERE: rows whose stored value is
        NULL take base + row_index·step from their file's reserved
        range (a broadcast join on the file-count-sized base map) —
        fresh appends never write identity bytes, and every COW
        rewrite persists the values this projection produced."""
        mapping = mapping or {}
        ident = self._identity()
        want_pos = keep_pos or ident is not None
        if not data:
            df = self.spark.createDataFrame([], schema)
            if keep_pos:
                df = df.withColumn("_file", F.lit(None).cast("string"))
                df = df.withColumn("_ridx", F.lit(None).cast("bigint"))
            return df
        covered_set = set()
        for r in dvs:
            covered_set.update(r.get("covers", []))
        live_paths = [r["path"] for r in data]
        covered = [p for p in live_paths if _dv_key(p) in covered_set]
        plain = [p for p in live_paths if _dv_key(p) not in covered_set]
        cols = [f.name for f in schema.fields]
        read_schema = _physical_schema(schema, mapping)
        to_logical = [
            F.col(mapping.get(c, c)).alias(c) for c in cols
        ]
        pos_cols = [
            self._rel_file().alias("_file"),
            F.col("_metadata.row_index").alias("_ridx"),
        ]
        parts = []
        if plain:
            df = self.spark.read.schema(read_schema).parquet(
                *[os.path.join(self.root, p) for p in plain]
            )
            parts.append(
                df.select(*to_logical, *pos_cols)
                if want_pos
                else df.select(*to_logical)
            )
        if covered:
            dv = self._dv_df(dvs).select(
                F.col("file").alias("_file"),
                F.col("row_index").alias("_ridx"),
            )
            df = (
                self.spark.read.schema(read_schema)
                .parquet(*[os.path.join(self.root, p) for p in covered])
                .select(*to_logical, *pos_cols)
                .join(dv, ["_file", "_ridx"], "left_anti")
            )
            parts.append(df if want_pos else df.drop("_file", "_ridx"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if ident is not None:
            bases = [
                (_dv_key(r["path"]), int(r["identity_base"]))
                for r in data
                if r.get("identity_base") is not None
            ]
            if bases:
                bmap = self.spark.createDataFrame(
                    bases, "_file string, _ibase bigint"
                )
                virt = F.col("_ibase") + F.col("_ridx") * F.lit(
                    int(ident["step"])
                )
                out = out.join(F.broadcast(bmap), "_file", "left").select(
                    *[
                        F.coalesce(F.col(c), virt).alias(c)
                        if c == ident["col"]
                        else F.col(c)
                        for c in cols
                    ],
                    "_file",
                    "_ridx",
                )
            if not keep_pos:
                out = out.drop("_file", "_ridx")
        return out

    # -- change data feed --------------------------------------------------

    def _cdf_enabled(self) -> bool:
        with open(_entry_path(self.root, 0)) as f:
            return bool(json.load(f).get("cdf_enabled"))

    def _identity(self) -> dict | None:
        """STATIC identity metadata ({col, start, step}) from entry 0
        — declared at create, immutable thereafter (the identity
        column refuses rename/drop), so every read path can self-serve
        it without threading the head entry through. The moving part
        (the high watermark) lives in each commit entry and is only
        ever read by `_commit` against its own head. Cached per
        handle."""
        if not hasattr(self, "_ident_cache"):
            with open(_entry_path(self.root, 0)) as f:
                ident = json.load(f).get("identity")
            self._ident_cache = (
                {k: ident[k] for k in ("col", "start", "step")}
                if ident
                else None
            )
        return self._ident_cache

    def _stage_cdf(self, cdf_df: DataFrame) -> dict | None:
        """Stage a change-rows dataset (table columns +
        `_change_type`); returns the entry record or None if the
        batch changed nothing. Files are invisible until the commit
        that references them (same discipline as data staging)."""
        staged = self._stage(cdf_df, ".cdf.parquet")
        if not staged:
            return None
        return {
            "paths": [p for p, _ in staged],
            "rows": sum(n for _, n in staged),
        }

    def read_cdf(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Per-commit change rows in (from_version, to_version]:
        table columns + `_change_type` ('insert', 'delete',
        'update_preimage', 'update_postimage') + `_commit_version`.

        Requires the table to have been created with
        `enable_cdf=True`. Inserts from append/create commits are
        DERIVED from their add files (no change file is ever written
        for pure inserts — Delta's rule, appends stay write-once);
        merge/delete_mor/apply_changes read the change file
        their commit staged, verbatim — its identity values were
        materialized when it was staged (scanned pre-images, or
        `_fill_identity_in_changes` for post-images and inserts), so
        no read-time fill runs; restore/overwrite commits fall back to
        a snapshot diff of their two versions; metadata-only commits
        contribute nothing. Unlike `table_changes` (a two-snapshot
        diff), this is exact PER-COMMIT attribution at file-read
        cost."""
        if not self._cdf_enabled():
            raise ValueError(
                "table was not created with enable_cdf=True; use "
                "table_changes() for snapshot-diff changes"
            )
        to_v = to_version if to_version is not None else self.latest_version()
        _, head = self._live(to_v)
        final = StructType.fromJson(json.loads(head["schema"]))
        # tail read only (PLANS.md rule 25)
        entries = self._entries(upto=to_v, since=from_version)
        parts: list[DataFrame] = []
        for e in entries:
            v = e["version"]
            schema = StructType.fromJson(json.loads(e["schema"]))
            cols = [f.name for f in schema.fields]
            if e.get("cdf"):
                # cdf files carry the LOGICAL names in force at their
                # commit (they are staged from logical frames)
                cdf_schema = StructType(
                    schema.fields
                    + [StructField("_change_type", StringType(), False)]
                )
                df = self.spark.read.schema(cdf_schema).parquet(
                    *[
                        os.path.join(self.root, p)
                        for p in e["cdf"]["paths"]
                    ]
                )
            elif e["operation"] in ("append", "create", "clone"):
                # 'clone' (r9): the clone's v1 references the source
                # snapshot's files — its CDF feed starts at its
                # create (history never transfers), and that initial
                # population derives as inserts exactly like
                # create's, so replay closure holds from version 0 of
                # the clone. A clone commit CAN carry DV records (the
                # source's live deletion vectors transfer) — those
                # must APPLY to the scan, or MOR-deleted source rows
                # would appear as clone inserts.
                dv_recs = [
                    r for r in e.get("add", []) if r.get("kind") == "dv"
                ]
                adds = [
                    r for r in e.get("add", [])
                    if r.get("kind") not in ("dv",) and r.get("rows")
                ]
                if not adds:
                    continue
                # data files carry PHYSICAL names: read through the
                # central mapped scan (no DVs apply for append/create
                # — the inserts are the rows as of THAT commit; a
                # clone's transferred DVs DO apply)
                df = self._scan_live(
                    adds, dv_recs, schema, mapping=_entry_mapping(e)
                ).withColumn("_change_type", F.lit("insert"))
            elif e["operation"] in ("restore", "overwrite"):
                # table_changes emits v's logical names already
                df = self.table_changes(v - 1, v)
            else:
                # compact/cluster/add_column/rename_column/
                # drop_column/no-op commits change no rows
                continue
            # project each part into to_v's logical space by physical
            # identity (renames carry over, additions null-fill,
            # drops leave the feed)
            parts.append(
                self._relabel(
                    df.select(
                        *cols,
                        "_change_type",
                        F.lit(v).cast("long").alias("_commit_version"),
                    ),
                    e,
                    head,
                )
            )
        if not parts:
            empty = StructType(
                final.fields
                + [
                    StructField("_change_type", StringType(), False),
                    StructField("_commit_version", LongType(), False),
                ]
            )
            return self.spark.createDataFrame([], empty)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select(
            *[f.name for f in final.fields],
            "_change_type",
            "_commit_version",
        )

    def delete_mor(self, predicate: str, extra: dict | None = None) -> int:
        """The table's delete: record the positions of rows where the
        SQL `predicate` is TRUE in a deletion-vector dataset instead
        of rewriting data files — O(matches) written regardless of
        file sizes, the Delta deletion-vector design on Spark's
        `_metadata.row_index`. Rows where the predicate is NULL
        survive (SQL DELETE semantics). Readers apply DVs via a
        position anti-join scoped to covered files; copy-on-write
        rewrites (merge/apply_changes/compact/cluster) read through
        the same DV-applied scan, so rewritten files materialize the
        deletes. `compact` reclaims the space: it rewrites every
        file whose deleted share reaches `_DV_REWRITE_FRACTION`.
        Each delete_mor commit REPLACES the live DV dataset with (old
        rows still applying ∪ new matches) — exactly one DV dataset
        is live at a time.

        Read-dependent commit (like merge): raises
        ConcurrentWriteError if the log advances underneath."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        data, dvs = self._split_live(live)
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        scan = self._scan_live(
            data, dvs, schema, keep_pos=True,
            mapping=_entry_mapping(head_entry),
        )
        hits = scan.filter(predicate).localCheckpoint(eager=True)
        matches = hits.select(
            F.col("_file").alias("file"),
            F.col("_ridx").alias("row_index"),
        )
        if not matches.limit(1).count():
            # nothing newly deleted: keep the existing DV dataset
            return self._commit(
                "delete_mor", [], [], expected_head=head, extra=extra
            )
        cdf_extra: dict = {}
        if self._cdf_enabled():
            cols = [f.name for f in schema.fields]
            rec = self._stage_cdf(
                hits.select(
                    *cols, F.lit("delete").alias("_change_type")
                )
            )
            if rec:
                # delete pre-images are SCANNED rows: identity is
                # already materialized
                cdf_extra["cdf"] = rec
        extra = (extra or {}) | cdf_extra or None
        old = self._retire_dvs(dvs, data)
        return self._commit(
            "delete_mor",
            self._stage_dvs(
                matches if old is None else old.unionByName(matches)
            ),
            [r["path"] for r in dvs],
            expected_head=head,
            extra=extra,
        )

    def _fill_identity_in_changes(
        self,
        changes: DataFrame,
        add: list[dict],
        head_entry: dict,
        schema: StructType,
    ) -> DataFrame:
        """Materialize engine-assigned identity values into CDF rows
        at WRITE time. merge/apply_changes are never-retried commits
        (expected_head pins the head, so a lost race raises instead
        of re-reserving), which makes the per-file identity bases
        `_commit` will assign fully deterministic HERE — apply the
        same `_reserve_identity` to the just-staged add records,
        scan those files (where the identity projection
        materializes), and fill NULL identity on
        insert/update_postimage rows by key. The staged change file
        then carries the same values a snapshot reader sees, so both
        read_cdf and the STREAMING CDF source read it verbatim (r8)."""
        ident = head_entry.get("identity")
        if not ident:
            return changes
        icol = ident["col"]
        key_cols = head_entry["key_cols"]
        if icol in key_cols:
            return changes
        recs = [
            r for r in _reserve_identity(ident, add)[0]
            if r.get("kind") is None
        ]
        if not recs:
            return changes
        fills = (
            self._scan_live(
                recs, [], schema, mapping=_entry_mapping(head_entry)
            )
            .groupBy(*key_cols)
            .agg(F.min(icol).alias("__rid_fill__"))
        )
        fillable = F.col("_change_type").isin("insert", "update_postimage")
        return (
            changes.join(fills, list(key_cols), "left")
            .withColumn(
                icol,
                F.when(
                    F.col(icol).isNull() & fillable, F.col("__rid_fill__")
                ).otherwise(F.col(icol)),
            )
            .select(
                *[f.name for f in schema.fields], "_change_type"
            )
        )

    def _keyed_rewrite(
        self,
        src: DataFrame,
        head: int,
        live: list[dict],
        head_entry: dict,
        operation: str,
        extra: dict | None,
        op_col: str | None = None,
        preflight: bool = True,
    ) -> int:
        """The one keyed copy-on-write rewrite behind merge and
        apply_changes. `src` is conformed to the pinned head's schema;
        with `op_col` (the caller's name for it, used in error text)
        it also carries `_op` ('upsert' or 'delete' per row) — a merge
        source is the all-upsert case and carries no op column. Every
        source key lands in the survivor anti-join, so matched target
        rows are replaced or removed, unmatched upserts insert and
        unmatched deletes no-op. Only files that can hold a source
        key are read and rewritten; the scan applies live deletion
        vectors, so merge-on-read deletes never resurrect. One
        read-dependent commit named `operation`.

        `preflight=False` (merge's dedupe_source) skips the
        `_preflight` aggregation: `_affected_files` then computes the
        key ranges itself."""
        data, dvs = self._split_live(live)
        key_cols = head_entry["key_cols"]
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        mapping = _entry_mapping(head_entry)
        cols = [f.name for f in schema.fields]
        keys = src.select(*key_cols)
        ranges = _preflight(src, key_cols, op_col) if preflight else None
        affected = self._affected_files(
            data, keys, key_cols, schema, mapping=mapping, key_ranges=ranges
        )
        upserts = src
        if op_col is not None:
            upserts = src.filter(F.col("_op") != "delete").drop("_op")
        cdf = self._cdf_enabled()
        if cdf:
            # feeds both the rewrite and the change rows
            upserts = upserts.localCheckpoint(eager=True)
        rewritten = upserts
        change_rows: DataFrame | None = None
        if affected:
            recs = [r for r in data if r["path"] in set(affected)]
            scan = self._scan_live(recs, dvs, schema, mapping=mapping)
            if cdf:
                scan = scan.localCheckpoint(eager=True)
                # matched target rows are pre-images labelled by their
                # op (upsert → update_preimage, delete → delete);
                # source upserts split into post-images and inserts
                # by target match
                if op_col is None:
                    matched = src.select(*key_cols)
                    label = F.lit("update_preimage")
                else:
                    matched = src.select(*key_cols, "_op")
                    label = F.when(
                        F.col("_op") == "delete", "delete"
                    ).otherwise("update_preimage")
                pre = scan.join(F.broadcast(matched), key_cols).select(
                    *cols, label.alias("_change_type")
                )
                tkeys = scan.select(*key_cols).distinct()
                post = upserts.join(tkeys, key_cols, "left_semi").select(
                    *cols, F.lit("update_postimage").alias("_change_type")
                )
                ins = upserts.join(tkeys, key_cols, "left_anti").select(
                    *cols, F.lit("insert").alias("_change_type")
                )
                change_rows = pre.unionByName(post).unionByName(ins)
            survivors = scan.join(F.broadcast(keys), key_cols, "left_anti")
            rewritten = survivors.unionByName(upserts)
        elif cdf:
            change_rows = upserts.select(
                *cols, F.lit("insert").alias("_change_type")
            )
        add = self._stage_files(rewritten)
        if change_rows is not None:
            # staged AFTER the data files so engine-assigned identity
            # values can be filled in from them
            rec = self._stage_cdf(
                self._fill_identity_in_changes(
                    change_rows, add, head_entry, schema
                )
            )
            if rec:
                extra = (extra or {}) | {"cdf": rec}
        return self._commit(
            operation, add, affected, expected_head=head, extra=extra
        )

    def merge(
        self,
        source: DataFrame,
        dedupe_source: bool = False,
        extra: dict | None = None,
    ) -> int:
        """MERGE (upsert) by the table's key columns: matched target
        rows are replaced by the source row, unmatched source rows
        are inserted. Copy-on-write: only files that can contain a
        matching key are rewritten; everything else is carried by
        reference. Raises on duplicate source keys (the match would
        be ambiguous) unless `dedupe_source`.

        Read-dependent: raises ConcurrentWriteError if the log
        advances between snapshot and commit."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        key_cols = head_entry["key_cols"]
        # the SAME writer contract as append (_conform): absent
        # evolution-added columns (identity included — NULLs
        # materialize from the commit's reserved range at scan, the BY
        # DEFAULT rule) null-fill, and unknown columns raise. Key columns are required EXPLICITLY:
        # _conform would null-fill an absent key, silently merging by
        # NULL. strict_original (r9): an absent ORIGINAL column raises
        # rather than NULL-overwriting existing values on update.
        missing_keys = [k for k in key_cols if k not in source.columns]
        if missing_keys:
            raise ValueError(
                f"merge source lacks key column(s) {missing_keys}"
            )
        source = self._conform(source, head_entry, strict_original=True)
        if dedupe_source:
            source = source.dropDuplicates(key_cols)
        return self._keyed_rewrite(
            source, head, live, head_entry, "merge", extra,
            preflight=not dedupe_source,
        )

    def vacuum(
        self,
        keep_last: int = 1,
        retention_seconds: float = 7 * 24 * 3600,
    ) -> list[str]:
        """Physically delete data files no snapshot inside the
        retention window can reference. Time travel to vacuumed
        versions stops working (same contract as Delta VACUUM, same
        default 7-day window).

        Safe under concurrent writers AND slow in-flight readers — a
        file is deleted only if ALL of:

        1. it is not referenced by any of the last `keep_last`
           versions;
        2. it is not referenced by any version that WAS the head at
           any point inside the retention window (a reader that
           attached within the window may be pinned on any such
           snapshot — protection derives from commit-entry mtimes:
           every version from the newest window-aged entry onward is
           protected);
        3. its own mtime is older than the window — files staged by
           an in-flight writer (renamed into data/ before their
           commit lands) are always younger, so they can never be
           swept mid-commit.

        `retention_seconds=0` restores the aggressive
        everything-unreferenced sweep for controlled maintenance
        windows (the caller asserts no concurrent activity).

        A concurrent restore() can re-reference files from OUTSIDE
        the window (they'd look unreferenced here): the reference set
        is recomputed until the log holds still, so any restore that
        commits before the sweep starts is seen and protected. A
        restore to a beyond-retention version that commits DURING the
        sweep remains unsupported — the same contract as Delta, where
        VACUUM breaks time travel (and thus restore) past the
        window."""
        now = time.time()
        head_seen: int | None = None
        while True:
            vs = self._versions()
            if not vs:
                return []  # empty/aborted-create log: nothing to do
            if vs[-1] == head_seen:
                break  # log held still since `referenced` was built
            head_seen = vs[-1] if vs else None
            protect = set(vs[-keep_last:]) if keep_last else set()
            # newest entry at-or-beyond retention age: it and
            # everything after were the head at some point inside
            # the window
            cutoff_idx = 0
            for i, v in enumerate(vs):
                age = now - os.path.getmtime(_entry_path(self.root, v))
                if age >= retention_seconds:
                    cutoff_idx = i
            protect.update(vs[cutoff_idx:])
            referenced: set[str] = set()
            for v in sorted(protect):
                for rec in self._live(v)[0]:
                    referenced.add(rec["path"])
                # change-data-feed files belong to exactly one commit
                # and stay readable while that commit is protected
                with open(_entry_path(self.root, v)) as f:
                    e = json.load(f)
                for p in (e.get("cdf") or {}).get("paths", []):
                    referenced.add(p)
        removed = []
        d = os.path.join(self.root, _DATA)
        for f in os.listdir(d):
            rel = f"{_DATA}/{f}"
            if rel in referenced:
                continue
            path = os.path.join(d, f)
            try:
                if now - os.path.getmtime(path) < retention_seconds:
                    continue  # possibly an in-flight writer's staging
                os.remove(path)
            except FileNotFoundError:
                continue  # a concurrent vacuum swept it first
            removed.append(rel)
        return removed

    def compact(
        self,
        target_rows: int = 1_000_000,
        ranges: dict | None = None,
    ) -> int:
        """Transactional compaction, the table's one reclaim step:
        rewrite, as ONE commit, the files smaller than target_rows
        (when two or more are, else they are left alone) plus every
        file whose deletion-vector share reaches
        `_DV_REWRITE_FRACTION`, into ~target_rows files. Readers
        never see a half-compacted table (the non-transactional
        sibling in operators/maintenance.py needs an atomic
        directory swap for the same guarantee). The rewrite scans
        through the DVs, so it materializes `delete_mor`'s deletes;
        DV rows for rewritten files retire and the rest carry
        forward. Snapshot content is unchanged; only file boundaries
        move. No-op (and no commit) when nothing qualifies.

        Read-dependent: concurrent commits win, compaction retries
        belong to the caller (it is maintenance — always safe to
        re-run).

        Sizing is LIVE-row aware: a file's footer row count minus its
        deletion-vector positions is what the rewrite will actually
        emit, so a physically-large but mostly-deleted file correctly
        qualifies as small and the output file count is computed from
        rows that exist, not rows that once did.

        `ranges` ({col: (lo, hi)}, logical names, inclusive) scopes
        the pass to files whose stats INTERSECT every range —
        Delta's OPTIMIZE ... WHERE. At scale you compact the key
        range a stream just trickled small files into, not the whole
        table; candidate selection stays pure log metadata (the same
        stat-intersection rule as `pruned_paths`), and files without
        stats for a range column are conservatively in scope."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        data, dvs = self._split_live(live)
        mapping = _entry_mapping(head_entry)
        deleted = self._dv_counts(dvs)

        def _dead(rec: dict) -> int:
            return deleted.get(_dv_key(rec["path"]), 0)

        def _live_rows(rec: dict) -> int:
            return max(rec.get("rows", 0) - _dead(rec), 0)

        scope = [
            r for r in data
            if not ranges or _stats_intersect(r, ranges, mapping)
        ]
        small = {r["path"] for r in scope if _live_rows(r) < target_rows}
        if len(small) < 2:
            small = set()  # one small file alone is not worth a rewrite
        rewrite = [
            r for r in scope
            if r["path"] in small
            or (r.get("rows") and _dead(r) / r["rows"] >= _DV_REWRITE_FRACTION)
        ]
        if not rewrite:
            return head
        gone = {r["path"] for r in rewrite}
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        n_out = max(1, -(-sum(map(_live_rows, rewrite)) // target_rows))
        # DV-applied scan: the rewrite MATERIALIZES merge-on-read deletes
        add = self._stage_files(
            self._scan_live(rewrite, dvs, schema, mapping=mapping)
            .repartition(n_out)
        )
        add += self._stage_dvs(
            self._retire_dvs(dvs, [r for r in data if r["path"] not in gone])
        )
        return self._commit(
            "compact",
            add,
            [r["path"] for r in rewrite + dvs],
            expected_head=head,
        )

    # -- clustering + pruned reads -----------------------------------------

    def _clustered(self, df: DataFrame, cluster_by: list[str], bits: int = 12):
        """Range-partition + sort by the normalized z-order of
        `cluster_by` (operators/zorder.zordered, the recipe of
        write_zordered) so each staged file covers a tight key
        hyper-rectangle, feeding the commit's per-file stats instead
        of bare parquet footers."""
        from .operators.zorder import zordered

        n = df.sparkSession.sparkContext.defaultParallelism
        if len(cluster_by) == 1 or not all(
            isinstance(df.schema[c].dataType, (IntegralType, FloatType, DoubleType))
            for c in cluster_by
        ):
            # one column needs no interleave; non-numeric columns
            # (strings, dates, decimals) have no span to scale onto
            # the Morton grid — plain range clustering: files still
            # cover disjoint ranges of the leading column
            keys = [F.col(c) for c in cluster_by]
            return df.repartitionByRange(n, *keys).sortWithinPartitions(
                *keys
            )
        out = zordered(df, cluster_by, n, bits)
        return df if out is None else out  # None: nothing to order

    def cluster(
        self,
        cluster_by: list[str] | None = None,
        incremental: bool = False,
    ) -> int:
        """OPTIMIZE ... ZORDER BY for an existing table: rewrite
        live data files with rows clustered on `cluster_by`
        (default: the table's key columns) in ONE commit, so per-file
        stats tighten and `scan()` pruning bites on historically
        appended data. Merge-on-read deletes
        on rewritten files are materialized; DV rows for untouched
        files carry forward (`_retire_dvs`). Stats are recorded
        for the clustering columns as well as the key columns, so
        clustering on a non-key column makes it prunable. Every
        output record is stamped `clustered_by`. No-op (no commit)
        on an empty table.

        `incremental=True` rewrites ONLY files not already stamped as
        clustered on the same columns (Delta's incremental OPTIMIZE
        posture): appends landed since the last pass re-cluster at a
        cost proportional to THEIR size, while the previously
        clustered bulk — typically the overwhelming majority at
        scale — is untouched. The new files form their own tight
        z-run alongside the old ones (per-file stats stay the pruning
        unit, so two disjoint clustered generations prune exactly as
        well as one); a periodic full pass re-merges generations.
        No-op (no commit) when every live file is already stamped.

        Read-dependent: raises ConcurrentWriteError if the log
        advances mid-rewrite; maintenance is always safe to re-run."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        live_data, dvs = self._split_live(live)
        cluster_by = cluster_by or head_entry["key_cols"]
        data = live_data
        if incremental:
            stamp = sorted(cluster_by)
            data = [r for r in data if r.get("clustered_by") != stamp]
        if not data:
            return head
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        scan = self._scan_live(
            data, dvs, schema, mapping=_entry_mapping(head_entry)
        )
        add = self._stage_files(
            self._clustered(scan, cluster_by), stat_cols=cluster_by
        )
        for r in add:
            r["clustered_by"] = sorted(cluster_by)
        remove = [r["path"] for r in data]
        gone = set(remove)
        add += self._stage_dvs(
            self._retire_dvs(
                dvs, [r for r in live_data if r["path"] not in gone]
            )
        )
        return self._commit(
            "cluster",
            add,
            remove + [r["path"] for r in dvs],
            expected_head=head,
        )

    def pruned_paths(
        self, ranges: dict, version: int | None = None
    ) -> tuple[list[str], int]:
        """(live paths whose stats intersect every [lo, hi] range,
        total live count). Pure log metadata — no file I/O. `ranges`
        is keyed by LOGICAL column names; stats are stored physical."""
        live, head = self._live(version)
        mapping = _entry_mapping(head)
        live, _dvs = self._split_live(live)
        keep = [
            rec["path"]
            for rec in live
            if _stats_intersect(rec, ranges, mapping)
        ]
        return keep, len(live)

    def scan(self, ranges: dict, version: int | None = None) -> DataFrame:
        """snapshot() restricted to `ranges` ({col: (lo, hi)},
        inclusive), with FILE-level pruning from the commit log's
        stats before Spark ever lists or opens a footer — the log is
        the table's coarse index, exactly Delta/Iceberg's data-
        skipping read path. Row-level filtering still applies (file
        stats only bound, they don't partition)."""
        paths, _ = self.pruned_paths(ranges, version)
        live, head = self._live(version)
        data, dvs = self._split_live(live)
        schema = StructType.fromJson(json.loads(head["schema"]))
        recs = [r for r in data if r["path"] in set(paths)]
        df = self._scan_live(
            recs, dvs, schema, mapping=_entry_mapping(head)
        )
        cond = None
        for c, (lo, hi) in ranges.items():
            term = (F.col(c) >= F.lit(lo)) & (F.col(c) <= F.lit(hi))
            cond = term if cond is None else (cond & term)
        return df.filter(cond) if cond is not None else df

    @staticmethod
    def _relabel(
        df: DataFrame, src_entry: dict, tgt_entry: dict
    ) -> DataFrame:
        """Project a frame carrying `src_entry`-version LOGICAL
        columns into `tgt_entry`-version logical space, matching
        columns by their stable PHYSICAL identity: renamed columns
        carry over under the new name, columns added since read NULL,
        columns dropped since are omitted. Collapses the additive
        null-fill case and the rename case into one rule."""
        src_map = _entry_mapping(src_entry)
        tgt_map = _entry_mapping(tgt_entry)
        tgt_schema = StructType.fromJson(json.loads(tgt_entry["schema"]))
        phys_to_src = {src_map.get(c, c): c for c in df.columns}
        out = []
        for f in tgt_schema.fields:
            p = tgt_map.get(f.name, f.name)
            if p in phys_to_src:
                out.append(F.col(phys_to_src[p]).alias(f.name))
            else:
                out.append(F.lit(None).cast(f.dataType).alias(f.name))
        passthrough = [
            c
            for c in ("_change_type", "_commit_version")
            if c in df.columns
        ]
        return df.select(*out, *passthrough)

    def table_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Change data feed between two versions: the row-level diff
        a downstream consumer needs to catch up from `from_version`
        to `to_version` (default: latest). Output = table columns +
        `_change_type` in {'insert', 'update_preimage',
        'update_postimage', 'delete'}.

        Computed as a snapshot diff keyed on the table's key columns
        (full outer join of the two snapshots; rows equal on every
        column are dropped) — correct for ANY commit mix including
        COW rewrites and MOR deletion vectors, without per-commit row
        tracking. Cost is a join of the two snapshots, so this is the
        catch-up/backfill surface; per-batch streaming consumers
        should read CDC batches written via the sink's mode='cdc',
        which are recorded at write time for free.

        Requires `from_version`'s files to still exist (not
        vacuumed)."""
        head_v = to_version if to_version is not None else self.latest_version()
        _, entry_from = self._live(from_version)
        _, head = self._live(head_v)
        new = self.snapshot(head_v)
        # schema evolution between the two versions: project the old
        # snapshot into head_v's logical space by PHYSICAL identity —
        # added columns null-fill (a post-evolution value reads as a
        # NULL→value update), renamed columns line up under the new
        # name, dropped columns leave the diff entirely
        old = self._relabel(self.snapshot(from_version), entry_from, head)
        key_cols = head["key_cols"]
        cols = new.columns
        val_cols = [c for c in cols if c not in key_cols]

        # the keyed diff below assumes key uniqueness WITHIN each
        # snapshot — append can legally commit duplicate keys, and
        # pairing duplicates would emit phantom update pre/post rows
        # (and collapse live duplicates in any consumer applying the
        # feed). Detect duplicates with one aggregate per side and
        # fall back to an exact MULTISET full-row diff: per-row-value
        # count deltas become insert/delete rows (update attribution
        # genuinely needs unique keys, so none is fabricated).
        tagged = old.select(
            *key_cols, F.lit(0).alias("_side")
        ).unionByName(new.select(*key_cols, F.lit(1).alias("_side")))
        has_dups = bool(
            tagged.groupBy(*key_cols, "_side")
            .agg(F.count("*").alias("_n"))
            .filter(F.col("_n") > 1)
            .limit(1)
            .count()
        )  # ONE job over both snapshots' key projections

        if has_dups:
            oc = old.groupBy(*cols).agg(F.count("*").alias("_oc"))
            nc = new.groupBy(*cols).agg(F.count("*").alias("_nc"))
            cond = None
            for c in cols:
                term = oc[c].eqNullSafe(nc[c])
                cond = term if cond is None else (cond & term)
            j = oc.join(nc, cond, "full_outer").select(
                *[F.coalesce(oc[c], nc[c]).alias(c) for c in cols],
                (
                    F.coalesce(nc["_nc"], F.lit(0))
                    - F.coalesce(oc["_oc"], F.lit(0))
                ).alias("_d"),
            )
            order = key_cols + val_cols

            def _times(df: DataFrame, n: Column, label: str) -> DataFrame:
                return df.withColumn(
                    "_r", F.explode(F.sequence(F.lit(1), n))
                ).select(
                    *order, F.lit(label).alias("_change_type")
                )

            return _times(
                j.filter(F.col("_d") > 0), F.col("_d"), "insert"
            ).unionByName(
                _times(
                    j.filter(F.col("_d") < 0), -F.col("_d"), "delete"
                )
            )

        o = old.select(
            *key_cols,
            F.struct(*[F.col(c) for c in val_cols]).alias("_o"),
        )
        n = new.select(
            *key_cols,
            F.struct(*[F.col(c) for c in val_cols]).alias("_n"),
        )
        j = o.join(n, key_cols, "full_outer")
        inserts = j.filter(F.col("_o").isNull()).select(
            *key_cols,
            *[F.col("_n")[c].alias(c) for c in val_cols],
            F.lit("insert").alias("_change_type"),
        )
        deletes = j.filter(F.col("_n").isNull()).select(
            *key_cols,
            *[F.col("_o")[c].alias(c) for c in val_cols],
            F.lit("delete").alias("_change_type"),
        )
        changed = j.filter(
            F.col("_o").isNotNull()
            & F.col("_n").isNotNull()
            # struct inequality is null-safe member-wise in Spark,
            # so NULL→value and value→NULL edits register as updates
            & ~F.col("_o").eqNullSafe(F.col("_n"))
        )
        pre = changed.select(
            *key_cols,
            *[F.col("_o")[c].alias(c) for c in val_cols],
            F.lit("update_preimage").alias("_change_type"),
        )
        post = changed.select(
            *key_cols,
            *[F.col("_n")[c].alias(c) for c in val_cols],
            F.lit("update_postimage").alias("_change_type"),
        )
        return inserts.unionByName(deletes).unionByName(pre).unionByName(post)

    def restore(self, version: int) -> int:
        """Roll the table back to `version` AS A NEW COMMIT (history
        is append-only; nothing is deleted, so the restore itself can
        be time-traveled past). Data files are re-referenced, not
        rewritten — restore is metadata-only and O(log size).

        Requires the target version's files to still exist (i.e. not
        vacuumed). A vacuum racing this restore could sweep the
        resurrected beyond-retention files between the existence
        precheck and the commit — so after the entry lands the files
        are RE-verified; if any vanished, a compensating commit rolls
        the table forward to its pre-restore state and the restore
        raises, leaving every snapshot readable (silent head
        corruption is the one unacceptable outcome; vacuum's own
        recompute loop catches the opposite ordering).

        The schema deliberately stays the NEWER one: evolution is
        additive-nullable, so old rows read correctly under it."""
        head = self.latest_version()
        old_live = self._live(version)[0]
        cur_live = self._live(head)[0]
        for rec in old_live:
            if not os.path.exists(os.path.join(self.root, rec["path"])):
                raise FileNotFoundError(
                    f"{rec['path']} was vacuumed; cannot restore v{version}"
                )
        cur_paths = {r["path"] for r in cur_live}
        old_paths = {r["path"] for r in old_live}
        add = [r for r in old_live if r["path"] not in cur_paths]
        remove = sorted(cur_paths - old_paths)
        v_new = self._commit(
            "restore", add, remove, expected_head=head,
            extra={"restored_version": version},
        )
        missing = [
            r["path"]
            for r in old_live
            if not os.path.exists(os.path.join(self.root, r["path"]))
        ]
        if missing:
            # the compensation MUST land even if another commit beat
            # it to v_new+1 (expected_head=None retries like append):
            # raising here would leave the head permanently
            # referencing swept files — the one unacceptable outcome.
            # An interloper's added files are not in the remove list,
            # so its rows survive the roll-forward.
            self._commit(
                "restore",
                [r for r in cur_live if r["path"] in set(remove)],
                sorted(old_paths - cur_paths),
                expected_head=None,
                extra={"restored_version": head},
            )
            raise FileNotFoundError(
                f"concurrent vacuum swept {missing[:3]}... during "
                f"restore to v{version}; rolled forward to the "
                f"pre-restore state (v{head})"
            )
        return v_new

    def clone(self, dest_root: str) -> "LakeTable":
        """SHALLOW CLONE (Delta's CLONE): a new, independent table
        whose create commit references the source snapshot's live
        files BY ABSOLUTE PATH — zero data copied, O(metadata) cost.
        The clone gets the source's schema, key columns, stats
        columns, identity, column mapping and live deletion vectors
        as of now; from then on the two logs evolve independently
        (writes to the clone stage into ITS OWN data/ directory; COW
        rewrites drop the absolute references file by file). CDF
        HISTORY does not transfer (the clone's feed starts at its
        create — Delta's rule), but the cdf_enabled PROPERTY inherits
        like every other table property (r9; Delta clones inherit
        delta.enableChangeDataFeed too): a clone of a CDF table
        records change rows for its OWN commits from version 1 on.

        Caveats (same as Delta): `vacuum()` on the clone never
        touches source files (it only sweeps the clone's own data
        dir), but vacuuming the SOURCE can delete files a clone still
        references — treat clones as pinning the source's retention.
        """
        head = self.latest_version()
        live, head_entry = self._live(head)
        add = [
            r | {"path": os.path.abspath(os.path.join(self.root, r["path"]))}
            for r in live
        ]
        os.makedirs(os.path.join(dest_root, _TXN), exist_ok=True)
        os.makedirs(os.path.join(dest_root, _DATA), exist_ok=True)
        entry0 = {
            "version": 0,
            "operation": "create",
            "ts": time.time(),
            "add": [],
            "remove": [],
            "schema": head_entry["schema"],
            "key_cols": head_entry["key_cols"],
            # the property lives in entry 0 only (never in later
            # commit entries) — inherit from the source's entry 0
            "cdf_enabled": self._cdf_enabled(),
            "column_mapping": _entry_mapping(head_entry),
            "retired_cols": head_entry.get("retired_cols") or [],
            "stats_cols": head_entry.get("stats_cols") or [],
            "identity": head_entry.get("identity"),
            "cloned_from": {"root": os.path.abspath(self.root),
                            "version": head},
        }
        with open(_entry_path(dest_root, 0), "x") as f:
            json.dump(entry0, f, indent=1)
        t = LakeTable(self.spark, dest_root) if self.spark else (
            LakeTable.attach(dest_root)
        )
        t._commit("clone", add, [], expected_head=0)
        return t

    def add_column(self, name: str, dtype: str) -> int:
        """Schema evolution: add a NULLABLE column as a metadata-only
        commit. Existing files are untouched — the parquet reader
        null-fills columns absent from a file's footer, so old rows
        read as NULL under the new schema while time travel to
        pre-evolution versions still sees the old schema (each commit
        entry carries the schema in force). Only additive, nullable
        evolution is supported — exactly the subset that never
        requires rewriting data (Delta's default rule).

        If the logical name collides with a RETIRED physical name (a
        column of that name was dropped earlier) or with another
        column's live physical name (the name was renamed away), the
        new column gets a fresh uuid-suffixed physical name — old
        files' bytes can never resurrect under the new column."""
        from pyspark.sql.types import _parse_datatype_string

        head = self.latest_version()
        _, head_entry = self._live(head)
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        if name in [f.name for f in schema.fields]:
            raise ValueError(f"column {name!r} already exists")
        mapping = dict(_entry_mapping(head_entry))
        retired = list(head_entry.get("retired_cols") or [])
        live_phys = {
            mapping.get(f.name, f.name) for f in schema.fields
        }
        extra: dict = {}
        if name in live_phys or name in retired:
            mapping[name] = f"{name}-{uuid.uuid4().hex[:8]}"
            extra["column_mapping"] = mapping
        new_schema = StructType(
            schema.fields
            + [StructField(name, _parse_datatype_string(dtype), True)]
        )
        return self._commit(
            "add_column", [], [], expected_head=head,
            extra={"schema": new_schema.json(), "added_column": name}
            | extra,
        )

    def rename_column(self, old: str, new: str) -> int:
        """ALTER TABLE RENAME COLUMN as a METADATA-ONLY commit —
        Delta's column-mapping design: the column's physical name
        (what parquet files and stats records carry) never changes;
        only the logical schema and the entry's column_mapping move.
        No data file is read or written. Time travel keeps old names
        at old versions (every entry carries the mapping in force).
        Renaming a key column updates key_cols. Streams
        planned under the old name fail on restart (non-additive
        change — Delta's posture)."""
        head = self.latest_version()
        _, head_entry = self._live(head)
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        ident = self._identity()
        if ident and old == ident["col"]:
            raise ValueError(
                f"{old!r} is the identity column; identity columns "
                "cannot be renamed (their metadata is pinned at "
                "create so every reader can resolve value ranges)"
            )
        mapping = dict(_entry_mapping(head_entry))
        phys = mapping.pop(old, old)
        if new != phys:
            mapping[new] = phys
        new_schema = StructType(
            [
                StructField(new, f.dataType, f.nullable)
                if f.name == old
                else f
                for f in schema.fields
            ]
        )
        key_cols = [
            new if c == old else c for c in head_entry["key_cols"]
        ]
        return self._commit(
            "rename_column", [], [], expected_head=head,
            extra={
                "schema": new_schema.json(),
                "key_cols": key_cols,
                "column_mapping": mapping,
                "stats_cols": [
                    new if c == old else c
                    for c in head_entry.get("stats_cols") or []
                ],
                "renamed_column": [old, new],
            },
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the
        physical column stays in every committed file but is never
        read again, and its physical name is RETIRED so a future
        add_column of the same logical name maps to a fresh physical
        name instead of resurrecting the dead bytes (Delta's
        column-mapping drop). Key columns and the identity column
        refuse; time travel still reads the column at old
        versions."""
        head = self.latest_version()
        _, head_entry = self._live(head)
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        names = [f.name for f in schema.fields]
        if name not in names:
            raise ValueError(f"no column {name!r}")
        if name in head_entry["key_cols"]:
            raise ValueError(
                f"{name!r} is a key column; key columns cannot be "
                "dropped (they drive MERGE identity and file stats)"
            )
        if len(names) == 1:
            raise ValueError("cannot drop the only column")
        ident = self._identity()
        if ident and name == ident["col"]:
            raise ValueError(
                f"{name!r} is the identity column; identity columns "
                "cannot be dropped"
            )
        mapping = dict(_entry_mapping(head_entry))
        phys = mapping.pop(name, name)
        retired = list(head_entry.get("retired_cols") or [])
        if phys not in retired:
            retired.append(phys)
        new_schema = StructType(
            [f for f in schema.fields if f.name != name]
        )
        return self._commit(
            "drop_column", [], [], expected_head=head,
            extra={
                "schema": new_schema.json(),
                "column_mapping": mapping,
                "retired_cols": retired,
                "stats_cols": [
                    c
                    for c in head_entry.get("stats_cols") or []
                    if c != name
                ],
                "dropped_column": name,
            },
        )

    # -- log checkpointing -------------------------------------------------

    def checkpoint_log(self) -> int:
        """Consolidate the live state at the current head into ONE
        checkpoint file (_txn/_ckpt.<head>.json). Readers then replay
        checkpoint + tail instead of the whole history — attach cost
        stops growing with commit count (Delta writes the same
        artifact every N commits). Safe concurrent with writers: the
        checkpoint only summarizes entries <= head, is ignored until
        fully written (atomic O_EXCL + rename-free single file), and
        loses nothing if a commit lands meanwhile (the tail replay
        picks it up)."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        ckpt = {
            "version": head,
            "live": live,
            "schema": head_entry["schema"],
            "key_cols": head_entry["key_cols"],
            "column_mapping": _entry_mapping(head_entry),
            "retired_cols": head_entry.get("retired_cols") or [],
            "stats_cols": head_entry.get("stats_cols") or [],
            "identity": head_entry.get("identity"),
        }
        path = os.path.join(self.root, _TXN, f"_ckpt.{head:0{_WIDTH}d}.json")
        # unique tmp per writer: two concurrent checkpoint_log calls
        # at the same head must never interleave into one file (a
        # shared '.tmp' would corrupt the published checkpoint and
        # brick every read path through _latest_checkpoint)
        tmp = f"{path}.{uuid.uuid4().hex}.tmp"
        with open(tmp, "w") as f:
            json.dump(ckpt, f, indent=1)
        os.replace(tmp, path)
        return head

    def _latest_checkpoint(self) -> dict | None:
        d = os.path.join(self.root, _TXN)
        cands = sorted(
            f for f in os.listdir(d)
            if f.startswith("_ckpt.") and f.endswith(".json")
        )
        if not cands:
            return None
        with open(os.path.join(d, cands[-1])) as f:
            return json.load(f)

    def _live(self, version: int | None = None) -> tuple[list[dict], dict]:
        """Live state through the latest applicable checkpoint:
        replay starts from the checkpointed live set and only reads
        the entry tail, so attach cost is O(tail), not O(history).
        Falls back to the full replay when no checkpoint applies
        (older-than-checkpoint time travel included)."""
        ck = self._latest_checkpoint()
        if ck is None or (version is not None and version < ck["version"]):
            return self._live_full(version)
        live = {rec["path"]: rec for rec in ck["live"]}
        tail_entries = self._entries(upto=version, since=ck["version"])
        schema_entry = {
            "schema": ck["schema"],
            "key_cols": ck["key_cols"],
            "column_mapping": ck.get("column_mapping") or {},
            "retired_cols": ck.get("retired_cols") or [],
            "stats_cols": ck.get("stats_cols") or [],
            "identity": ck.get("identity"),
        }
        for e in tail_entries:
            for rec in e.get("add", []):
                live[rec["path"]] = rec
            for p in e.get("remove", []):
                live.pop(p, None)
            schema_entry = e
        return list(live.values()), schema_entry

    def apply_changes(
        self,
        changes: DataFrame,
        op_col: str = "_op",
        extra: dict | None = None,
    ) -> int:
        """CDC apply: one atomic commit for a mixed change batch.
        `changes` carries the table columns plus `op_col` with
        'upsert' or 'delete' per row (the change-data-feed shape a
        CDC source emits). Matched keys are replaced or removed,
        unmatched upserts insert, unmatched deletes no-op — all under
        the same copy-on-write file pruning as merge(), in ONE
        read-dependent commit (a downstream reader sees the whole
        batch or none of it). Duplicate keys in one batch are
        ambiguous — rejected."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        key_cols = head_entry["key_cols"]
        # the SAME writer contract as merge (_conform, strict_original)
        # with the op column riding through verbatim; key columns are
        # required explicitly
        missing_keys = [k for k in key_cols if k not in changes.columns]
        if missing_keys:
            raise ValueError(
                f"change batch lacks key column(s) {missing_keys}"
            )
        # op_col must not collide with the schema: _conform(keep=)
        # would emit two identically-named columns and every later
        # reference would die with AMBIGUOUS_REFERENCE (r8 ADVICE);
        # same for a table column named '_op', the pipeline's
        # internal label the op column is renamed to.
        field_names = {
            f.name
            for f in StructType.fromJson(
                json.loads(head_entry["schema"])
            ).fields
        }
        if op_col in field_names:
            raise ValueError(
                f"op_col {op_col!r} is a table column: the change "
                "batch's operation column must not collide with the "
                "schema — pass a differently-named op column"
            )
        if "_op" in field_names:
            raise ValueError(
                "table has a column named '_op', which apply_changes "
                "uses internally for the operation label; this table "
                "cannot take CDC batches through apply_changes"
            )
        ops = self._conform(
            changes, head_entry, keep=(op_col,), strict_original=True
        )
        if op_col != "_op":
            ops = ops.withColumnRenamed(op_col, "_op")
        return self._keyed_rewrite(
            ops, head, live, head_entry, "apply_changes", extra,
            op_col=op_col,
        )


# functions of this module ride inside the worker-shipped streaming
# source's readers (sources/lake.py) — keep the foreign-cwd pickling
# contract uniform (CLAUDE.md invariant 2)
import sys as _sys  # noqa: E402

import pyspark as _pyspark  # noqa: E402

_pyspark.cloudpickle.register_pickle_by_value(_sys.modules[__name__])
