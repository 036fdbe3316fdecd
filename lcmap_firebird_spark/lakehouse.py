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

Every data and deletion-vector file is zstd-compressed Parquet,
written by the one staging path (`LakeTable._stage`) with the
module's own codec; the session's `spark.sql.parquet.compression.codec`
(snappy by default, kept for every other writer) does not apply to
the lake. Readers take any codec, so a table whose files were staged
as snappy reads unchanged, and `compact` rewrites its small files as
zstd.

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
    StructField,
    StructType,
)

_TXN = "_txn"
_DATA = "data"
_WIDTH = 20
_DV_SCHEMA = "file string, row_index bigint"
# `compact` rewrites a data file whose deletion-vector share reaches
# this fraction whatever its size (Delta's DV-threshold purge)
_DV_REWRITE_FRACTION = 0.1
# the Parquet codec of every lake file, whatever the session's
# `spark.sql.parquet.compression.codec` (Iceberg's default since 1.4):
# text-heavy files come out about 38% smaller than under snappy
_CODEC = "zstd"


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
    are incomparable literal/stat type pairs. MERGE's candidate
    selection (`_affected_files`) is its one caller; its ranges are
    a non-empty source's key min/max, so both bounds are set."""
    for c, (lo, hi) in ranges.items():
        st = (rec.get("stats") or {}).get(mapping.get(c, c))
        if st is None:
            continue
        try:
            if st[0] > hi or st[1] < lo:
                return False
        except TypeError:
            continue  # incomparable literal/stat types: keep
    return True


def _preflight(df: DataFrame, key_cols: list[str]) -> dict:
    """Validate a merge source with ONE aggregation and return its key
    ranges ({col: (min, max)}, or {} for an empty source) for
    `_affected_files`. Group by key with a per-group row count, then
    fold max(count) and the key min/max in a 1-row global agg (r12:
    one source pass instead of three). min/max over distinct keys
    equals min/max over all rows, and max(count) > 1 iff a key
    repeats, which raises. Aliases carry a collision-proof __pf_
    prefix (r12 ADVICE)."""
    row = (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("__pf_c"))
        .agg(
            F.max("__pf_c").alias("__pf_maxc"),
            *[F.min(c).alias(f"__pf_mn_{c}") for c in key_cols],
            *[F.max(c).alias(f"__pf_mx_{c}") for c in key_cols],
        )
        .first()
    )
    if (row["__pf_maxc"] or 0) > 1:
        raise ValueError(
            "duplicate keys in merge source; pass dedupe_source=True "
            "to keep an arbitrary one"
        )
    if any(row[f"__pf_mn_{c}"] is None for c in key_cols):
        return {}
    return {
        c: (row[f"__pf_mn_{c}"], row[f"__pf_mx_{c}"]) for c in key_cols
    }


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
        pure filesystem) — the CLI's `lake describe/history/vacuum/
        checkpoint` actions run without a SparkSession. Anything that
        builds a DataFrame (snapshot, merge, ...) still needs the real
        constructor."""
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
        return {
            "version": v,
            "key_cols": head["key_cols"],
            "num_data_files": len(data),
            "num_dv_files": len(dvs),
            "physical_rows": physical,
            "deleted_rows": n_deleted,
            "live_rows": physical - n_deleted,
            "bytes": sum(
                r["bytes"] for r in data if r.get("bytes") is not None
            ),
        }

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
        and join every MERGE candidate list. The one staging path
        for data and deletion-vector files: every file is complete
        before it is visible in data/, and invisible to readers until
        a commit references it (vacuum's retention window protects it
        meanwhile). Files are zstd (`_CODEC`) whatever the session's
        Parquet codec."""
        import shutil

        import pyarrow.parquet as pq

        tmp = os.path.join(self.root, f".stage-{uuid.uuid4().hex}")
        os.makedirs(os.path.join(self.root, _DATA), exist_ok=True)
        staged = []
        try:
            writer = df.write.mode("overwrite").option("compression", _CODEC)
            writer.parquet(tmp)
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

    def _stage_files(self, df: DataFrame, head: dict) -> list[dict]:
        """Write df's rows as immutable files in data/, return add
        records with footer stats over the table's key columns (what
        MERGE prunes on). Files are invisible until a commit
        references them. `head` is the log entry the caller has
        already replayed to (its key columns and column mapping), so
        staging reads no log.

        Data files and stats records always use PHYSICAL column names
        (identical to logical until a rename/drop happens) — renames
        never need to touch committed bytes because committed bytes
        never carry a logical name."""
        mapping = _entry_mapping(head)
        key_cols = [mapping.get(c, c) for c in head["key_cols"]]
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
            }
            if extra:
                entry.update(extra)
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
    ) -> "LakeTable":
        """Create a table from df; `key_cols` are the MERGE keys and
        drive per-file stats pruning."""
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
        }
        with open(_entry_path(root, 0), "x") as f:
            json.dump(entry0, f, indent=1)
        t = LakeTable(spark, root)
        add = t._stage_files(df, entry0)
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
        self, df: DataFrame, head: dict, strict_original: bool = False
    ) -> DataFrame:
        """Project df onto the table schema: reject columns the table
        doesn't have (misspellings must not silently land as a file
        readers null-fill away), null-fill absent evolution-added
        columns (pre-evolution writer shapes stay valid), and cast
        the rest — an unconverted type would commit
        a file every subsequent scan chokes on.

        `strict_original=True` (merge) confines the silent null-fill
        to EVOLUTION-ADDED columns: a source that omits a create-time
        column raises instead, since on update the null-fill would
        silently overwrite existing values with NULL (r8 ADVICE).
        Tracked by physical identity via `_original_physical`, so
        renames follow the column and a drop+re-add counts as
        evolution-added."""
        schema = StructType.fromJson(json.loads(head["schema"]))
        known = {f.name for f in schema.fields}
        extra_cols = [c for c in df.columns if c not in known]
        if extra_cols:
            raise ValueError(
                f"columns {extra_cols!r} not in table schema "
                f"{sorted(known)}"
            )
        orig = self._original_physical() if strict_original else frozenset()
        mapping = _entry_mapping(head)

        def _col(f):
            if f.name in df.columns:
                return F.col(f.name).cast(f.dataType).alias(f.name)
            if strict_original and mapping.get(f.name, f.name) in orig:
                raise ValueError(
                    f"source omits original-schema column {f.name!r}: "
                    "on update the null-fill would silently overwrite "
                    "existing values with NULL. Silent null-fill is "
                    "reserved for evolution-added columns; include "
                    "the column explicitly (or pass NULLs "
                    "deliberately)."
                )
            return F.lit(None).cast(f.dataType).alias(f.name)

        return df.select(*[_col(f) for f in schema.fields])

    def append(self, df: DataFrame, extra: dict | None = None) -> int:
        """Atomic multi-file append (order-independent: retries
        transparently if another writer commits first). `extra` keys
        land in the commit entry atomically with the commit (caller
        metadata such as a batch id).
        Rows are conformed to the table schema first (cast + null-
        fill of evolution-added columns; unknown columns raise)."""
        head = self._live()[1]
        add = self._stage_files(self._conform(df, head), head)
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
        min/max aggregation here is skipped — merge folds it into
        the source pass it already runs (r12: one source aggregation
        instead of two full scans)."""
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
        the read half of metadata-only rename/drop."""
        mapping = mapping or {}
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
                if keep_pos
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
            parts.append(df if keep_pos else df.drop("_file", "_ridx"))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out


    def delete_mor(self, predicate: str, extra: dict | None = None) -> int:
        """The table's delete: record the positions of rows where the
        SQL `predicate` is TRUE in a deletion-vector dataset instead
        of rewriting data files — O(matches) written regardless of
        file sizes, the Delta deletion-vector design on Spark's
        `_metadata.row_index`. Rows where the predicate is NULL
        survive (SQL DELETE semantics). Readers apply DVs via a
        position anti-join scoped to covered files; copy-on-write
        rewrites (merge/compact/cluster) read through
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
        matches = (
            scan.filter(predicate)
            .select(
                F.col("_file").alias("file"),
                F.col("_ridx").alias("row_index"),
            )
            .localCheckpoint(eager=True)
        )
        if matches.isEmpty():
            # nothing newly deleted: keep the existing DV dataset
            return self._commit(
                "delete_mor", [], [], expected_head=head, extra=extra
            )
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

    def merge(
        self,
        source: DataFrame,
        dedupe_source: bool = False,
        extra: dict | None = None,
    ) -> int:
        """MERGE (upsert) by the table's key columns: matched target
        rows are replaced by the source row, unmatched source rows
        are inserted. Copy-on-write: only files that can contain a
        matching key are read and rewritten; everything else is
        carried by reference. The scan applies live deletion vectors,
        so merge-on-read deletes never resurrect. Raises on duplicate
        source keys (the match would be ambiguous) unless
        `dedupe_source`, which skips the `_preflight` aggregation
        (`_affected_files` then computes the key ranges itself).

        Read-dependent: raises ConcurrentWriteError if the log
        advances between snapshot and commit."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        key_cols = head_entry["key_cols"]
        # the SAME writer contract as append (_conform): absent
        # evolution-added columns null-fill, and unknown columns
        # raise. Key columns are required EXPLICITLY: _conform would
        # null-fill an absent key, silently merging by NULL.
        # strict_original (r9): an absent ORIGINAL column raises
        # rather than NULL-overwriting existing values on update.
        missing_keys = [k for k in key_cols if k not in source.columns]
        if missing_keys:
            raise ValueError(
                f"merge source lacks key column(s) {missing_keys}"
            )
        source = self._conform(source, head_entry, strict_original=True)
        if dedupe_source:
            source = source.dropDuplicates(key_cols)
        data, dvs = self._split_live(live)
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        mapping = _entry_mapping(head_entry)
        keys = source.select(*key_cols)
        ranges = None if dedupe_source else _preflight(source, key_cols)
        affected = self._affected_files(
            data, keys, key_cols, schema, mapping=mapping, key_ranges=ranges
        )
        rewritten = source
        if affected:
            recs = [r for r in data if r["path"] in set(affected)]
            scan = self._scan_live(recs, dvs, schema, mapping=mapping)
            survivors = scan.join(F.broadcast(keys), key_cols, "left_anti")
            rewritten = survivors.unionByName(source)
        return self._commit(
            "merge",
            self._stage_files(rewritten, head_entry),
            affected,
            expected_head=head,
            extra=extra,
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
            head_seen = vs[-1]
            # newest entry at-or-beyond retention age: it and
            # everything after were the head at some point inside
            # the window
            cutoff_idx = 0
            for i, v in enumerate(vs):
                age = now - os.path.getmtime(_entry_path(self.root, v))
                if age >= retention_seconds:
                    cutoff_idx = i
            # both protected sets are suffixes of vs, so the files they
            # reference are those live at the suffix's first version
            # plus every later add: one replay, each entry read once
            first = vs[max(min(len(vs) - keep_last, cutoff_idx), 0)]
            referenced = {rec["path"] for rec in self._live(first)[0]}
            for e in self._entries(since=first):
                referenced.update(rec["path"] for rec in e.get("add", []))
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

    def compact(self, target_rows: int = 1_000_000) -> int:
        """Transactional compaction, the table's one reclaim step:
        rewrite, as ONE commit, the files smaller than target_rows
        (when two or more are, else they are left alone) plus every
        file whose deletion-vector share reaches
        `_DV_REWRITE_FRACTION`, into ~target_rows files. Readers
        never see a half-compacted table: the rewrite is one log
        entry. The rewrite scans through the DVs, so it materializes
        `delete_mor`'s deletes; DV rows for rewritten files retire
        and the rest carry forward. Snapshot content is unchanged;
        only file boundaries move. No-op (and no commit) when nothing
        qualifies.

        Read-dependent: concurrent commits win, compaction retries
        belong to the caller (it is maintenance — always safe to
        re-run).

        Sizing is LIVE-row aware: a file's footer row count minus its
        deletion-vector positions is what the rewrite will actually
        emit, so a physically-large but mostly-deleted file correctly
        qualifies as small and the output file count is computed from
        rows that exist, not rows that once did."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        data, dvs = self._split_live(live)
        mapping = _entry_mapping(head_entry)
        deleted = self._dv_counts(dvs)

        def _dead(rec: dict) -> int:
            return deleted.get(_dv_key(rec["path"]), 0)

        def _live_rows(rec: dict) -> int:
            return max(rec.get("rows", 0) - _dead(rec), 0)

        small = {r["path"] for r in data if _live_rows(r) < target_rows}
        if len(small) < 2:
            small = set()  # one small file alone is not worth a rewrite
        rewrite = [
            r for r in data
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
            .repartition(n_out),
            head_entry,
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

    # -- clustering --------------------------------------------------------

    def _clustered(self, df: DataFrame, cluster_by: list[str], bits: int = 12):
        """Range-partition + sort by the normalized z-order of
        `cluster_by` (operators/zorder.zordered) so each staged file
        covers a tight key hyper-rectangle, feeding the commit's
        per-file stats instead of bare parquet footers."""
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

    def cluster(self, cluster_by: list[str] | None = None) -> int:
        """OPTIMIZE ... ZORDER BY for an existing table: rewrite every
        live data file with rows clustered on `cluster_by` (default:
        the table's key columns) in ONE commit. Clustering on the
        keys tightens the per-file key stats, so MERGE reads and
        rewrites fewer candidate files on historically appended data.
        Merge-on-read deletes are materialized and every DV record
        retires. No-op (no commit) on an empty table.

        Read-dependent: raises ConcurrentWriteError if the log
        advances mid-rewrite; maintenance is always safe to re-run."""
        head = self.latest_version()
        live, head_entry = self._live(head)
        data, dvs = self._split_live(live)
        if not data:
            return head
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        scan = self._scan_live(
            data, dvs, schema, mapping=_entry_mapping(head_entry)
        )
        add = self._stage_files(
            self._clustered(scan, cluster_by or head_entry["key_cols"]),
            head_entry,
        )
        return self._commit(
            "cluster",
            add,
            [r["path"] for r in data + dvs],
            expected_head=head,
        )

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
        The clone gets the source's schema, key columns, column
        mapping and live deletion vectors as of now;
        from then on the two logs evolve independently (writes to the
        clone stage into ITS OWN data/ directory; COW rewrites drop
        the absolute references file by file). History does not
        transfer: the clone's log starts at its create (Delta's
        rule).

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
            "column_mapping": _entry_mapping(head_entry),
            "retired_cols": head_entry.get("retired_cols") or [],
            "cloned_from": {"root": os.path.abspath(self.root),
                            "version": head},
        }
        with open(_entry_path(dest_root, 0), "x") as f:
            json.dump(entry0, f, indent=1)
        t = LakeTable(self.spark, dest_root)
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
        Renaming a key column updates key_cols."""
        head = self.latest_version()
        _, head_entry = self._live(head)
        schema = StructType.fromJson(json.loads(head_entry["schema"]))
        names = [f.name for f in schema.fields]
        if old not in names:
            raise ValueError(f"no column {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
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
                "renamed_column": [old, new],
            },
        )

    def drop_column(self, name: str) -> int:
        """ALTER TABLE DROP COLUMN as a METADATA-ONLY commit: the
        physical column stays in every committed file but is never
        read again, and its physical name is RETIRED so a future
        add_column of the same logical name maps to a fresh physical
        name instead of resurrecting the dead bytes (Delta's
        column-mapping drop). Key columns refuse; time travel still
        reads the column at old versions."""
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
        }
        for e in tail_entries:
            for rec in e.get("add", []):
                live[rec["path"]] = rec
            for p in e.get("remove", []):
                live.pop(p, None)
            schema_entry = e
        return list(live.values()), schema_entry
