"""Streaming sink into the native lakehouse — transactional
exactly-once micro-batch commits.

`foreachBatch` + `lakehouse.LakeTable` gives streams the table-format
guarantees: each micro-batch lands as ONE atomic commit whose log
entry records the `batch_id`, so

- a replayed batch (crash between sink and checkpoint advance, the
  classic foreachBatch at-least-once hazard) is detected by its
  batch_id already being in the log and skipped — the commit either
  fully happened or didn't (O_EXCL entry create), which upgrades
  at-least-once delivery to exactly-once table contents;
- files staged by a crashed attempt are never referenced by any
  entry and are reclaimed by `vacuum()`;
- concurrent batch writers/readers see snapshot-isolated versions.

`mode="append"` commits each batch's rows; `mode="merge"` upserts by
the table's key columns (late/replayed rows revise earlier ones —
the continuous-rollup contract on a transactional substrate);
`mode="cdc"` applies mixed upsert/delete batches (rows carry an
`_op` column — the change-data-feed shape) via
`LakeTable.apply_changes`, one atomic commit per micro-batch.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame

from ..lakehouse import LakeTable, _preflight


def committed_batch_ids(table: LakeTable) -> set[int]:
    """batch_ids recorded by previous stream commits (FULL log scan
    — diagnostics/tests; the sink itself uses
    `last_committed_batch_id`, which stops at the newest stamp)."""
    return {
        e["batch_id"]
        for e in table._entries()
        if e.get("batch_id") is not None
    }


def last_committed_batch_id(
    table: LakeTable, app_id: str | None = None
) -> int | None:
    """The newest batch_id stamped in the log BY THIS STREAM,
    scanning BACKWARD from the head and stopping at the first
    matching stamp — O(commits since this stream's last batch),
    typically one or two entries, instead of re-parsing the whole
    history on every micro-batch. Structured Streaming batch_ids are
    monotone per checkpoint, so `batch_id <= last stamp` is exactly
    `already committed`.

    `app_id` is the stream identity (Delta's txnAppId): two streams
    writing one table MUST use distinct app_ids, or the second
    stream's batches 0..N would satisfy the first stream's
    high-water mark and be silently dropped. A stamp without app_id
    only matches a sink without app_id (the single-stream default).
    A new checkpoint dir restarts batch ids at 0 — pair it with a
    new app_id (or table), the same contract as Delta's
    txnAppId/txnVersion."""
    from ..lakehouse import _entry_path

    for v in reversed(table._versions()):
        with open(_entry_path(table.root, v)) as f:
            e = json.load(f)
        if e.get("batch_id") is not None and e.get("app_id") == app_id:
            return e["batch_id"]
    return None


def make_batch_sink(
    root: str,
    key_cols: list[str],
    mode: str = "append",
    app_id: str | None = None,
):
    """A foreachBatch function writing each micro-batch as one
    idempotent lakehouse commit. Usable directly::

        q = (stream.writeStream
             .foreachBatch(make_batch_sink(root, ["k"], "merge"))
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
    """
    if mode not in ("append", "merge", "cdc"):
        raise ValueError(f"mode must be append|merge|cdc, got {mode!r}")

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        stamp = {"batch_id": batch_id}
        if app_id is not None:
            stamp["app_id"] = app_id
        txn = os.path.join(root, "_txn")
        fresh = not os.path.isdir(txn) or not any(
            f.endswith(".json") for f in os.listdir(txn)
        )
        if fresh:
            # bootstrap must apply the SAME per-mode key discipline
            # later batches get, or batch 0 poisons the table: merge
            # requires one row per key, cdc validates _op up front
            # (apply_changes would raise on NULL/typo ops — silently
            # filtering them here would instead DROP the rows)
            first = batch_df
            if mode == "merge":
                first = batch_df.dropDuplicates(key_cols)
            elif mode == "cdc":
                # apply_changes' own pre-flight over the WHOLE batch
                # (before the delete filter): a key appearing twice is
                # ambiguous regardless of ops — an upsert+delete of one
                # key in batch 0 must raise as it would in batch 1, not
                # resolve as upsert-wins
                _preflight(batch_df, key_cols, op_col="_op")
                first = batch_df.filter("_op != 'delete'").drop("_op")
            LakeTable.create(
                spark, root, first, key_cols=key_cols, extra=stamp
            )
            return
        t = LakeTable(spark, root)
        last = last_committed_batch_id(t, app_id)
        if last is not None and batch_id <= last:
            return  # replayed batch: already fully committed
        if mode == "append":
            t.append(batch_df, extra=stamp)
        elif mode == "merge":
            t.merge(batch_df, dedupe_source=True, extra=stamp)
        else:
            t.apply_changes(batch_df, extra=stamp)

    return sink


def stream_to_lake(
    stream_df: DataFrame,
    root: str,
    key_cols: list[str],
    checkpoint: str,
    mode: str = "append",
    app_id: str | None = None,
):
    """Run a stream into a lakehouse table with availableNow
    semantics; returns the StreamingQuery (await it, then read
    `LakeTable(spark, root).snapshot()`). Give each distinct stream
    writing the same table its own `app_id` (see
    last_committed_batch_id)."""
    return (
        stream_df.writeStream.foreachBatch(
            make_batch_sink(root, key_cols, mode, app_id=app_id)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


# worker-shipped closures (foreachBatch pickles the sink)
import sys  # noqa: E402

import pyspark  # noqa: E402

pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])
