"""Temporal segmentation operators — the reference's analytic core.

The reference delegates per-pixel change detection to lcmap-pyccd via
an RDD flatMap "UDTF" (U3: ccdc/pyccd.py:151-183 — 1 pixel in, N
40-field segment rows out, formatted by pyccd.format
ccdc/pyccd.py:106-148). SURVEY §2.5/§7.2-5: the Spark-native form is

    df.groupBy(pixel keys).applyInPandas(ccd_fit, segment_schema)

plus two fully-declarative segmentations (sessionize,
threshold_segments) that cover the window-function-expressible cases
without leaving the JVM.

Scale contract (SURVEY §7.5): group by *pixel*, never by chip — a
group is ≤ a few hundred observations, so Arrow batches stay small
and skew is impossible. The CCD kernel is CPU-bound Python; Arrow
batching amortizes transfer, and the stage scales with executors.
The groups are pixels, but the CCD plan *partitions* by chip
(`plans.changedetection.detect` calls `_group_segments` after a
hash on cx, cy), so each chip's segments land in one task and sink
as one file per chip (PLANS.md rule 36).
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from datetime import date, timedelta

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from ..worker import drop_zip_finders

# The applyInPandas kernels below must run on executors that may not
# have this repo on PYTHONPATH (the round driver launches Spark from
# its own cwd). Registering the module for pickle-by-value makes
# cloudpickle ship the kernel code inside the serialized task instead
# of importing it on the worker.
import sys as _sys

import pyspark.cloudpickle as _cloudpickle

_cloudpickle.register_pickle_by_value(_sys.modules[__name__])


def sessionize(
    df: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    gap_minutes: int = 30,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Gap-based session assignment: a new session starts when the
    gap to the previous event exceeds `gap_minutes`.

    Pure window algebra (lag → flag → running sum), one shuffle on
    the key; expressible identically in any SQL engine.
    """
    order = [ts_col, *order_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    # unix_micros rejects TIMESTAMP_NTZ (what the testdata parquet now
    # reads as); dispatch on the column's actual type. Numeric ts
    # columns (already-epoch µs) pass through unchanged.
    dt = dict(df.dtypes).get(ts_col, "")
    if dt == "timestamp":
        to_us = F.unix_micros
    elif dt == "timestamp_ntz":
        from ..functions.dates import micros as to_us
    else:
        to_us = lambda c: c  # noqa: E731 — numeric epoch column
    gap_us = to_us(F.col(ts_col)) - to_us(F.lag(ts_col).over(w))
    new_session = F.when(
        gap_us.isNull() | (gap_us > gap_minutes * 60_000_000), 1
    ).otherwise(0)
    return df.withColumn("_new", new_session).withColumn(
        "session_id", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).drop("_new")


def threshold_segments(
    df: DataFrame,
    keys: Sequence[str],
    order_col: str,
    value_col: str,
    threshold: float,
    order_cols: Sequence[str] = (),
) -> DataFrame:
    """Level-shift segmentation: break where |Δvalue| > threshold;
    emit one row per segment with start/end/size/exact mean.

    The declarative cousin of CCD break detection — lag + cumsum +
    groupBy, all JVM-side.
    """
    order = [order_col, *order_cols]
    w = Window.partitionBy(*keys).orderBy(*order)
    delta = F.abs(
        F.col(value_col).cast("double")
        - F.lag(F.col(value_col).cast("double")).over(w)
    )
    brk = F.when(delta.isNull() | (delta > threshold), 1).otherwise(0)
    seg = (
        df.withColumn("_brk", brk)
        .withColumn(
            "segment_id",
            F.sum("_brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .drop("_brk")
    )
    return seg.groupBy(*keys, "segment_id").agg(
        F.min(order_col).alias("seg_start"),
        F.max(order_col).alias("seg_end"),
        F.count("*").alias("n_obs"),
        (
            F.sum(F.col(value_col).cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
        ).alias("avg_value"),
    )


# --- CCD-shaped piecewise-linear segmentation (the U3 kernel) --------------

_EPOCH = date(1, 1, 1)


def _iso(ordinal: int) -> str:
    """Ordinal day → ISO string (reference: ccdc/pyccd.py:113-115
    `date.fromordinal(d).isoformat()`)."""
    return (_EPOCH + timedelta(days=int(ordinal) - 1)).isoformat()


def segment_schema(keys: Sequence[str], key_types: Sequence[str]) -> StructType:
    """pyccd-shaped output (subset of the 40-field schema,
    ccdc/pyccd.py:39-81): start/end/break days (ordinal + ISO),
    linear coefficients, intercept, rmse, magnitude, change
    probability, observation count."""
    fields = [
        StructField(k, _TYPE_MAP[t], False) for k, t in zip(keys, key_types)
    ]
    fields += [
        StructField("sday", LongType(), False),
        StructField("eday", LongType(), False),
        StructField("bday", LongType(), True),
        StructField("sdate", StringType(), False),
        StructField("edate", StringType(), False),
        StructField("chprob", DoubleType(), False),
        StructField("coef", ArrayType(DoubleType()), False),
        StructField("intercept", DoubleType(), False),
        StructField("rmse", DoubleType(), False),
        StructField("magnitude", DoubleType(), True),
        StructField("n_obs", IntegerType(), False),
    ]
    return StructType(fields)


_TYPE_MAP = {
    "int": IntegerType(),
    "bigint": LongType(),
    "string": StringType(),
}


def _ssum(xs) -> float:
    """Sequential left-fold sum in index order, from +0.0.

    numpy's `sum` is pairwise, so its grouping — and its last-ulp
    result — differs from any other engine's sequential fold.
    `np.add.accumulate` is a strict left fold (each partial sum feeds
    the next), so its last element is the identical IEEE-754 op
    sequence DuckDB's `list_reduce` performs over a time-ordered list.
    Every windowed sum in this kernel folds this way, which makes the
    whole CCD output BIT-IDENTICAL across engines and lets the u5
    oracle compare exact values with no quantization. The fold starts
    at +0.0 like a scalar `acc = 0.0` loop, so an all-(−0.0) input
    still sums to +0.0.
    """
    return float(np.add.accumulate(np.concatenate(([0.0], xs)))[-1])


def _fit(ts: np.ndarray, vs: np.ndarray) -> tuple[float, float, float]:
    """OLS slope/intercept/rmse via closed form (deterministic,
    engine-portable: element-wise terms are vectorized, every sum is
    a sequential time-order fold — see `_ssum`)."""
    n = len(ts)
    if n < 2:
        inter = float(vs[0]) if n else 0.0
        return 0.0, inter, 0.0
    tm, vm = _ssum(ts) / n, _ssum(vs) / n
    dt = ts - tm
    denom = _ssum(dt * dt)
    slope = _ssum(dt * (vs - vm)) / denom if denom > 0 else 0.0
    inter = vm - slope * tm
    # unbiased: 2 params estimated → n-2 dof (avoids the small-window
    # rmse underestimate that makes single outliers look like breaks)
    resid = vs - (slope * ts + inter)
    return slope, inter, math.sqrt(_ssum(resid * resid) / max(n - 2, 1))


def _detect(
    ts: np.ndarray,
    vs: np.ndarray,
    min_obs: int,
    chi: float,
    peek: int = 3,
) -> list[tuple[int, int, int | None, float, float, float, float, float, int]]:
    """Sequential break detection, pyccd-shaped: grow a window and
    declare a break only when `peek` CONSECUTIVE observations all sit
    chi×rmse off the fitted model (pyccd's forward-looking
    consecutive-observation test — a single outlier never breaks a
    segment). Emits (sday, eday, bday, chprob, slope, intercept,
    rmse, magnitude, n)."""
    segments = []
    start = 0
    i = min_obs
    n = len(ts)
    while i < n:
        w_t, w_v = ts[start:i], vs[start:i]
        slope, inter, rmse = _fit(w_t, w_v)
        if i - start >= min_obs and i + peek <= n:
            # per-element ops + sequential folds (engine-portable,
            # see _ssum): r_j = v_j − (slope·t_j + inter)
            window = [
                float(vs[j]) - (slope * float(ts[j]) + inter)
                for j in range(i, i + peek)
            ]
            broke = all(abs(r) > chi * max(rmse, 1e-6) for r in window)
        else:
            broke = False
        if broke:
            segments.append(
                (
                    int(ts[start]),
                    int(ts[i - 1]),
                    int(ts[i]),
                    1.0,
                    slope,
                    inter,
                    rmse,
                    _ssum(np.abs(window)) / len(window),
                    i - start,
                )
            )
            start = i
            i = start + min_obs
        else:
            i += 1
    w_t, w_v = ts[start:], vs[start:]
    slope, inter, rmse = _fit(w_t, w_v)
    segments.append(
        (int(ts[start]), int(ts[-1]), None, 0.0, slope, inter, rmse, None, n - start)
    )
    return segments


def ccd_segments(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
    min_obs: int = 6,
    chi: float = 3.0,
) -> DataFrame:
    """Per-key CCD-shaped change detection via applyInPandas.

    The Spark-native re-expression of the reference's U3 flatMap leg
    (ccdc/pyccd.py:171-183): each key group's ordered series is fit
    piecewise; every break emits a segment row; a final open segment
    always exists (sentinel semantics of pyccd.default,
    ccdc/pyccd.py:99-103 — no pixel yields zero rows).

    `t_col` must be integer-like (ordinal days / epoch units).

    The kernel calls `drop_zip_finders()` first, in every group: a
    worker's per-task harness otherwise re-reads pyspark.zip's
    directory about 16 times (PLANS.md rule 34).
    """
    # The kernel is CPU-bound but its input is tiny, so AQE would
    # coalesce the pre-apply shuffle down to one partition and run
    # every group serially. An explicit keyed repartition pins the
    # parallelism (it already satisfies the groupBy distribution, so
    # no second shuffle is added).
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    df = df.repartition(n_parts, *[F.col(k) for k in keys])
    return _group_segments(df, keys, t_col, value_col, min_obs, chi)


def _group_segments(
    df: DataFrame,
    keys: Sequence[str],
    t_col: str,
    value_col: str,
    min_obs: int,
    chi: float,
) -> DataFrame:
    """`ccd_segments`' grouping step without its repartition: the
    caller has already partitioned `df` on a subset of `keys` (the
    CCD plan partitions by chip, so each chip's segments land in one
    task) and that partitioning satisfies the groupBy distribution."""
    key_types = [dict(df.dtypes)[k] for k in keys]
    schema = segment_schema(keys, key_types)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        drop_zip_finders()
        pdf = pdf.sort_values(t_col, kind="mergesort")
        ts = pdf[t_col].to_numpy(dtype="float64")
        vs = pdf[value_col].to_numpy(dtype="float64")
        key_vals = {k: pdf[k].iloc[0] for k in keys}
        rows = []
        for sday, eday, bday, chprob, slope, inter, rmse, mag, n in _detect(
            ts, vs, min_obs, chi
        ):
            rows.append(
                {
                    **key_vals,
                    "sday": sday,
                    "eday": eday,
                    "bday": bday,
                    "sdate": _iso(sday) if 0 < sday < 3_650_000 else str(sday),
                    "edate": _iso(eday) if 0 < eday < 3_650_000 else str(eday),
                    "chprob": chprob,
                    "coef": [slope],
                    "intercept": inter,
                    "rmse": rmse,
                    "magnitude": mag,
                    "n_obs": n,
                }
            )
        return pd.DataFrame(rows)

    return df.groupBy(*keys).applyInPandas(kernel, schema)
