"""The flagship pipeline: ids → timeseries → segmentation → 3 sinks.

Mirrors ccdc/core.py:53-75 (`detect`): the reference runs
  ids.rdd → flatMap(merlin.create) → flatMap(pyccd.detect)
  → createDataFrame → persist → chip/pixel/segment writes ×3
as RDD legs invisible to Catalyst. Here the whole thing is ONE
DataFrame plan: selective read (J1) → per-pixel applyInPandas
segmentation (U3) → cached once → three schema-conforming projections
(P1) → partitioned parquet sinks (S7/S8).

Scale: the chip is the unit of work (PLANS.md rule 36). The one
shuffle before the sinks hash-partitions the observations by chip
(cx, cy), which also satisfies the pixel-key applyInPandas grouping,
so each chip's segments sit in one task and the partitioned write
makes one file per chip per table — the locality of the reference's
Cassandra partition key (resources/schema.cql:54,142).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import write_partitioned
from ..operators.relational import by_chip, selective_read
from ..operators.segmentation import _group_segments

PIXEL_KEYS = ("cx", "cy", "px", "py")


def detect(
    observations: DataFrame,
    ids: DataFrame | None = None,
    t_col: str = "t",
    value_col: str = "value",
    min_obs: int = 6,
    chi: float = 3.0,
) -> DataFrame:
    """Segment every requested pixel's time series (ccdc/core.py:53-66
    analog). `observations` is long/tall: (cx, cy, px, py, t, value).

    The input is hash-partitioned by chip (`by_chip`); the pixel
    groups then form inside their chip's task with no second shuffle.
    Building the plan starts no job.
    """
    obs = observations
    if ids is not None:
        obs = selective_read(obs, ids, ["cx", "cy"])  # J1 broadcast restrict
    return _group_segments(
        by_chip(obs), PIXEL_KEYS, t_col, value_col, min_obs, chi
    )


def chip_table(segments: DataFrame) -> DataFrame:
    """Chip-level projection (ccdc/chip.py:25-36 analog): per chip,
    the ordered distinct segment-start dates."""
    return segments.groupBy("cx", "cy").agg(
        F.sort_array(F.collect_set("sdate")).alias("dates")
    )


def pixel_table(segments: DataFrame) -> DataFrame:
    """Pixel-level projection (ccdc/pixel.py:24-35 analog). Hashed by
    chip, like `pyccd.pixel_table`, so a chip's pixels stay in one
    sink file."""
    return segments.repartition("cx", "cy").groupBy(*PIXEL_KEYS).agg(
        F.count("*").alias("n_segments"),
        F.max("chprob").alias("max_chprob"),
    )


def segment_table(segments: DataFrame) -> DataFrame:
    """Full segment projection (ccdc/segment.py:59-70 analog)."""
    return segments.select(
        *PIXEL_KEYS,
        "sday",
        "eday",
        "bday",
        "sdate",
        "edate",
        "chprob",
        "coef",
        "intercept",
        "rmse",
        "magnitude",
        "n_obs",
    )


def changedetection(
    observations: DataFrame,
    ids: DataFrame | None = None,
    output_base: str | None = None,
    **detect_kwargs,
) -> dict[str, DataFrame]:
    """Full pipeline with the reference's persist-reuse shape
    (ccdc/core.py:68-72: one cached ccd DF feeds 3 sinks)."""
    seg = detect(observations, ids, **detect_kwargs).persist()
    tables = {
        "chip": chip_table(seg),
        "pixel": pixel_table(seg),
        "segment": segment_table(seg),
    }
    if output_base:
        for name, df in tables.items():
            # overwrite: a re-run (operator retry, partial failure) must
            # be idempotent like the Cassandra upsert this mirrors —
            # the default parquet append would silently double rows
            write_partitioned(
                df, f"{output_base}/{name}", ("cx", "cy"),
                mode="overwrite",
            )
        seg.unpersist()
    return tables
