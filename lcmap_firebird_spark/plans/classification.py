"""Training/classification pipeline — ccdc/randomforest.py re-expressed.

Mirrors the reference's composition exactly (SURVEY §2.10 M1-M6):
  aux → filter trends[0] NOT IN (0,9)      (P6, randomforest.py:64)
      → segments day-window filter         (P7, randomforest.py:69)
      → features: 4-key join + label + densify + project
                                           (J2/P5/U1/P2, features.py:66-82)
      → empty guard                        (A1, randomforest.py:73-79)
      → StringIndexer / VectorIndexer / RandomForest pipeline
                                           (M1-M3, randomforest.py:25-39)
  classify: model.transform + rename rawPrediction→rfrawp
                                           (M5/P3, randomforest.py:90-103)
  predictions re-attach: 6-key join + drop (J3, segment.py:103-116)

Differences from the reference, on purpose:
- day-window filter compares ordinal ints, not ISO strings — the
  reference's string-vs-int comparison is a latent bug (SURVEY §7.5).
- RF is seeded for reproducible goldens (numTrees default stays 500,
  randomforest.py:38; tests pass a smaller forest).
- the reference's chip restriction (J4→J1: distinct aux chips, then
  a selective read of segments, randomforest.py:67-69) is not a
  separate step: the 4-key inner join to the filtered aux already
  keeps only those chips' segments, so the result is the same, and
  the join still prunes the cx/cy-partitioned segment table by
  dynamic partition pruning.
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.classification import RandomForestClassifier
from pyspark.ml.feature import StringIndexer, VectorIndexer
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.relational import filter_not_in
from ..operators.vectors import densify

PIXEL_KEYS = ["cx", "cy", "px", "py"]


def features(
    aux: DataFrame, ccd: DataFrame, feature_cols: list[str] | None = None
) -> DataFrame:
    """Feature assembly (ccdc/features.py:66-82): pixel-level attach
    (J2) + label = trends[0] (P5) + densify (U1) + final projection
    (P2)."""
    joined = aux.join(ccd, PIXEL_KEYS, "inner")
    labeled = joined.withColumn("label", F.element_at("trends", 1))
    cols = feature_cols or ["dem", "aspect", "slope", "intercept", "rmse", "coef"]
    dense = densify(labeled, cols, "features", compat=True)
    return dense.select(
        *PIXEL_KEYS, "sday", "eday", "label", "features"
    )


def pipeline(num_trees: int = 500, seed: int = 42) -> Pipeline:
    """3-stage ML pipeline (ccdc/randomforest.py:25-39)."""
    return Pipeline(
        stages=[
            StringIndexer(
                inputCol="label", outputCol="label_index", handleInvalid="keep"
            ),
            VectorIndexer(
                inputCol="features", outputCol="feature_index", maxCategories=8
            ),
            RandomForestClassifier(
                labelCol="label_index",
                featuresCol="feature_index",
                numTrees=num_trees,
                seed=seed,
            ),
        ]
    )


def train(
    aux: DataFrame,
    segments: DataFrame,
    msday: int,
    meday: int,
    num_trees: int = 500,
    seed: int = 42,
    feature_cols: list[str] | None = None,
) -> PipelineModel | None:
    """Training composition (ccdc/randomforest.py:42-87).

    MLlib seeds each tree's bagging per input partition, so the
    forest follows the training frame's partitioning. The feature
    frame is therefore hash-partitioned and sorted by pixel and start
    day, then checkpointed once: the forest no longer depends on how
    many files the segment table was written as, and the guard and
    every fit pass read the same materialized rows. (AQE still
    coalesces that shuffle by byte size, so on inputs large enough
    to span several partitions their boundaries can move.)"""
    aux2 = filter_not_in(aux, F.element_at("trends", 1), [0, 9])
    ccd = segments.filter((F.col("sday") >= msday) & (F.col("eday") <= meday))
    fdf = (
        features(aux2, ccd, feature_cols)
        .repartition(*PIXEL_KEYS)
        .sortWithinPartitions(*PIXEL_KEYS, "sday")
        .localCheckpoint(eager=True)
    )
    if fdf.isEmpty():  # guard (randomforest.py:73-79)
        return None
    return pipeline(num_trees, seed).fit(fdf)


def export_model(model: PipelineModel) -> dict:
    """Export the fitted pipeline to the JSON replay artifact — the
    reference's classify job loads a previously-trained model from
    storage (ccdc/randomforest.py:90-103); this artifact is that
    model, serveable with zero MLlib runtime (see classify
    method='replay')."""
    from ..operators.rf_replay import export_pipeline

    return export_pipeline(model)


def classify(
    model: PipelineModel | dict,
    fdf: DataFrame,
    method: str = "mllib",
) -> DataFrame:
    """Prediction + projection (ccdc/randomforest.py:90-103).

    method='mllib' (default): PipelineModel.transform — rfrawp is
    MLlib's rawPrediction VectorUDT (per-class sums of per-tree leaf
    fractions).

    method='replay' (r9, r8 VERDICT #3): zero-UDF Catalyst replay of
    the exported ensemble (operators/rf_replay.classify_soft — the
    certified predictRaw semantics, including VectorIndexer category
    maps). Accepts the PipelineModel (exported on the fly) or a
    pre-exported dict artifact, so a serving job needs no MLlib
    runtime at all. rfrawp comes back as array<double> (the
    dedensified form the reference itself converted to,
    randomforest.py:106-123), exact to the 1e-6/tree leaf
    quantization; `predicted_label` rides along (row-for-row equal to
    transform's prediction on the certification corpus —
    tests/test_rf_replay.py)."""
    if method == "mllib":
        return (
            model.transform(fdf)
            .select(*PIXEL_KEYS, "sday", "eday", "rawPrediction")
            .withColumnRenamed("rawPrediction", "rfrawp")
        )
    if method != "replay":
        raise ValueError(f"unknown classify method {method!r}")
    from pyspark.ml.functions import vector_to_array

    from ..operators.rf_replay import classify_soft

    art = model if isinstance(model, dict) else export_model(model)
    farr = "__rf_features__"
    staged = fdf.withColumn(farr, vector_to_array(F.col("features")))
    out = classify_soft(staged, art, emb=farr, raw_col="rfrawp")
    return out.select(
        *PIXEL_KEYS, "sday", "eday", "rfrawp", "predicted_label"
    )


def attach_predictions(segments: DataFrame, predictions: DataFrame) -> DataFrame:
    """Re-attach classifier output to segments: 6-key equi join then
    drop the duplicate column (J3/P4; ccdc/segment.py:103-116)."""
    return segments.drop("rfrawp").join(
        predictions, [*PIXEL_KEYS, "sday", "eday"], "inner"
    )
