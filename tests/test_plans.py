"""End-to-end plan tests on synthetic ARD-shaped data with KNOWN
breaks — the behavioral proof for the changedetection and
classification pipelines (reference test strategy: SURVEY §5,
adapted from live-Cassandra round-trips to tmp parquet)."""

from __future__ import annotations

import math
import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.operators.segmentation import ccd_segments
from lcmap_firebird_spark.operators.timeseries import assemble, explode_series
from lcmap_firebird_spark.plans import changedetection as CD
from lcmap_firebird_spark.plans import classification as CL


@pytest.fixture(scope="module")
def observations(spark):
    """2 chips × 2 pixels × 60 obs; pixel (0,0,1,1) has a level break
    at t=400 (value jumps 100 → 500); others are flat+noise."""
    rng = np.random.default_rng(42)
    rows = []
    for cx, cy in [(0, 0), (3000, 0)]:
        for px, py in [(1, 1), (2, 2)]:
            breaky = (cx, cy, px, py) == (0, 0, 1, 1)
            for i in range(60):
                t = 100 + i * 10
                base = 500.0 if (breaky and t >= 400) else 100.0
                rows.append(
                    (cx, cy, px, py, t, base + float(rng.normal(0, 1.0)))
                )
    return spark.createDataFrame(rows, ["cx", "cy", "px", "py", "t", "value"])


def test_changedetection_finds_known_break(observations):
    tables = CD.changedetection(observations)
    seg = tables["segment"].collect()
    by_pixel = {}
    for r in seg:
        by_pixel.setdefault((r.cx, r.cy, r.px, r.py), []).append(r)
    # the breaky pixel has >=2 segments with a break day near 400
    breaky = by_pixel[(0, 0, 1, 1)]
    assert len(breaky) >= 2
    bdays = [r.bday for r in breaky if r.bday is not None]
    assert any(390 <= b <= 410 for b in bdays)
    # flat pixels yield exactly the sentinel-style single open segment
    assert len(by_pixel[(3000, 0, 2, 2)]) == 1
    assert by_pixel[(3000, 0, 2, 2)][0].chprob == 0.0
    # every pixel emits >=1 row (pyccd.default sentinel semantics)
    assert set(by_pixel) == {(0, 0, 1, 1), (0, 0, 2, 2), (3000, 0, 1, 1), (3000, 0, 2, 2)}


def test_changedetection_selective_read(observations, spark):
    ids = spark.createDataFrame([(0, 0)], ["cx", "cy"])
    seg = CD.detect(observations, ids)
    assert {(r.cx, r.cy) for r in seg.select("cx", "cy").distinct().collect()} == {(0, 0)}


def test_changedetection_sinks_roundtrip(observations, spark, tmp_path):
    out = str(tmp_path / "cd")
    CD.changedetection(observations, output_base=out)
    seg = spark.read.parquet(f"{out}/segment")
    assert seg.count() >= 4
    # partition layout preserves chip locality (cx/cy directories)
    chips = {(r.cx, r.cy) for r in seg.select("cx", "cy").distinct().collect()}
    assert chips == {(0, 0), (3000, 0)}


def _fold(xs) -> float:
    acc = 0.0
    for x in xs:
        acc += float(x)
    return acc


def _loop_fit(ts, vs):
    """Scalar-loop reference for segmentation._fit: every term computed
    element by element, every sum a left fold from 0.0."""
    n = len(ts)
    tm, vm = _fold(ts) / n, _fold(vs) / n
    denom = _fold((t - tm) * (t - tm) for t in ts)
    slope = _fold((t - tm) * (v - vm) for t, v in zip(ts, vs)) / denom
    inter = vm - slope * tm
    resid = [v - (slope * t + inter) for t, v in zip(ts, vs)]
    return slope, inter, math.sqrt(_fold(r * r for r in resid) / max(n - 2, 1))


def test_long_path_fit_is_bit_identical_to_loop_folds():
    """The vectorized long-path fit folds left in time order exactly
    like a scalar loop (and DuckDB's list_reduce), so its doubles are
    bit-identical — magnitudes mixed so pairwise summation would
    round differently — and an all-(−0.0) fold still gives +0.0."""
    from lcmap_firebird_spark.operators.segmentation import _fit, _ssum

    rng = np.random.default_rng(5)
    for n in (2, 3, 17, 64, 129):
        ts = np.sort(rng.integers(730_000, 735_000, n)).astype("float64")
        vs = rng.normal(0, 1, n) * 10.0 ** rng.integers(-6, 7, n)
        assert repr(_fit(ts, vs)) == repr(_loop_fit(ts, vs)), n
        assert repr(_ssum(vs)) == repr(_fold(vs)), n
    assert repr(_ssum(np.array([-0.0, -0.0]))) == "0.0"


def test_assemble_explode_roundtrip(observations):
    wide = assemble(observations, ["cx", "cy", "px", "py"], "t", ["value"])
    row = wide.filter((F.col("cx") == 0) & (F.col("px") == 1)).first()
    assert row.ts == sorted(row.ts)  # ordering contract explicit
    assert len(row.ts) == len(row.values) == 60
    back = explode_series(
        wide, ["cx", "cy", "px", "py"], ["ts", "values"], ["t", "value"]
    )
    # default out_names strip exactly ONE trailing 's' (the suffix
    # assemble appends) — a source column already ending in 's' must
    # round-trip to its own name, not lose every trailing 's'
    wide2 = assemble(observations.withColumnRenamed("t", "t_us"),
                     ["cx", "cy", "px", "py"], "t_us", ["value"])
    back2 = explode_series(wide2, ["cx", "cy", "px", "py"],
                           ["t_uss", "values"])
    assert {"t_us", "value"} <= set(back2.columns)
    assert back.count() == observations.count()
    # exact value preservation through the round trip
    orig = {(r.cx, r.cy, r.px, r.py, r.t): r.value for r in observations.collect()}
    for r in back.collect():
        assert orig[(r.cx, r.cy, r.px, r.py, r.t)] == r.value


@pytest.fixture(scope="module")
def aux(spark):
    """aux layers: trends[0] is the label; two pixels excluded (0/9)."""
    rows = [
        (0, 0, 1, 1, [100], [250.0], [4], [1], [0.5], [3.0], [0]),
        (0, 0, 2, 2, [100], [260.0], [5], [2], [0.4], [2.0], [1]),
        (3000, 0, 1, 1, [100], [270.0], [0], [3], [0.3], [1.0], [0]),  # excluded
        (3000, 0, 2, 2, [100], [280.0], [9], [4], [0.2], [0.5], [1]),  # excluded
    ]
    return spark.createDataFrame(
        rows, ["cx", "cy", "px", "py", "dates", "dem", "trends", "aspect", "posidex", "slope", "mpw"]
    )


def test_classification_train_and_classify(observations, aux):
    segments = CD.detect(observations)
    model = CL.train(
        aux, segments, msday=0, meday=10_000, num_trees=5, seed=42,
        feature_cols=["dem", "aspect", "slope", "intercept", "rmse", "coef"],
    )
    assert model is not None
    fdf = CL.features(
        aux.filter(~F.element_at("trends", 1).isin(0, 9)),
        segments,
        ["dem", "aspect", "slope", "intercept", "rmse", "coef"],
    )
    preds = CL.classify(model, fdf)
    rows = preds.collect()
    assert rows and all(r.rfrawp is not None for r in rows)
    # J3 re-attach: 6-key join lands predictions back on segments
    attached = CL.attach_predictions(segments, preds)
    assert attached.count() == len(rows)


def test_classification_replay_leg_matches_mllib(observations, aux, spark):
    """r8 VERDICT #3: the classification plan serves EITHER leg —
    MLlib transform or the zero-UDF Catalyst replay of the exported
    artifact — and they agree: same rows, same argmax, rfrawp equal
    to rawPrediction within the 1e-6/tree leaf quantization. The tiny
    training set makes VectorIndexer declare every feature
    categorical (<= 8 distinct values), so this exercises the
    CategoricalSplit + category-map replay path end to end."""
    import json

    segments = CD.detect(observations)
    model = CL.train(
        aux, segments, msday=0, meday=10_000, num_trees=5, seed=42,
        feature_cols=["dem", "aspect", "slope", "intercept", "rmse", "coef"],
    )
    fdf = CL.features(
        aux.filter(~F.element_at("trends", 1).isin(0, 9)),
        segments,
        ["dem", "aspect", "slope", "intercept", "rmse", "coef"],
    ).localCheckpoint(eager=True)

    art = CL.export_model(model)
    assert art.get("category_maps"), "tiny corpus should index categoricals"
    # the artifact is JSON-serializable (a serving job ships it as a file)
    art = json.loads(json.dumps(art))

    keys = ["cx", "cy", "px", "py", "sday", "eday"]
    mllib = {
        tuple(r[k] for k in keys): list(r["rfrawp"].toArray())
        for r in CL.classify(model, fdf).collect()
    }
    # transform's own predictions, mapped back through the labels
    si_labels = [int(x) for x in model.stages[0].labels]
    want_label = {
        tuple(r[k] for k in keys): si_labels[int(r["prediction"])]
        for r in model.transform(fdf).collect()
    }
    replay = CL.classify(art, fdf, method="replay")
    plan = replay._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "Exchange" not in plan, plan
    rows = replay.collect()
    assert set(tuple(r[k] for k in keys) for r in rows) == set(mllib)
    for r in rows:
        k = tuple(r[c] for c in keys)
        assert r["predicted_label"] == want_label[k]
        got, want = list(r["rfrawp"]), mllib[k]
        assert len(got) == len(want)
        assert all(abs(g - w) <= 5 * 1e-6 for g, w in zip(got, want)), (k, got, want)
    # the PipelineModel itself also serves the replay leg directly
    direct = CL.classify(model, fdf, method="replay").collect()
    assert sorted(map(repr, direct)) == sorted(map(repr, rows))


def test_classification_empty_guard(aux, observations):
    segments = CD.detect(observations)
    # window excludes all segments → guard returns None (A1 semantics)
    model = CL.train(aux, segments, msday=99_000, meday=99_001, num_trees=5)
    assert model is None


def test_forest_is_independent_of_segment_file_layout(spark, tmp_path):
    """MLlib seeds each tree's bagging per input partition. `train`
    hash-partitions and sorts its feature frame before the fit, so the
    same segment rows written as 1 file or as 8 export the same
    forest."""
    rng = np.random.default_rng(7)
    aux_rows, seg_rows = [], []
    for cx in (0, 3000):
        for px in range(8):
            for py in range(8):
                label = int(rng.integers(1, 4))
                aux_rows.append((
                    cx, 0, px, py, [100], [float(rng.normal(250, 20))],
                    [label], [int(rng.integers(0, 4))], [0.5],
                    [float(rng.normal(3, 1))], [0],
                ))
                for s in range(3):
                    seg_rows.append((
                        cx, 0, px, py, 100 + 300 * s, 390 + 300 * s,
                        float(rng.normal(label * 100, 30)),
                        float(rng.gamma(2.0)), [float(rng.normal(0, 1))],
                    ))
    aux = spark.createDataFrame(
        aux_rows,
        ["cx", "cy", "px", "py", "dates", "dem", "trends", "aspect",
         "posidex", "slope", "mpw"],
    )
    segments = spark.createDataFrame(
        seg_rows,
        "cx long, cy long, px long, py long, sday long, eday long, "
        "intercept double, rmse double, coef array<double>",
    )
    arts = []
    for n in (1, 8):
        path = str(tmp_path / f"segments{n}")
        segments.repartition(n).write.parquet(path)
        assert sum(f.endswith(".parquet") for f in os.listdir(path)) == n
        model = CL.train(
            aux, spark.read.parquet(path), msday=0, meday=10_000,
            num_trees=5, seed=42,
        )
        arts.append(CL.export_model(model))
    assert arts[0] == arts[1]
