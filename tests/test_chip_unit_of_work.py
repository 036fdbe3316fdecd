"""The chip is the unit of work on the CCD product path (PLANS.md
rule 36).

Both detectors hash their input by chip (cx, cy), so each chip's
segments sit in one task and `catalog.write_partitioned` writes one
file per chip per table. This file pins:

- building `pyccd.detect` and `changedetection.detect` over a
  broadcast-joined input starts no Spark job (no `.rdd` probe while
  the plan is built);
- on a 2-chip fixture, every chip, pixel and segment sink of both
  paths holds exactly one data file per chip directory, with the
  rows the in-memory tables hold; the pixel sink does so also when
  AQE keeps every reducer partition, because its one shuffle hashes
  by chip;
- `classification.train`'s features join keeps dynamic partition
  pruning on the cx/cy-partitioned segment table without a separate
  chip restriction;
- `vectors.densify` records the vector size, so `VectorIndexer.fit`
  runs no `head` probe job;
- a source-scan lint over the package's remaining `.rdd` conversions.
"""

from __future__ import annotations

import ast
import os
import pathlib
import time
import uuid

import numpy as np
import pytest

import lcmap_firebird_spark
from lcmap_firebird_spark import schemas
from lcmap_firebird_spark.catalog import write_partitioned
from lcmap_firebird_spark.operators import pyccd
from lcmap_firebird_spark.operators.relational import selective_read
from lcmap_firebird_spark.plans import changedetection as CD
from lcmap_firebird_spark.plans import classification as CL

PKG = pathlib.Path(lcmap_firebird_spark.__file__).parent
CHIPS = [(0, 0), (3000, 0)]
PIXELS = [(px, py) for px in (1, 2) for py in (1, 2)]


@pytest.fixture(scope="module")
def tile(spark, tmp_path_factory):
    """2 chips × 4 pixels as one-file parquet tables (a compact
    source: one input split), long and dense-wide; pixel (·,·,1,1) of
    each chip has a level break at day 400 in every band."""
    base = tmp_path_factory.mktemp("tile")
    rng = np.random.default_rng(16)
    n = 48
    days = [100 + 10 * i for i in range(n)]
    long_rows, ard_rows = [], []
    for cx, cy in CHIPS:
        for px, py in PIXELS:
            breaky = (px, py) == (1, 1)
            lvl = np.where(breaky & (np.array(days) >= 400), 3000.0, 1000.0)
            for t, v in zip(days, lvl + rng.normal(0, 5.0, n)):
                long_rows.append((cx, cy, px, py, t, float(v)))
            bands = {
                c: [int(v) for v in (lvl + rng.normal(0, 5.0, n))[::-1]]
                for c in pyccd.BAND_MAP
            }
            rec = {"cx": cx, "cy": cy, "px": px, "py": py,
                   "dates": days[::-1], "qas": [66] * n, **bands}
            ard_rows.append(
                tuple(rec[f.name] for f in schemas.ard_schema().fields)
            )
    obs = spark.createDataFrame(
        long_rows, ["cx", "cy", "px", "py", "t", "value"]
    )
    ard = spark.createDataFrame(ard_rows, schemas.ard_schema())
    paths = {}
    for name, df in (("obs", obs), ("ard", ard)):
        paths[name] = str(base / name)
        df.coalesce(1).write.parquet(paths[name])
    return {
        "obs": spark.read.parquet(paths["obs"]),
        "ard": spark.read.parquet(paths["ard"]),
        "ids": spark.createDataFrame(CHIPS, ["cx", "cy"]),
    }


def _jobs_in_group(sc, group: str) -> list[int]:
    """Job ids of `group` once the status store has seen every job
    started so far: the listener bus is FIFO, so a marker job's
    arrival means every earlier job start has been recorded."""
    marker = f"marker-{uuid.uuid4().hex}"
    sc.setJobGroup(marker, "status-store marker")
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    st = sc.statusTracker()
    deadline = time.monotonic() + 30
    while not st.getJobIdsForGroup(marker) and time.monotonic() < deadline:
        time.sleep(0.05)
    return sorted(st.getJobIdsForGroup(group))


def test_building_either_detector_starts_no_job(spark, tile):
    """AQE runs a broadcast stage as soon as the plan is turned into
    an RDD, so an `.rdd` probe on the detect input would add one job
    to every pass before any action runs."""
    sc = spark.sparkContext
    group = f"build-{uuid.uuid4().hex}"
    before = _jobs_in_group(sc, group)
    sc.setJobGroup(group, "build the detect plans")
    try:
        built = [
            pyccd.detect(
                selective_read(tile["ard"], tile["ids"], ["cx", "cy"])
            ),
            CD.detect(tile["obs"], tile["ids"]),
        ]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _jobs_in_group(sc, group) == before == []
    # one shuffle in each plan, and it is the hash by chip
    for df in built:
        plan = df._jdf.queryExecution().executedPlan().toString()
        shuffles = [
            ln.strip() for ln in plan.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln
        ]
        assert len(shuffles) == 1, plan
        assert "hashpartitioning(cx#" in shuffles[0], shuffles


def _data_files(path: str) -> list[str]:
    return [n for n in os.listdir(path) if not n.startswith((".", "_"))]


def _rows(df) -> list[str]:
    cols = sorted(df.columns)
    return sorted(repr(tuple(r[c] for c in cols)) for r in df.collect())


def _shuffles_above_cache(df) -> list[str]:
    """Shuffle exchanges between the sink and its persisted input
    (the cached plan prints below the InMemoryRelation line)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    top = plan.split("InMemoryRelation")[0]
    return [
        ln.strip() for ln in top.splitlines()
        if "Exchange" in ln and "BroadcastExchange" not in ln
    ]


@pytest.mark.parametrize("path", ["long", "ard"])
def test_sinks_write_one_file_per_chip(spark, tile, tmp_path, path):
    if path == "long":
        seg = CD.detect(tile["obs"], tile["ids"])
        fns = (CD.chip_table, CD.pixel_table, CD.segment_table)
    else:
        seg = pyccd.detect(
            selective_read(tile["ard"], tile["ids"], ["cx", "cy"])
        )
        fns = (pyccd.chip_table, pyccd.pixel_table, pyccd.segment_table)
    seg = seg.persist()
    try:
        for name, fn in zip(("chip", "pixel", "segment"), fns):
            out = str(tmp_path / name)
            write_partitioned(fn(seg), out, mode="overwrite")
            dirs = sorted(d for d in os.listdir(out) if d.startswith("cx="))
            assert dirs == ["cx=0", "cx=3000"], (name, dirs)
            for d in dirs:
                leaf = os.path.join(out, d, "cy=0")
                assert len(_data_files(leaf)) == 1, (name, d, _data_files(leaf))
            back = spark.read.parquet(out).select(*fn(seg).columns)
            assert _rows(back) == _rows(fn(seg)), name
        pix = {(r.cx, r.cy, r.px, r.py) for r in seg.collect()}
        assert pix == {(*c, *p) for c in CHIPS for p in PIXELS}
        # a chip's pixels stay in one file when AQE keeps every
        # reducer partition, because the pixel aggregate's one shuffle
        # hashes by chip
        pixel_table = fns[1]
        conf = "spark.sql.adaptive.coalescePartitions.enabled"
        prev = spark.conf.get(conf)
        spark.conf.set(conf, "false")
        try:
            out = str(tmp_path / "pixel_uncoalesced")
            write_partitioned(pixel_table(seg), out, mode="overwrite")
        finally:
            spark.conf.set(conf, prev)
        for d in ("cx=0", "cx=3000"):
            leaf = os.path.join(out, d, "cy=0")
            assert len(_data_files(leaf)) == 1, (d, _data_files(leaf))
        shuffles = _shuffles_above_cache(pixel_table(seg))
        assert len(shuffles) == 1, shuffles
        assert "hashpartitioning(cx#" in shuffles[0], shuffles
        assert "px#" not in shuffles[0], shuffles
    finally:
        seg.unpersist()


def test_train_join_prunes_segment_partitions(spark, tmp_path, monkeypatch):
    """`train` restricts segments to the labelled chips through the
    features join alone; on a cx/cy-partitioned segment table that
    join still carries dynamic partition pruning."""
    rng = np.random.default_rng(3)
    aux_rows, seg_rows = [], []
    for cx in (0, 3000, 6000):
        for px in range(3):
            label = 9 if cx == 6000 else int(rng.integers(1, 4))
            aux_rows.append((cx, 0, px, 0, [100], [250.0 + px], [label],
                             [px], [0.5], [1.0 + px], [0]))
            seg_rows.append((cx, 0, px, 0, 100, 390,
                             float(rng.normal(label * 100, 30)),
                             float(rng.gamma(2.0)), [float(rng.normal())]))
    aux = spark.createDataFrame(
        aux_rows,
        ["cx", "cy", "px", "py", "dates", "dem", "trends", "aspect",
         "posidex", "slope", "mpw"],
    )
    path = str(tmp_path / "segment")
    write_partitioned(
        spark.createDataFrame(
            seg_rows,
            "cx long, cy long, px long, py long, sday long, eday long, "
            "intercept double, rmse double, coef array<double>",
        ),
        path,
    )
    seen = []
    features = CL.features

    def spy(*args, **kwargs):
        seen.append(features(*args, **kwargs))
        return seen[-1]

    monkeypatch.setattr(CL, "features", spy)
    model = CL.train(aux, spark.read.parquet(path), 0, 10_000,
                     num_trees=3, seed=1)
    assert model is not None and len(seen) == 1
    plan = seen[0]._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, plan
    # the unlabelled chip (trends[0] == 9) never reaches the fit
    assert {r.cx for r in seen[0].select("cx").distinct().collect()} == {0, 3000}


def test_densify_records_size_and_indexer_skips_head_job(spark):
    from pyspark.ml.feature import VectorIndexer

    from lcmap_firebird_spark.operators.vectors import densify

    df = spark.createDataFrame(
        [(float(i % 3), float(i), [float(i % 2)]) for i in range(12)],
        ["a", "b", "c"],
    )
    dense = densify(df, ["a", "b", "c"]).localCheckpoint(eager=True)
    assert dense.schema["features"].metadata == {"ml_attr": {"num_attrs": 3}}
    sc = spark.sparkContext
    group = f"fit-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "VectorIndexer.fit")
    try:
        model = VectorIndexer(
            inputCol="features", outputCol="idx", maxCategories=4
        ).fit(dense)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert model.numFeatures == 3
    st = sc.statusTracker()
    names = [
        st.getStageInfo(s).name
        for j in _jobs_in_group(sc, group)
        for s in st.getJobInfo(j).stageIds
        if st.getStageInfo(s)
    ]
    assert names and not [n for n in names if n.startswith("head at")], names


# --- `.rdd` conversions -----------------------------------------------------

# (module, enclosing function) of every `.rdd` conversion the package
# keeps. Each one is gated so it never runs a stage while a plan is
# built: `dedup.spread` probes only a bare scan (`_is_narrow_scan`),
# and `external.fetch_explode` converts its small ids frame. The list
# may only shrink: remove an entry when its conversion goes.
RDD_ALLOWED = {
    ("operators/dedup.py", "spread"),
    ("sources/external.py", "fetch_explode"),
}


def _rdd_uses(source: str, module: str) -> set[tuple[str, str]]:
    """(module, innermost enclosing function) of each `.rdd` access."""
    found = set()

    def visit(node: ast.AST, owner: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.Attribute) and child.attr == "rdd":
                found.add((module, owner))
            visit(child, child.name if isinstance(child, ast.FunctionDef)
                  else owner)

    visit(ast.parse(source), "<module>")
    return found


def test_rdd_conversions_only_shrink():
    found = set()
    for p in sorted(PKG.rglob("*.py")):
        found |= _rdd_uses(p.read_text(), p.relative_to(PKG).as_posix())
    assert found == RDD_ALLOWED
    assert len(RDD_ALLOWED) <= 2


def test_rdd_lint_flags_a_new_conversion():
    src = (
        "def detect(df):\n"
        "    if df.rdd.getNumPartitions() < 4:\n"
        "        df = df.repartition(4)\n"
        "    return df\n"
    )
    assert _rdd_uses(src, "operators/x.py") == {("operators/x.py", "detect")}
