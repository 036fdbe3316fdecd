"""Plan-level contracts — the properties that make queries scale are
asserted on the EXPLAIN output, not just implied by the API used:

- filters reach the parquet scan (PushedFilters),
- projections prune the read schema (ReadSchema),
- known-small join sides broadcast (BroadcastHashJoin),
- aggregations combine map-side before the shuffle (partial_),
- relational/text hot paths contain NO Python evaluation nodes,
- candidate-based dedup never degenerates to a cartesian product.

These are the `.explain("formatted")`-and-iterate checks from the
build rules, frozen as regressions.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def q(spark, sf_dir):
    from lcmap_firebird_spark.queries import merged

    queries, _ = merged()

    def run(name):
        return queries[name](spark, sf_dir)

    return run


def test_filter_pushdown_reaches_scan(q):
    plan = plan_of(q("p6_p7_filter_predicates"))
    assert "PushedFilters: [" in plan
    # the range conjunction must actually be in the pushed list, not
    # just an empty marker
    pushed = [
        line for line in plan.splitlines() if "PushedFilters" in line
    ]
    assert any(
        "GreaterThan" in line or "LessThan" in line or "IsNotNull" in line
        for line in pushed
    ), pushed


def test_projection_prunes_read_schema(q):
    plan = plan_of(q("p1_conform_project"))
    [schema_line] = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][:1]
    # lineitem has 16 columns; the conform projection needs few — the
    # scan must not read the full struct
    assert schema_line.count(":") < 10, schema_line


def test_selective_read_broadcasts_id_side(q):
    plan = plan_of(q("j1_selective_read"))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_revenue_join_broadcasts_dimension(q):
    # nation (25 rows) must broadcast, never shuffle the fact table
    # against it with a sort-merge join
    plan = plan_of(q("j2_revenue_by_nation"))
    assert "BroadcastHashJoin" in plan


def test_aggregation_is_partial_before_shuffle(q):
    plan = plan_of(q("a4_pricing_summary"))
    assert "partial_" in plan, "no map-side combine in the agg plan"


def test_text_pipeline_has_no_python_nodes(q):
    for name in ("t1_token_stats", "t3_quality_fingerprint", "t2_lang_id_nb"):
        plan = plan_of(q(name))
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
            assert node not in plan, f"{name} fell off codegen: {node}"


def test_dedup_ladder_never_cartesian(q):
    for name in ("d3_minhash_lsh", "d5_simhash_pairs", "d6_semdedup"):
        plan = plan_of(q(name))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_knn_bruteforce_broadcasts_queries_not_corpus(q):
    plan = plan_of(q("s1_knn_bruteforce"))
    # the deliberate nested loop must be broadcast-side=queries; the
    # corpus scan itself must not sit under an Exchange before the join
    assert "BroadcastNestedLoopJoin" in plan


def test_whole_stage_codegen_covers_scan_pipelines(q):
    # non-HOF pipelines must run inside codegen stages ("*(n)" nodes).
    # Higher-order array lambdas (t1's aggregate/transform) are
    # interpreted by design — Spark excludes them from codegen — and
    # a4's percentile forces ObjectHashAggregate, so the contract is
    # asserted on scalar-expression queries.
    for name in ("p1_conform_project", "f5_string_functions"):
        plan = plan_of(q(name), mode="simple")
        assert "*(" in plan, f"{name} has no codegen stage:\n{plan[:800]}"


def test_t3_gram_column_not_reinlined(q):
    """The staged `_g2` gram array must survive CollapseProject as its
    own projection: if Catalyst re-inlines it into every consumer, the
    gram build (and its tokenizer) re-evaluates once per signal per
    row (the 433s-at-sf0.1 regression this stage exists to prevent —
    PLANS.md rule 14)."""
    plan = plan_of(q("t3_quality_fingerprint"))
    assert "AS _g2" in plan, plan


def test_quality_gate_binds_expensive_arrays_once(spark, sf_dir):
    """The corpus quality gate must evaluate the tokenizer and the
    gram build exactly once per row: exists-bound lambda variables
    (text.bind_once) instead of staged columns, because
    PushDownPredicates re-inlines projection aliases into filter
    conditions once per reference (PLANS.md rule 14)."""
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.plans.corpus import quality_gate

    df = quality_gate(read_table(spark, "documents", sf_dir))
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("split(text") == 1, plan
    assert plan.count("zip_with") == 1, plan


def test_spread_is_noop_for_parallel_inputs(spark, sf_dir):
    """spread() must not shuffle an input that is already at session
    parallelism — at scale it would move the raw corpus for nothing."""
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.dedup import spread

    docs = read_table(spark, "documents", sf_dir)
    n = spark.sparkContext.defaultParallelism
    wide = docs.repartition(n + 2)
    assert spread(wide, "doc_id") is wide  # pass-through, no new plan node
    # under-parallel input still gets the fix-up repartition
    narrow = docs.coalesce(1)
    plan = spread(narrow, "doc_id")._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" in plan


def test_spread_never_probes_shuffle_bearing_plans(spark, sf_dir):
    """Round-3 advice: df.rdd.getNumPartitions() under AQE
    materializes every upstream query stage of a shuffle-bearing
    plan, so spread() must pass such inputs through WITHOUT probing
    (their parallelism is governed by the shuffle partition count
    anyway). Identity return proves no probe happened."""
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.dedup import _is_narrow_scan, spread

    docs = read_table(spark, "documents", sf_dir)
    agg = docs.groupBy("lang").agg(F.count("*").alias("n"))
    joined = docs.join(docs.select("doc_id"), "doc_id")
    for df in (agg, joined, docs.repartition(2)):
        assert not _is_narrow_scan(df)
        assert spread(df, "lang") is df
    # narrow shapes stay probe-able
    for df in (docs, docs.coalesce(1), docs.select("doc_id"),
               docs.filter(F.col("n_chars") > 0)):
        assert _is_narrow_scan(df)


def test_contamination_broadcasts_benchmark_side(spark, sf_dir):
    """The benchmark side must broadcast; the corpus side's only
    exchange is the aggregation on (doc_id, bench_id) — never a
    shuffle of raw text before the join."""
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.pipeline import contamination

    docs = read_table(spark, "documents", sf_dir).repartition(8)
    bench = docs.limit(20).select("doc_id", "text")
    plan = (
        contamination(docs, bench, n=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


# --- registry-wide anti-pattern sweep (round 4) -----------------------------

# Queries whose plans legitimately contain Python evaluation nodes:
# Arrow-batched pandas kernels (CCD, media decode, external fetch)
# and the MLlib pipeline. Everything else must stay JVM-side.
_PYTHON_OK = {
    "u5_ccd_segments",
    "m1_media_pipeline",
    "s4_external_fetch",
}

# Non-equi joins that broadcast a provably tiny side compile to
# BroadcastNestedLoopJoin — legitimate ONLY where the small side is
# bounded by construction (as-of grid, range-join dimension, IVF
# probe cells, quantized similarity thresholds).
_BNLJ_OK = {
    "s1_knn_bruteforce",  # broadcast query set x corpus scan: the
    # nested loop IS the design (queries are bounded-small)
}


@pytest.fixture(scope="module")
def registry_plans(spark, sf_dir):
    """All non-streaming registry plans, built ONCE per module — each
    build runs the operators' checkpoint jobs, so the three sweep
    tests sharing one build cut ~2/3 of this file's wall time (r13,
    the driver-verify-window work)."""
    from lcmap_firebird_spark.queries import merged

    queries, _ = merged()
    plans = {}
    for name, fn in sorted(queries.items()):
        if name.startswith("st"):
            # streaming entries execute a stream and return a memory
            # sink scan — their stateful plans are asserted in
            # tests/test_streaming.py, not here
            continue
        plans[name] = plan_of(fn(spark, sf_dir))
    return plans


def test_registry_no_cartesian_products(registry_plans):
    bad = [
        name
        for name, plan in registry_plans.items()
        if "CartesianProduct" in plan
    ]
    assert not bad, f"cartesian product in: {bad}"


def test_registry_python_nodes_only_where_declared(registry_plans):
    bad = [
        name
        for name, plan in registry_plans.items()
        if name not in _PYTHON_OK
        and ("EvalPython" in plan or "InPandas" in plan.replace("MapInPandas", "X")
             or "ArrowEval" in plan or "MapInPandas" in plan)
    ]
    assert not bad, f"undeclared Python evaluation in: {bad}"


def test_registry_nested_loop_joins_only_where_bounded(registry_plans):
    bad = [
        name
        for name, plan in registry_plans.items()
        if name not in _BNLJ_OK and "BroadcastNestedLoopJoin" in plan
    ]
    assert not bad, f"unbounded nested-loop join in: {bad}"
