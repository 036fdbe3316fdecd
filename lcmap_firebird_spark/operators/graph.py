"""Link-graph analytics — PageRank on DataFrames.

Corpus pipelines use link-graph centrality as a quality signal
(Common-Crawl-scale curation ranks domains/pages by a PageRank-style
score before sampling); the reference has no graph surface at all.
This implements the public power-iteration formulation with the same
loop discipline as `dedup.dedup_clusters`:

- one round = one equi-join (ranks onto edges) + one groupBy (sum of
  rank/out-degree contributions per destination) — uniform keys, no
  cartesian anywhere;
- lazy `localCheckpoint` truncates lineage per round, and the
  convergence action (L1 delta) doubles as the materializing job —
  ONE job per round;
- dangling nodes (no out-links) redistribute their mass uniformly,
  via a 1-row aggregate folded into the teleport term (the standard
  correction, keeps Σrank = 1 exactly up to float error);
- the driver-side loop sees only scalar aggregates, never row data.

At 100 TB-scale graphs the per-round cost is the two shuffles on
vertex id; the loop pins its shuffle width to the vertex count
(~100k vertices/partition, clamped to the session parallelism)
exactly as dedup_clusters does — session-conf scoped, restored in a
finally (see dedup.py's measured rationale: explicit repartition()
bypasses AQE's runtime decisions and full-width shuffles of small
graphs pay more in task setup than the joins).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Per-iteration rank frames are 16 bytes/vertex; under this vertex
# count the loop broadcasts them (≤ ~32 MB) so the degree-annotated
# edge frame is never re-shuffled inside the loop. Above it, the
# shuffle join is the correct 100 TB shape (rank frame no longer
# driver/executor-memory-safe to ship).
BROADCAST_RANKS_MAX = 2_000_000


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 30,
    tol: float = 1e-6,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) with Σrank = 1, power iteration until the L1
    delta drops below `tol` or `max_iter` rounds. `edges` is a
    directed (src, dst) frame; duplicate edges count once."""
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    # edges annotated once with the source out-degree (invariant
    # across rounds — joined a single time, outside the loop)
    ed = e.join(deg, "src").localCheckpoint(eager=True)

    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(
        eager=False
    )
    base = (1.0 - damping) / n
    node_deg = deg.select(F.col("src").alias("node"), "out_deg")

    def _stats(new_r: DataFrame, old_r: DataFrame):
        """ONE action per round: materializes new_r's lazy checkpoint
        and returns (L1 delta vs old_r, dangling mass of new_r) —
        the dangling sum rides the same aggregate so the loop never
        runs a second job (the CC loop's combined-action rule)."""
        row = (
            new_r.join(
                old_r.select("node", F.col("rank").alias("_old")), "node"
            )
            .join(node_deg, "node", "left")
            .agg(
                F.sum(F.abs(F.col("rank") - F.col("_old"))),
                F.sum(
                    F.when(F.col("out_deg").isNull(), F.col("rank"))
                    .otherwise(0.0)
                ),
            )
            .first()
        )
        return row[0] or 0.0, row[1] or 0.0

    # loop shuffle width pinned to the vertex count (dedup_clusters'
    # discipline): ~100k vertices/partition, clamped to the session
    # parallelism; session-conf scoped and restored in finally
    spark = edges.sparkSession
    parts = max(
        1,
        min(spark.sparkContext.defaultParallelism, n // 100_000 + 1),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        # seed action: materialize ranks₀ and read its dangling mass
        _, dangling = _stats(ranks, ranks)
        for _ in range(max_iter):
            r_side = ranks.select(F.col("node").alias("src"), "rank")
            if n <= BROADCAST_RANKS_MAX:
                # tiny-graph fast path (PLANS broadcast rule): ship
                # the 16-byte/vertex rank frame to the mappers so the
                # (much larger) degree-annotated edge frame is never
                # re-shuffled — one edge shuffle per ITERATION becomes
                # zero; only the post-join groupBy reduces. The 100 TB
                # path (n beyond the gate) keeps the shuffle join.
                r_side = F.broadcast(r_side)
            contribs = (
                ed.join(
                    r_side,
                    "src",
                )
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("_in"))
            )
            spread_term = base + damping * dangling / n
            new_ranks = (
                nodes.join(
                    contribs.withColumnRenamed("dst", "node"),
                    "node",
                    "left",
                )
                .select(
                    "node",
                    (
                        F.lit(spread_term)
                        + F.lit(damping) * F.coalesce("_in", F.lit(0.0))
                    ).alias("rank"),
                )
                .localCheckpoint(eager=False)
            )
            delta, dangling = _stats(new_ranks, ranks)
            ranks = new_ranks
            if delta < tol:
                break
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return ranks


def pagerank_quantized(
    edges: DataFrame,
    n_iter: int = 6,
    scale: int = 10**12,
    damping_pct: int = 85,
    src_col: str = "src",
    dst_col: str = "dst",
    pre_distinct: bool = False,
    nodes: DataFrame | None = None,
    validate: bool | None = None,
) -> DataFrame:
    """(node, pr_q) — PageRank in EXACT INTEGER arithmetic: ranks are
    int64 mass units out of `scale`, each round computes

        next(v) = ((100-d)·scale) div (100·n)
                  + (d · Σ_{u→v} (r(u) div deg(u))) div 100

    with integer `div` throughout, so every intermediate is an
    order-independent BIGINT and a fixed-iteration DuckDB twin
    (unrolled CTEs, `//` division) reproduces it bit-for-bit — the
    same engine-portability posture as dsir/nll quantization, applied
    to the ITERATIVE operator family. Semantics: fixed `n_iter`
    rounds (no convergence test — the iteration count IS part of the
    query), dangling mass is NOT redistributed (pass a symmetrized
    edge set — near-dup graphs are undirected — and there are no
    dangling nodes at all; total mass then drifts only by the
    per-node floor losses, < n per round). The float `pagerank` above
    remains the production scorer; this variant exists to certify the
    loop machinery against a SQL oracle.

    Per round: one equi-join (ranks onto degree-annotated edges) +
    one groupBy — the CC loop's shape; lineage truncated per round
    with lazy localCheckpoint.

    Frame-sharing knobs (the d7 floor shave — a caller that already
    materialized the pair graph shouldn't pay to re-derive it):
    `pre_distinct=True` declares the edge frame duplicate-free AND
    cheap to rescan (derived from a checkpointed frame), skipping the
    distinct + checkpoint; `nodes` supplies a MATERIALIZED distinct
    (node) frame covering exactly the edge endpoints, skipping the
    union-distinct derivation. Results are row-identical either way
    (asserted in test_graph).

    The knobs are a CONTRACT, not a hint — a non-distinct edge frame
    under `pre_distinct=True` double-counts mass, and a `nodes`
    frame missing an endpoint silently drops its rank row. Pass
    `validate=True` (or set SPARK_GRAFT_VALIDATE_SHARED_FRAMES=1) to
    pay three metadata-scale actions that turn either misuse into a
    ValueError; production callers (minhash_clusters) satisfy the
    contract by construction and leave it off."""
    import os

    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    )
    if validate is None:
        validate = os.environ.get(
            "SPARK_GRAFT_VALIDATE_SHARED_FRAMES", ""
        ).strip().lower() in ("1", "true", "yes", "on")
    if not pre_distinct:
        e = e.distinct().localCheckpoint(eager=True)
    elif validate and not (
        e.groupBy("src", "dst").count().filter(F.col("count") > 1).isEmpty()
    ):
        raise ValueError(
            "pagerank_quantized(pre_distinct=True): edge frame has "
            "duplicate (src, dst) rows — mass would double-count"
        )
    if nodes is None:
        nodes = (
            e.select(F.col("src").alias("node"))
            .unionByName(e.select(F.col("dst").alias("node")))
            .distinct()
            .localCheckpoint(eager=True)
        )
    else:
        nodes = nodes.select("node")
        if validate:
            if not nodes.groupBy("node").count().filter(
                F.col("count") > 1
            ).isEmpty():
                raise ValueError(
                    "pagerank_quantized(nodes=...): node frame has "
                    "duplicate rows — ranks would emit per copy"
                )
            uncovered = (
                e.select(F.col("src").alias("node"))
                .unionByName(e.select(F.col("dst").alias("node")))
                .join(nodes, "node", "left_anti")
            )
            if not uncovered.isEmpty():
                raise ValueError(
                    "pagerank_quantized(nodes=...): node frame does "
                    "not cover every edge endpoint — uncovered nodes "
                    "would lose their rank rows"
                )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("pr_q", F.lit(None).cast("bigint"))
    deg = e.groupBy("src").agg(F.count("*").alias("deg"))
    ed = e.join(deg, "src").localCheckpoint(eager=True)
    # python // == SQL integer div for non-negative operands
    d = int(damping_pct)
    base = (100 - d) * scale // (100 * n)
    ranks = nodes.select(
        "node", F.lit(scale // n).cast("bigint").alias("pr_q")
    )
    spark = edges.sparkSession
    parts = max(
        1,
        min(spark.sparkContext.defaultParallelism, n // 100_000 + 1),
    )
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    # r13 round shape (guide §1.3/§2.4): the fixed-n_iter loop has NO
    # per-round driver action, so per-round localCheckpoint calls were
    # pure overhead — under AQE even a LAZY checkpoint call blocks the
    # driver while every upstream query stage materializes (toRdd →
    # getFinalPhysicalPlan), so 6 rounds paid ~18 sequential stage
    # jobs with a py4j round-trip between each. The rounds now chain
    # into ONE plan executed by the closing eager checkpoint (plan
    # depth is bounded: lineage is truncated every _CHAIN rounds for
    # large n_iter). Each round is also one operator shorter: the
    # (nodes ⟕ contribs) join is fused into the contribution groupBy
    # by unioning a zero-contribution row per node — Σ is unchanged by
    # +0 terms and integer `div` runs after the full sum, so pr_q is
    # bit-identical (oracle-pinned) while the round drops one join and
    # one broadcast build.
    _CHAIN = 8
    zero_rows = nodes.select(
        "node", F.lit(0).cast("bigint").alias("_v")
    )
    # Tiny-graph path: AQE has nothing left to decide inside the loop
    # (joins are explicitly broadcast, shuffle width is pinned, keys
    # are uniform vertex ids), but its per-stage materialization
    # turns the chained plan into one blocking driver job per
    # exchange — measured r13 on d7: jobs 50 → 36 at equal-or-better
    # wall time with AQE scoped off here. Above the gate (the 100 TB
    # shape) AQE stays on: skew/coalesce decisions on a billion-edge
    # shuffle are worth the driver overhead. Gated on GRAPH SIZE, not
    # core count, so the driver's low-core scaling runs see the same
    # plan.
    _AQE = "spark.sql.adaptive.enabled"
    prev_aqe = spark.conf.get(_AQE)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        if n <= BROADCAST_RANKS_MAX:
            spark.conf.set(_AQE, "false")
        for i in range(n_iter):
            r_side = ranks.select(F.col("node").alias("src"), "pr_q")
            if n <= BROADCAST_RANKS_MAX:
                # same tiny-graph broadcast as the float loop: exact
                # integer results are join-strategy-independent, so
                # the oracle twin is unaffected (asserted in
                # test_graph's replica/twin parity)
                r_side = F.broadcast(r_side)
            contribs = ed.join(r_side, "src").select(
                F.col("dst").alias("node"),
                F.expr("pr_q div deg").alias("_v"),
            )
            ranks = (
                contribs.unionByName(zero_rows)
                .groupBy("node")
                .agg(
                    F.expr(
                        f"CAST(CAST({base} AS BIGINT)"
                        f" + (({d} * sum(_v)) div 100) AS BIGINT)"
                    ).alias("pr_q")
                )
            )
            if (i + 1) % _CHAIN == 0 and (i + 1) < n_iter:
                ranks = ranks.localCheckpoint(eager=False)
        # materialize the loop plan so the restored shuffle conf
        # can't re-plan the loop stages at consume time
        ranks = ranks.localCheckpoint(eager=True)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set(_AQE, prev_aqe)
    return ranks

