"""PageRank (operators/graph.py) vs an independent pure-Python power
iteration, plus structural sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.operators.graph import pagerank

from .helpers import slow_enabled

EDGES = [
    (1, 2),
    (1, 3),
    (2, 3),
    (3, 1),
    (4, 3),  # 4 links in, nothing links to 4
    (5, 5),  # self-loop
    (6, 7),  # 7 is dangling (no out-links)
]


def _pagerank_py(edges, damping=0.85, iters=60):
    nodes = sorted({u for e in edges for u in e})
    out = {}
    for s, d in set(edges):
        out.setdefault(s, set()).add(d)
    n = len(nodes)
    rank = {v: 1.0 / n for v in nodes}
    for _ in range(iters):
        dangling = sum(rank[v] for v in nodes if v not in out)
        base = (1.0 - damping) / n + damping * dangling / n
        new = {v: base for v in nodes}
        for s, ds in out.items():
            share = damping * rank[s] / len(ds)
            for d in ds:
                new[d] += share
        rank = new
    return rank


@pytest.fixture(scope="module")
def edges_df(spark):
    return spark.createDataFrame(EDGES, "src long, dst long")


def test_matches_pure_python_power_iteration(spark, edges_df):
    got = {
        r["node"]: r["rank"]
        for r in pagerank(edges_df, max_iter=60, tol=0.0).collect()
    }
    want = _pagerank_py(EDGES)
    assert set(got) == set(want)
    for v, w in want.items():
        assert got[v] == pytest.approx(w, abs=1e-9)
    # mass conservation
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


@pytest.mark.skipif(
    not slow_enabled(),
    reason="rank-structure sweep — subsumed by the pure-python parity "
    "test; SPARK_GRAFT_SLOW=1",
)
def test_structure_sane(spark, edges_df):
    got = {
        r["node"]: r["rank"] for r in pagerank(edges_df).collect()
    }
    # 3 has the most in-links -> top rank; 4 has none -> bottom tier
    assert got[3] == max(got.values())
    assert got[4] <= min(got[1], got[2], got[3])
    # duplicate edges don't change the result
    doubled = edges_df.unionByName(edges_df)
    again = {r["node"]: r["rank"] for r in pagerank(doubled).collect()}
    for v in got:
        assert again[v] == pytest.approx(got[v], abs=1e-12)


# asymmetric undirected graph: a path 1-2-3-4 plus a pendant 5-2 —
# degrees {1:1, 2:3, 3:2, 4:1, 5:1} so quantized ranks DIVERGE by
# position (the near-dup clique graphs of the registry corpus are
# degree-regular and converge to one value; this shape proves the
# deg/div arithmetic discriminates)
UEDGES = [(1, 2), (2, 3), (3, 4), (5, 2)]
SYM = UEDGES + [(b, a) for a, b in UEDGES]


def _pagerank_q_py(edges, n_iter=6, scale=10**12, d=85):
    """Independent integer replica of pagerank_quantized."""
    nodes = sorted({u for e in edges for u in e})
    out = {}
    for s, t in set(edges):
        out.setdefault(s, []).append(t)
    n = len(nodes)
    base = (100 - d) * scale // (100 * n)
    r = {v: scale // n for v in nodes}
    for _ in range(n_iter):
        s = {v: 0 for v in nodes}
        for u, ds in out.items():
            for v in ds:
                s[v] += r[u] // len(ds)
        r = {v: base + (d * s[v]) // 100 for v in nodes}
    return r


def test_pagerank_quantized_matches_integer_replica(spark):
    from lcmap_firebird_spark.operators.graph import pagerank_quantized

    edges = spark.createDataFrame(SYM, "src long, dst long")
    got = {
        r["node"]: r["pr_q"]
        for r in pagerank_quantized(edges, n_iter=6).collect()
    }
    want = _pagerank_q_py(SYM, n_iter=6)
    assert got == want
    # ranks discriminate on this shape (guards against a vacuous
    # oracle: the registry corpus's clique components all converge
    # to one value, this asymmetric graph must NOT)
    assert len(set(want.values())) >= 3
    # hub 2 is the most central
    assert got[2] == max(got.values())


def test_pagerank_quantized_shared_frames_row_identical(spark):
    """pre_distinct=True + caller-supplied nodes (the minhash_clusters
    frame-sharing path) must be row-identical to the self-deriving
    default on the same edge set."""
    from pyspark.sql import functions as F

    from lcmap_firebird_spark.operators.graph import pagerank_quantized

    edges = spark.createDataFrame(
        sorted(set(SYM)), "src long, dst long"
    ).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    default = {
        r["node"]: r["pr_q"]
        for r in pagerank_quantized(edges, n_iter=6).collect()
    }
    shared = {
        r["node"]: r["pr_q"]
        for r in pagerank_quantized(
            edges, n_iter=6, pre_distinct=True, nodes=nodes
        ).collect()
    }
    assert shared == default


def test_pagerank_quantized_validate_catches_knob_misuse(spark):
    """The frame-sharing knobs are a contract (VERDICT r6 #2): with
    validate=True, a duplicate edge under pre_distinct=True, a
    duplicate node row, or a nodes frame missing an endpoint each
    raise instead of silently mis-ranking. The honest caller passes
    validation and stays row-identical."""
    import pytest
    from pyspark.sql import functions as F

    from lcmap_firebird_spark.operators.graph import pagerank_quantized

    edges = spark.createDataFrame(
        sorted(set(SYM)), "src long, dst long"
    ).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # honest frames pass with validation on
    ok = pagerank_quantized(
        edges, n_iter=2, pre_distinct=True, nodes=nodes, validate=True
    )
    assert ok.count() == nodes.count()

    dup_edges = edges.unionByName(edges.limit(1))
    with pytest.raises(ValueError, match="duplicate \\(src, dst\\)"):
        pagerank_quantized(
            dup_edges, n_iter=2, pre_distinct=True, validate=True
        )

    dup_nodes = nodes.unionByName(nodes.limit(1))
    with pytest.raises(ValueError, match="duplicate rows"):
        pagerank_quantized(
            edges, n_iter=2, pre_distinct=True, nodes=dup_nodes,
            validate=True,
        )

    missing = nodes.join(nodes.limit(1), "node", "left_anti")
    with pytest.raises(ValueError, match="does not cover"):
        pagerank_quantized(
            edges, n_iter=2, pre_distinct=True, nodes=missing,
            validate=True,
        )


def test_pagerank_quantized_duckdb_twin(spark):
    """The unrolled-CTE SQL recipe used by the d7 oracle reproduces
    pagerank_quantized bit-for-bit on a degree-asymmetric graph."""
    import duckdb

    from lcmap_firebird_spark.operators.graph import pagerank_quantized

    scale, d, k = 10**12, 85, 6
    edges = spark.createDataFrame(SYM, "src long, dst long")
    got = {
        r["node"]: r["pr_q"]
        for r in pagerank_quantized(edges, n_iter=k).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE edges2 (src BIGINT, dst BIGINT)"
    )
    con.executemany("INSERT INTO edges2 VALUES (?, ?)", SYM)
    steps = [
        f"pr0 AS (SELECT node, CAST({scale} // nn.n AS BIGINT) AS r "
        "FROM nodes2, nn)"
    ]
    for i in range(1, k + 1):
        steps.append(
            f"pr{i} AS (SELECT n2.node, "
            f"CAST(({100 - d} * {scale}) // (100 * nn.n) "
            f"+ ({d} * coalesce(c.s, 0)) // 100 AS BIGINT) AS r "
            "FROM nodes2 n2 LEFT JOIN ("
            f"SELECT e.dst AS node, SUM(p.r // dg.deg) AS s "
            f"FROM pr{i - 1} p "
            "JOIN deg2 dg ON dg.src = p.node "
            "JOIN edges2 e ON e.src = p.node "
            "GROUP BY e.dst) c ON c.node = n2.node, nn)"
        )
    sql = (
        "WITH nodes2 AS (SELECT DISTINCT src AS node FROM edges2), "
        "deg2 AS (SELECT src, COUNT(*) AS deg FROM edges2 GROUP BY src), "
        "nn AS (SELECT COUNT(*) AS n FROM nodes2), "
        + ", ".join(steps)
        + f" SELECT node, r FROM pr{k}"
    )
    want = dict(con.execute(sql).fetchall())
    assert got == want


def test_pagerank_quantized_empty_edges(spark):
    from lcmap_firebird_spark.operators.graph import pagerank_quantized

    edges = spark.createDataFrame([], "src long, dst long")
    assert pagerank_quantized(edges).count() == 0


def test_pagerank_scale_shape_100k_edges(spark):
    """Star-of-hubs graph at 100k edges: converges in few rounds,
    conserves mass, ranks hubs above leaves — the loop's cost model
    (two shuffles per round on uniform keys) holding at a size where
    a quadratic or per-node-driver shape would be obvious."""
    from pyspark.sql import functions as F

    n_hubs, leaves_per_hub = 100, 1000
    hubs = spark.range(n_hubs).select(F.col("id").alias("hub"))
    edges = (
        hubs.withColumn(
            "leaf",
            F.explode(
                F.sequence(
                    F.lit(0), F.lit(leaves_per_hub - 1)
                )
            ),
        )
        .select(
            (F.col("hub") * leaves_per_hub + F.col("leaf") + n_hubs)
            .alias("src"),
            F.col("hub").alias("dst"),
        )
    )
    before = spark.conf.get("spark.sql.shuffle.partitions")
    pr = pagerank(edges, max_iter=15, tol=1e-8).cache()
    # loop-stage partition count tracks the VERTEX count (~100k/part,
    # clamped to session parallelism), not the session-wide shuffle
    # width — the final ranks frame is the last loop round's output
    n_vertices = n_hubs + n_hubs * leaves_per_hub
    expected_parts = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            n_vertices // 100_000 + 1,
        ),
    )
    # the pin is an UPPER bound: AQE may coalesce further when the
    # per-round bytes are tiny (it does here — 100k rank rows ≈ 2 MB);
    # what must never happen is the session-wide width (32+) leaking
    # into the loop stages
    assert 1 <= pr.rdd.getNumPartitions() <= expected_parts
    # and the session conf is restored after the loop
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    ranks = pr.agg(
        F.sum("rank"), F.count("*")
    ).first()
    assert ranks[1] == n_hubs + n_hubs * leaves_per_hub
    assert ranks[0] == pytest.approx(1.0, abs=1e-6)
    # every hub outranks every leaf
    hub_min = pr.filter(F.col("node") < n_hubs).agg(F.min("rank")).first()[0]
    leaf_max = pr.filter(F.col("node") >= n_hubs).agg(F.max("rank")).first()[0]
    assert hub_min > leaf_max
    pr.unpersist()
