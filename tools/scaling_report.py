"""Empirical scaling report: run a representative query set at every
available scale factor and record how wall time grows with data size.

At local scale most queries are fixed-cost-dominated (session, plan,
shuffle setup), so the informative number is the RATIO of times
across a 10x data step: ~1x = overhead-bound (the 100 TB cost model
is the plan shape, not this number), >~3x = data-term visible — the
query's data-dependent cost is already the driver at sf0.1, and its
growth exponent should be ~linear (ratio ~10) or better.

Writes SCALING.md. Usage:
    python tools/scaling_report.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lcmap_firebird_spark.queries import merged  # noqa: E402
from lcmap_firebird_spark.session import session  # noqa: E402

# one representative per cost family
PICKS = [
    "a4_pricing_summary",      # scan+agg
    "j2_revenue_by_nation",    # join tree
    "w2_window_frames",        # windows
    "d1_exact_dedup",          # fingerprint groupBy
    "d3_minhash_lsh",          # candidate ladder
    "d8_substring_spans",      # gram inverted index
    "s5_ivf_knn",              # ANN
    "t3_quality_fingerprint",  # text codegen
    "u5_ccd_segments",         # pandas kernel
    "x2_assemble_series",      # explode/assemble
    "x3_mixture_split",        # mixture bucket thresholds (r5)
    "x5_upsert",               # transactional lake MERGE (r5)
    "t2_lang_id_nb",           # NB train+score explode (r5 late)
    "d7_clusters_pagerank",    # CC + PageRank loops (r5 late)
    "s3_knn_lsh",              # LSH ANN + broadcast hot-bucket cap (r7)
    "t1_token_stats",          # token stats + quantized BM25 (r6)
    "ml1_rf_classify",         # ensemble CASE replay, map-only (r7)
]


# non-registry operator families (round-4 additions) — measured with
# the same methodology over data-scaled inputs
def _probe_pagerank(spark, sf):
    """Edge count scales with the events table; dst is a codegen hash
    fold so the graph stays connected-ish at every SF."""
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.graph import pagerank
    from pyspark.sql import functions as F

    ev = read_table(spark, "events", sf)
    edges = ev.select(
        F.col("user_id").alias("src"),
        ((F.col("user_id") + F.col("event_id") % 97) % 10_000).alias(
            "dst"
        ),
    )
    return pagerank(edges, max_iter=8, tol=1e-6)


def _probe_bm25(spark, sf):
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.retrieval import bm25_topk

    docs = read_table(spark, "documents", sf)
    qs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps"),
            (2, "data model and system design"),
            (3, "world news report today"),
        ],
        ["query_id", "query"],
    )
    return bm25_topk(docs, qs, k=10)


def _probe_perplexity(spark, sf):
    """Train the bigram LM on the documents table and score the same
    corpus — both halves scale with input."""
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.perplexity import (
        score_perplexity,
        train_bigram_lm,
    )

    docs = read_table(spark, "documents", sf)
    uni, bi, v = train_bigram_lm(docs)
    return score_perplexity(docs, uni, bi, v)


def _probe_semdedup(spark, sf):
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.semdedup import semdedup

    # derived cell count: occupancy stays bounded as the corpus grows
    return semdedup(
        read_table(spark, "embeddings", sf), eps=0.6, num_cells=None
    )


def _probe_dsir(spark, sf):
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.dsir import (
        dsir_sample,
        feature_counts,
    )

    docs = read_table(spark, "documents", sf)
    target = docs.filter("lang = 'en'").limit(40)
    return dsir_sample(docs, feature_counts(target), None, k=100)


def _probe_lake_cluster(spark, sf):
    """Transactional maintenance lifecycle at data scale: create a
    lake table from the scaled customer table, MOR-delete a tenth,
    OPTIMIZE-ZORDER (cluster) the live set — materializing the DVs —
    and read the post-cluster snapshot back through the log."""
    import atexit
    import shutil
    import tempfile

    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.lakehouse import LakeTable

    cust = read_table(spark, "customer", sf).select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    root = tempfile.mkdtemp(prefix="scal_lake_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    t = LakeTable.create(spark, root, cust, key_cols=["c_custkey"])
    t.delete_mor("c_custkey % 10 = 0")
    t.cluster()
    return t.snapshot()


EXTRA_PROBES = [
    ("pagerank_events_graph", _probe_pagerank),
    ("bm25_topk_3q", _probe_bm25),
    ("perplexity_train_score", _probe_perplexity),
    ("semdedup_derived_cells", _probe_semdedup),
    ("dsir_select_100", _probe_dsir),
    ("lake_mor_cluster_snapshot", _probe_lake_cluster),
]


def main() -> None:
    sf_dirs = sys.argv[1:] or [
        f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")
    ]
    sf_dirs = [d for d in sf_dirs if os.path.isdir(d)]
    spark = session("firebird-scaling")
    spark.sparkContext.setLogLevel("ERROR")
    queries, _ = merged()
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    runners = [(n, queries[n]) for n in PICKS] + EXTRA_PROBES
    results: dict[str, dict[str, float]] = {}
    for sf in sf_dirs:
        for name, fn in runners:
            best = None
            for _ in range(2):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, sf).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
            results.setdefault(name, {})[sf] = round(best, 3)
            print(f"{sf} {name}: {best:.2f}s", file=sys.stderr)

    tags = [d.rstrip("/").split("/")[-1] for d in sf_dirs]
    lines = [
        "# SCALING — measured wall time vs scale factor",
        "",
        "Best-of-2, cold cache, full-evaluation noop write (bench.py",
        "methodology), single local session. Ratio columns divide",
        "adjacent scale steps; ~1x means fixed-cost-bound at this",
        "scale (the 100 TB argument is the plan shape — see PLANS.md),",
        "larger ratios show the data term, which should grow ~linearly",
        "with input for every candidate-bounded operator here.",
        "",
        "| query | " + " | ".join(tags)
        + " | " + " | ".join(
            f"{tags[i+1]}/{tags[i]}" for i in range(len(tags) - 1)
        ) + " |",
        "|---|" + "---|" * (2 * len(tags) - 1),
    ]
    for name, _ in runners:
        row = [name]
        ts = [results[name][d] for d in sf_dirs]
        row += [f"{t:.2f}s" for t in ts]
        row += [
            f"{ts[i+1]/ts[i]:.1f}x" if ts[i] > 0 else "-"
            for i in range(len(ts) - 1)
        ]
        lines.append("| " + " | ".join(row) + " |")
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "SCALING.md",
    )
    write_report(lines, out)
    print(f"wrote {out}")


def write_report(lines: list[str], out: str) -> None:
    """Rewrite the measured table while PRESERVING every hand-written
    section from '## Attribution notes' onward (r9 review finding:
    the plain overwrite would have destroyed the committed r8
    attribution analysis on the next regen)."""
    tail = ""
    if os.path.exists(out):
        existing = open(out).read()
        idx = existing.find("## Attribution notes")
        if idx != -1:
            tail = "\n" + existing[idx:].rstrip() + "\n"
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + tail)


if __name__ == "__main__":
    main()
