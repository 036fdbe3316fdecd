"""Token-budget mixture composition (operators/mixture.py):
deterministic domain-weighted selection and epoch-exact upsampling."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.operators import mixture as MIX
from lcmap_firebird_spark.operators.text import token_count


@pytest.fixture(scope="module")
def corpus(spark):
    # web: 400 docs × 20 tokens = 8000 tokens
    # code: 100 docs × 40 tokens = 4000 tokens
    # books: 10 docs × 100 tokens = 1000 tokens
    rows = []
    did = 0
    for dom, n, tl in [("web", 400, 20), ("code", 100, 40), ("books", 10, 100)]:
        for _ in range(n):
            rows.append((did, dom, " ".join(f"w{did}t{j}" for j in range(tl))))
            did += 1
    return spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).cache()


def _tokens_by_domain(df):
    out = df.groupBy("source").agg(
        F.sum(token_count("text")).alias("t")
    ).collect()
    return {r["source"]: r["t"] for r in out}


def test_compose_mixture_weights_and_epochs(spark, corpus):
    # total 16000, weights web:code:books = 2:1:1 ->
    # web 8000 (exactly its corpus -> ~1 epoch), code 4000 (exactly
    # its corpus), books 4000 = 4 full epochs of 1000
    out = MIX.compose_mixture(
        corpus, {"web": 2.0, "code": 1.0, "books": 1.0}, 16_000
    ).cache()
    toks = {
        r["source"]: r["t"]
        for r in out.groupBy("source")
        .agg(F.sum(token_count("text")).alias("t"))
        .collect()
    }
    # full-epoch domains hit their budget exactly
    assert toks["books"] == 4000
    assert toks["web"] == 8000
    assert toks["code"] == 4000
    # books: every doc appears in epochs 0..3
    eb = (
        out.filter(F.col("source") == "books")
        .groupBy("doc_id")
        .agg(F.countDistinct("epoch").alias("n"))
        .collect()
    )
    assert all(r["n"] == 4 for r in eb)
    out.unpersist()


def test_compose_mixture_fractional_epoch(spark, corpus):
    # books budget = 2500 = 2 full epochs + 500-token remainder
    out = MIX.compose_mixture(corpus, {"books": 1.0}, 2500).cache()
    total = out.agg(F.sum(token_count("text"))).first()[0]
    assert 2500 - 100 * 4 <= total <= 2500
    per_doc = {
        r["doc_id"]: r["n"]
        for r in out.groupBy("doc_id").agg(F.count("*").alias("n")).collect()
    }
    # every doc gets its 2 full epochs; remainder docs get one more
    assert set(per_doc.values()) <= {2, 3}
    assert all(n >= 2 for n in per_doc.values())
    assert len(per_doc) == 10
    out.unpersist()


def test_compose_deterministic_and_zero_udf(spark, corpus):
    a = MIX.compose_mixture(corpus, {"web": 1.0, "books": 1.0}, 6000)
    b = MIX.compose_mixture(corpus, {"web": 1.0, "books": 1.0}, 6000)
    ka = sorted((r.doc_id, r.epoch) for r in a.collect())
    assert ka == sorted((r.doc_id, r.epoch) for r in b.collect())
    plan = a._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_zero_token_domain_never_explodes(spark):
    """A budgeted domain whose docs are all empty must contribute
    nothing — not budget-many copies of empty docs (round-4 guard)."""
    df = spark.createDataFrame(
        [(1, "empty", ""), (2, "web", "a b c d e")],
        "doc_id long, source string, text string",
    )
    out = MIX.compose_mixture(df, {"empty": 1.0, "web": 1.0}, 10)
    rows = out.collect()
    # the zero-token doc may ride along once (budget-neutral) but
    # must NOT replicate budget-many times
    per_doc = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + 1
    assert per_doc.get(1, 0) <= 1
    assert len(rows) <= 3

