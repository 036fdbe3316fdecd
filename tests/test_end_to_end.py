"""Capstone: the full training-data pipeline composed end to end.

documents -> heuristic + learned quality gates -> dedup ladder ->
exact-substring cut -> token-budget mixture -> transactional lake
table (writer surface) -> snapshot read. Every stage is an operator
this repo ships; the assertions check the invariants that survive
composition (no duplicates, budget bound, atomic table state).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from lcmap_firebird_spark.catalog import read_table
from lcmap_firebird_spark.lakehouse import LakeTable
from lcmap_firebird_spark.operators import text as T
from lcmap_firebird_spark.operators.classifier import train_log_odds
from lcmap_firebird_spark.operators.dedup import minhash_dedup
from lcmap_firebird_spark.operators.substring import duplicate_spans
from lcmap_firebird_spark.plans import corpus as C


def test_full_pipeline_composes(spark, sf_dir, tmp_path):
    docs = read_table(spark, "documents", sf_dir)

    # learned gate self-trained from a cheap heuristic label
    labeled = docs.withColumn(
        "label", (T.token_count("text") >= 20).cast("int")
    )
    weights, bias = train_log_odds(labeled, n_buckets=512)

    prepared = C.prepare_corpus(
        docs,
        languages=("en", "fr"),
        jaccard_threshold=0.3,
        quality_model=(weights, bias, 0.4),
        substring_k=8,
        mixture={"src0": 2.0, "src1": 1.0, "src2": 1.0},
        mixture_tokens=6000,
    ).cache()
    n = prepared.count()
    assert n > 0

    # invariants: no surviving near-dups, no surviving cross-doc
    # spans, mixture budget per domain honored
    assert minhash_dedup(prepared, threshold=0.3, exact_first=False).count() == 0
    assert duplicate_spans(prepared, k=8).count() == 0
    toks = {
        r["source"]: r["t"]
        for r in prepared.groupBy("source")
        .agg(F.sum(T.token_count("text")).alias("t"))
        .collect()
    }
    budgets = {"src0": 3000, "src1": 1500, "src2": 1500}
    for dom, got in toks.items():
        assert got <= budgets[dom]

    # transactional landing zone
    root = str(tmp_path / "corpus_lake")
    t = LakeTable.create(
        spark, root, prepared.drop("epoch"), key_cols=["doc_id"]
    )
    assert t.snapshot().count() == n
    assert t.latest_version() == 1  # ONE atomic data commit
    prepared.unpersist()
