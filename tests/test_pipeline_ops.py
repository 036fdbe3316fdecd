"""PII redaction and contamination-detection invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from lcmap_firebird_spark.catalog import read_table
from lcmap_firebird_spark.operators import pipeline as P


def test_pii_redaction_and_counts(spark):
    rows = [
        (1, "mail me at alice@example.com or call 555-123-4567 now"),
        (2, "ssn 123-45-6789 ip 10.0.0.1 card 4111 1111 1111 1111"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        P.redact_pii("text").alias("clean"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert "[EMAIL]" in by_id[1].clean and "alice@" not in by_id[1].clean
    assert "[PHONE]" in by_id[1].clean
    assert "[SSN]" in by_id[2].clean and "[IPV4]" in by_id[2].clean
    assert "[CC]" in by_id[2].clean
    assert by_id[3].clean == "nothing sensitive here"
    # one sentinel per span
    assert by_id[1].clean.count("[EMAIL]") == 1
    assert by_id[2].clean.count("[SSN]") == 1


def test_contamination_detects_verbatim_inclusion(spark, sf_dir):
    """A benchmark item copied verbatim from a corpus doc is flagged;
    decontaminate removes exactly the flagged docs."""
    docs = read_table(spark, "documents", sf_dir)
    # benchmark: verbatim texts of 5 corpus docs + 1 novel item
    bench = docs.filter(F.col("doc_id").isin([3, 7, 11, 19, 23])).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(9999, "completely novel benchmark question nobody wrote " * 3)],
            "doc_id long, text string",
        )
    )
    report = P.contamination(docs, bench, n=8, min_hits=1)
    flagged = {r.doc_id for r in report.select("doc_id").distinct().collect()}
    # the 5 sources are flagged (copies of them may legitimately be too)
    assert {3, 7, 11, 19, 23} <= flagged
    clean = P.decontaminate(docs, bench, n=8, min_hits=1)
    assert clean.count() == docs.count() - len(flagged)
    assert clean.filter(F.col("doc_id").isin(list(flagged))).count() == 0


def test_manifest_checksum_sees_multiplicity(spark):
    """bit-XOR of raw fingerprints self-cancels even multiplicities
    (routine under mixture upsampling); the occurrence-indexed
    checksum distinguishes which doc was duplicated."""
    from lcmap_firebird_spark.plans.corpus import corpus_manifest

    a = spark.createDataFrame(
        [("train", "A A"), ("train", "A A"), ("train", "B")],
        "split string, text string",
    )
    b = spark.createDataFrame(
        [("train", "A A"), ("train", "B"), ("train", "B")],
        "split string, text string",
    )
    ma, mb = corpus_manifest(a), corpus_manifest(b)
    assert ma["n_docs"] == mb["n_docs"]
    assert ma["checksum"] != mb["checksum"]
    # identical corpus, different layout -> identical checksum
    ma2 = corpus_manifest(a.repartition(7))
    assert ma2["checksum"] == ma["checksum"]


# --- r7 review regressions ---------------------------------------------------


def test_decontaminate_passes_benchmark_column_names(spark):
    from lcmap_firebird_spark.operators.pipeline import (
        contamination,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "completely unrelated corpus text with many words here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog")],
        "qid long, question string",
    )
    kept = decontaminate(
        corpus, bench, bench_id_col="qid", bench_text_col="question"
    )
    assert [r.doc_id for r in kept.collect()] == [2]
    report = contamination(
        corpus, bench, bench_id_col="qid", bench_text_col="question"
    ).collect()
    assert [(r.doc_id, r.bench_id) for r in report] == [(1, 7)]

