"""Deterministic hash-sampling invariants: split
disjointness/exhaustiveness, salt decorrelation, stratified rates."""

from __future__ import annotations

from lcmap_firebird_spark.catalog import read_table
from lcmap_firebird_spark.operators.sampling import (
    bucket_threshold,
    split_bucket,
    train_val_test,
)


def test_split_disjoint_exhaustive_deterministic(spark, sf_dir):
    docs = read_table(spark, "documents", sf_dir)
    a = {r.doc_id: r.split for r in train_val_test(docs, "doc_id").collect()}
    b = {r.doc_id: r.split for r in train_val_test(docs, "doc_id").collect()}
    assert a == b
    assert set(a) == {r.doc_id for r in docs.select("doc_id").collect()}
    n = len(a)
    train = sum(1 for s in a.values() if s == "train")
    assert 0.7 * n < train < 0.9 * n


def test_salt_decorrelates_splits(spark, sf_dir):
    docs = read_table(spark, "documents", sf_dir)
    half = bucket_threshold(0.5)
    s1 = {r.doc_id for r in docs.filter(split_bucket("doc_id", "a") < half).select("doc_id").collect()}
    s2 = {r.doc_id for r in docs.filter(split_bucket("doc_id", "b") < half).select("doc_id").collect()}
    assert s1 != s2
    n = docs.count()
    overlap = len(s1 & s2) / n
    assert 0.15 < overlap < 0.35  # ~25% for independent 50% samples


def test_stratified_hash_sample_deterministic_and_proportional(spark, sf_dir):
    """Membership is a pure key function (identical row sets across
    invocations) and per-stratum rates track the requested fractions;
    unlisted strata are dropped (sampleBy semantics)."""
    from lcmap_firebird_spark.catalog import read_table
    from lcmap_firebird_spark.operators.sampling import stratified_hash_sample

    docs = read_table(spark, "documents", sf_dir)
    fr = {"en": 0.5, "de": 0.2}
    a = stratified_hash_sample(docs, "lang", "doc_id", fr)
    b = stratified_hash_sample(docs, "lang", "doc_id", fr)
    got = sorted(r.doc_id for r in a.select("doc_id").collect())
    assert got == sorted(r.doc_id for r in b.select("doc_id").collect())

    totals = {r.lang: r.n for r in docs.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    kept = {r.lang: r.n for r in a.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    assert set(kept) <= set(fr)  # unlisted strata dropped
    for lang, frac in fr.items():
        if totals.get(lang, 0) >= 50:
            rate = kept.get(lang, 0) / totals[lang]
            assert abs(rate - frac) < 0.15, (lang, rate, frac)


def test_null_keys_split_consistently(spark):
    """NULL keys hash to one deterministic bucket: a bucket filter
    never silently drops them and train_val_test no longer dumps
    them all into 'test' by default — both surfaces agree."""
    df = spark.createDataFrame(
        [(1,), (2,), (None,), (None,)], "doc_id long"
    )
    buckets = df.select(split_bucket("doc_id").alias("b")).collect()
    assert all(r.b is not None for r in buckets)
    split = {
        (r["doc_id"], r["split"])
        for r in train_val_test(df, "doc_id").collect()
    }
    null_splits = {s for k, s in split if k is None}
    assert len(null_splits) == 1  # both NULL rows land together
