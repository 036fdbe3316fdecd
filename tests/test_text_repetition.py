"""Gopher-style repetition signals: repeated n-gram fraction and
top-n-gram dominance. Values are checked against
hand-computed fractions; determinism comes from exact-integer inputs
and single double divisions (same recipe the t3 oracle mirrors)."""

from __future__ import annotations

import pytest

from lcmap_firebird_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "nav bar\nnav bar\ncontent here\nnav bar"),
        # "a b" x3 + "b a" x2 in "a b a b a b": grams [ab, ba, ab, ba, ab]
        (2, "a b a b a b"),
        # all tokens distinct -> zero repetition
        (3, "one two three four"),
        # shorter than n -> empty gram list -> 0.0 by convention
        (4, "single"),
        (5, ""),
    ]
    return rows


def _collect(spark, rows, expr):
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    return {
        r["doc_id"]: round(r["v"], 6)
        for r in df.select("doc_id", expr.alias("v")).collect()
    }


def test_repeated_ngram_fraction(spark, docs):
    got = _collect(spark, docs, T.repeated_fraction_of(T.ngram_list("text", 2)))
    # doc 2: 5 grams, 2 distinct -> 1 - 2/5 = 0.6
    assert got[2] == 0.6
    assert got[3] == 0.0
    assert got[4] == 0.0 and got[5] == 0.0


def test_top_ngram_fraction(spark, docs):
    got = _collect(spark, docs, T.top_fraction_of(T.ngram_list("text", 2)))
    # doc 2: "a b" appears 3 of 5 grams
    assert got[2] == 0.6
    # doc 3: every gram unique -> top gram claims 1/3
    assert got[3] == round(1 / 3, 6)
    assert got[4] == 0.0


def test_ngram_list_keeps_multiplicity(spark):
    df = spark.createDataFrame([(1, "x y x y")], ["doc_id", "text"])
    row = df.select(T.ngram_list("text", 2).alias("g")).collect()[0]
    assert row["g"] == ["x y", "y x", "x y"]
