"""Incremental dedup invariant: merging batches through the persisted
signature store yields byte-identical pairs to the one-shot batch
pipeline over the union — incremental is an execution strategy, not a
different answer."""

from __future__ import annotations

import pytest

from .helpers import fuzz_seeds, slow_enabled
from pyspark.sql import functions as F

from lcmap_firebird_spark.catalog import read_table
from lcmap_firebird_spark.operators import incremental as I
from lcmap_firebird_spark.operators.dedup import minhash_dedup

THRESH = 0.3


def _pairs_set(df):
    return {
        (r["doc_a"], r["doc_b"], r["n_common"], round(r["jaccard"], 12))
        for r in df.collect()
    }


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return read_table(spark, "documents", sf_dir).cache()


def test_signature_table_shape(spark, docs):
    sig = I.signature_table(docs)
    names = [f.name for f in sig.schema.fields]
    assert names[:2] == ["doc_id", "fp"]
    assert "h0" in names and "h15" in names and "n_sh" in names
    assert sig.count() == docs.count()
    # short docs keep a fingerprint even with no shingles
    short = sig.filter(F.col("n_sh").isNull())
    assert short.filter(F.col("fp").isNull()).count() == 0


def test_merge_batch_upsert(spark, docs):
    base = I.signature_table(docs.filter(F.col("doc_id") % 2 == 0))
    batch = I.signature_table(docs.filter(F.col("doc_id") % 3 == 0))
    merged = I.merge_batch(base, batch)
    # distinct doc_ids, batch wins collisions, nothing dropped
    want = docs.filter((F.col("doc_id") % 2 == 0) | (F.col("doc_id") % 3 == 0))
    assert merged.count() == want.count()
    assert merged.select("doc_id").distinct().count() == merged.count()


def test_incremental_equals_batch(spark, docs):
    """Base + two successive batch merges == one-shot pipeline."""
    base = docs.filter(F.col("doc_id") % 3 == 0)
    b1 = docs.filter(F.col("doc_id") % 3 == 1)
    b2 = docs.filter(F.col("doc_id") % 3 == 2)

    oneshot = minhash_dedup(docs, threshold=THRESH, exact_first=False)

    store0 = I.signature_table(base).cache()
    p0 = minhash_dedup(base, threshold=THRESH, exact_first=False)
    corpus1 = base.unionByName(b1)
    p1 = I.incremental_pairs(corpus1, store0, b1, threshold=THRESH)
    store1 = I.merge_batch(store0, I.signature_table(b1)).cache()
    corpus2 = corpus1.unionByName(b2)
    p2 = I.incremental_pairs(corpus2, store1, b2, threshold=THRESH)

    got = _pairs_set(p0) | _pairs_set(p1) | _pairs_set(p2)
    assert got == _pairs_set(oneshot)


@pytest.mark.parametrize(
    "seed",
    fuzz_seeds([11, 47] if slow_enabled() else [11], base=8400),
)
def test_incremental_equals_batch_random_splits(spark, docs, seed):
    """Fuzzed form of the invariant: ANY random partition of the
    corpus into 2-5 arrival batches, folded through the signature
    store, must union to the one-shot pairs byte-identically —
    arrival order is an execution detail, never an answer change."""
    import random

    rng = random.Random(seed)
    n_batches = rng.randint(2, 5)
    salt = rng.randrange(1 << 30)
    assign = (F.xxhash64(F.col("doc_id") + F.lit(salt)) % n_batches
              + n_batches) % n_batches
    batches = [docs.filter(assign == i) for i in range(n_batches)]
    # every doc lands in exactly one batch
    assert sum(b.count() for b in batches) == docs.count()

    oneshot = _pairs_set(minhash_dedup(docs, threshold=THRESH, exact_first=False))

    store = None
    corpus = None
    got = set()
    for b in batches:
        if store is None:
            corpus = b
            store = I.signature_table(b).cache()
            got |= _pairs_set(
                minhash_dedup(b, threshold=THRESH, exact_first=False)
            )
            continue
        corpus = corpus.unionByName(b)
        got |= _pairs_set(I.incremental_pairs(corpus, store, b, threshold=THRESH))
        store = I.merge_batch(store, I.signature_table(b)).cache()
    assert got == oneshot, f"seed {seed} ({n_batches} batches) diverged"


# near-duplicate recall as an asserted bound. A document of 272
# distinct tokens has 270 3-shingles; replacing 10 tokens spaced 27
# apart removes 30 of them and adds 30 new ones, so every planted
# pair has shingle Jaccard exactly 240 / 300 = 0.8.
N_PAIRS = 200
_N_TOKENS = 272
_SWAPS = range(5, 5 + 27 * 10, 27)


def _near_copy_corpus(spark):
    def doc(d, swapped):
        return " ".join(
            f"r{d}x{i}" if swapped and i in _SWAPS else f"t{d}x{i}"
            for i in range(_N_TOKENS)
        )

    base = spark.createDataFrame(
        [(d, doc(d, False)) for d in range(N_PAIRS)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(N_PAIRS + d, doc(d, True)) for d in range(N_PAIRS)],
        "doc_id long, text string",
    )
    return base, batch


def test_near_duplicate_recall_bound(spark):
    """At the defaults (16 permutations, 4 bands × 4 rows) a pair at
    Jaccard s becomes a candidate with probability
    p(s) = 1 − (1 − s⁴)⁴, which is ≈ 0.8785 at s = 0.8. Over
    N_PAIRS independent planted pairs the found count is
    Binomial(N_PAIRS, p): recall must reach p minus three binomial
    standard deviations (≈ 0.069 at N_PAIRS = 200, so the bound is
    ≈ 0.81). Halving the band count drops p to ≈ 0.65 and fails the
    bound."""
    import math

    base, batch = _near_copy_corpus(spark)
    store = I.signature_table(base)
    corpus = base.unionByName(batch)
    pairs = I.incremental_pairs(corpus, store, batch, threshold=0.5)
    planted = {(d, N_PAIRS + d) for d in range(N_PAIRS)}
    found = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in pairs.collect()
        if (r["doc_a"], r["doc_b"]) in planted
    }
    assert set(found.values()) <= {0.8}
    p = 1 - (1 - 0.8**4) ** 4
    margin = 3 * math.sqrt(p * (1 - p) / N_PAIRS)
    recall = len(found) / N_PAIRS
    assert recall >= p - margin, (
        f"near-dup recall {recall:.3f} below S-curve bound "
        f"{p:.3f} - {margin:.3f}"
    )
