"""Sampling operators for training-data pipelines.

Deterministic content-hash sampling: a row's bucket is hash(key) mod
M, so split membership is reproducible across runs, engines, and
cluster sizes (no RNG state, no partition-layout dependence) — the
only sane way to carve train/val/test splits at 100 TB, because
membership is a pure function of the key: late data lands in the same
split, and joins between split artifacts stay consistent.
`train_val_test` carves weighted splits and `stratified_hash_sample`
keeps per-stratum fractions on the same buckets.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash60

SAMPLE_MOD = 10_000

NULL_KEY_SENTINEL = "\x00null"


def salted_key(key: Column | str, salt: str = "") -> Column:
    """THE salted, NULL-coalesced hash input every deterministic
    membership function derives from (split_bucket, mixture's
    mix_bucket, dsir's gumbel_key): concat(salt, coalesce(key,
    sentinel)). One definition — a change to the sentinel or salt
    scheme lands on every split surface or none (they must agree on
    the same keys)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.concat(
        F.lit(salt), F.coalesce(c.cast("string"), F.lit(NULL_KEY_SENTINEL))
    )


def bucket_threshold(fraction: float) -> int:
    """fraction -> kept-bucket threshold, shared by the operators AND
    the DuckDB oracle twins (both sides must truncate identically).
    round() before int(): bare int(0.57 * 10000) is 5699 under binary
    float (5699.999...), silently losing one bucket from the
    documented 'kept iff bucket < fraction*MOD' contract."""
    return int(round(float(fraction) * SAMPLE_MOD))


def split_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, SAMPLE_MOD) from a key column
    (md5-derived — portable to any engine, incl. the DuckDB oracle).
    `salt` decorrelates independent splits over the same key.

    NULL keys coalesce to a sentinel before hashing, so they share
    ONE deterministic bucket instead of propagating NULL — a NULL
    bucket would silently DROP null-key rows from a `bucket < t`
    filter but route them all to 'test' through train_val_test's
    otherwise() branch: two split surfaces disagreeing on the same
    keys. (Oracle twins hash non-null doc_id, so parity holds.)"""
    return hash60(salted_key(key, salt)) % SAMPLE_MOD


def train_val_test(
    df: DataFrame,
    key: str,
    weights: Sequence[float] = (0.8, 0.1, 0.1),
    salt: str = "split",
) -> DataFrame:
    """Disjoint, exhaustive, deterministic split assignment column
    ('train'/'val'/'test') — consistent for the same key forever."""
    b = split_bucket(key, salt)
    t1 = bucket_threshold(weights[0])
    t2 = t1 + bucket_threshold(weights[1])
    assignment = (
        F.when(b < t1, "train").when(b < t2, "val").otherwise("test")
    )
    return df.withColumn("split", assignment)


def stratified_hash_sample(
    df: DataFrame,
    strata_col: str,
    key: str,
    fractions: dict,
    salt: str = "strata",
) -> DataFrame:
    """Deterministic stratified sampling: per-stratum fractions, with
    membership a pure function of (key, salt) —
    row r is kept iff split_bucket(key) < fraction[stratum]·MOD.

    Same statistical intent as seeded sampleBy (independent ~p_s
    Bernoulli per stratum s; the md5-derived bucket is uniform), but
    reproducible across runs, engines, partition layouts, and cluster
    sizes — the production path at 100 TB, and exactly expressible in
    SQL for the oracle. Strata absent from `fractions` are dropped
    (sampleBy semantics)."""
    case = None
    c = F.col(strata_col)
    for stratum, frac in fractions.items():
        t = bucket_threshold(frac)
        case = F.when(c == stratum, t) if case is None else case.when(c == stratum, t)
    thresholds = case.otherwise(0) if case is not None else F.lit(0)
    return df.filter(split_bucket(key, salt) < thresholds)
