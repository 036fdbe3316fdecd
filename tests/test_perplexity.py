"""Bigram-LM perplexity (operators/perplexity.py) vs an independent
pure-Python model; gate semantics; JVM-only plan."""

from __future__ import annotations

import math

import pytest

from lcmap_firebird_spark.operators import perplexity as P

REFERENCE = [
    (1, "the cat sat on the mat"),
    (2, "the dog sat on the rug"),
    (3, "a cat and a dog sat together"),
]


def _model_py(ref):
    uni, bi, vocab = {}, {}, set()
    for _, text in ref:
        t = text.split()
        vocab.update(t)
        for a, b in zip(t, t[1:]):
            uni[a] = uni.get(a, 0) + 1
            bi[(a, b)] = bi.get((a, b), 0) + 1
    return uni, bi, len(vocab) + 1


def _ppl_py(text, uni, bi, v, k=P.ADD_K):
    t = text.split()
    if len(t) < 2:
        return None
    logs = []
    for a, b in zip(t, t[1:]):
        if a in uni:
            logs.append(
                math.log((bi.get((a, b), 0) + k) / (uni[a] + k * v))
            )
        else:
            logs.append(math.log(1.0 / v))
    return math.exp(-sum(logs) / len(logs))


@pytest.fixture(scope="module")
def model(spark):
    ref = spark.createDataFrame(REFERENCE, "doc_id long, text string")
    return P.train_bigram_lm(ref)


def test_scores_match_pure_python(spark, model):
    uni, bi, v = model
    uni_py, bi_py, v_py = _model_py(REFERENCE)
    assert v == v_py
    docs = [
        (10, "the cat sat on the rug"),       # reference-like
        (11, "rug mat zzz qqq xxx vvv"),       # gibberish
        (12, "hi"),                            # too short -> NULL
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: r.perplexity
        for r in P.score_perplexity(df, uni, bi, v).collect()
    }
    for did, text in docs:
        want = _ppl_py(text, uni_py, bi_py, v_py)
        if want is None:
            assert got[did] is None
        else:
            assert got[did] == pytest.approx(want, rel=1e-12)
    # the signal orders as intended
    assert got[10] < got[11]


def test_gate_keeps_reference_like_and_shorts(spark, model):
    uni, bi, v = model
    docs = spark.createDataFrame(
        [
            (10, "the cat sat on the rug"),
            (11, "rug mat zzz qqq xxx vvv"),
            (12, "hi"),
        ],
        "doc_id long, text string",
    )
    uni_py, bi_py, v_py = _model_py(REFERENCE)
    cut = _ppl_py("the cat sat on the rug", uni_py, bi_py, v_py) * 1.5
    kept = {
        r.doc_id
        for r in P.perplexity_gate(docs, uni, bi, v, cut).collect()
    }
    assert kept == {10, 12}


def test_jvm_only_plan(spark, model):
    uni, bi, v = model
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    scored = P.score_perplexity(df, uni, bi, v)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastHashJoin" in plan


def test_nll_quantized_matches_pure_python(spark):
    """nll_quantized: one checkpointed explode trains on the flagged
    slice and scores everything; lm_nll_q is an exact integer sum of
    per-token round(-ln p * 1e6) — the oracle-exact form
    t3_quality_fingerprint registers (its DuckDB twin is the
    cross-engine half of this check)."""
    from pyspark.sql import functions as F

    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the dog sat on the rug", "en"),
        (3, "a cat and a dog sat together", "en"),
        (10, "the cat sat on the rug", "de"),
        (11, "rug mat zzz qqq xxx vvv", "de"),
        (12, "hi", "de"),            # < 2 tokens -> NULL
        (13, None, "de"),            # NULL text  -> NULL
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = P.nll_quantized(df, target_pred=F.col("lang") == "en")
    assert dict(out.dtypes)["lm_nll_q"] == "bigint"
    got = {
        r["doc_id"]: (r["lm_nll_q"], r["n_bigrams"])
        for r in out.collect()
    }
    ref = [(i, t) for i, t, lg in rows if lg == "en"]
    uni, bi, v = _model_py(ref)

    def _round_half_up(x):
        return (
            int(math.floor(x + 0.5))
            if x >= 0
            else int(math.ceil(x - 0.5))
        )

    for did, text, _ in rows:
        if not text or len(text.split()) < 2:
            assert got[did] == (None, None), did
            continue
        t = text.split()
        q = 0
        for a, b in zip(t, t[1:]):
            if a in uni:
                lp = math.log(
                    (bi.get((a, b), 0) + P.ADD_K) / (uni[a] + P.ADD_K * v)
                )
            else:
                lp = math.log(1.0 / v)
            q += _round_half_up(-lp * 1_000_000)
        assert got[did] == (q, len(t) - 1), did
    # the model trains on the en slice ONLY: an en-like de doc scores
    # lower NLL-per-token than gibberish
    assert got[10][0] / got[10][1] < got[11][0] / got[11][1]
