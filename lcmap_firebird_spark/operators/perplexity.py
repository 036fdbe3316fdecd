"""Language-model perplexity scoring — the CCNet-style quality
signal.

Public recipe (CCNet, LLaMA data pipeline): score every document's
perplexity under a small LM trained on a clean reference corpus
(Wikipedia in the papers); low perplexity ≈ reference-like prose,
high ≈ gibberish/boilerplate. KenLM doesn't distribute; this module
implements the same signal as an add-k-smoothed interpolated bigram
model in pure DataFrame form:

- TRAIN: two groupBys over the reference corpus (unigram + bigram
  counts) — the model IS two small DataFrames, no fitting loop;
- SCORE: explode each doc's bigrams once, broadcast-join the count
  tables, per-token log-probability
      log p(w2|w1) = log( (B(w1,w2) + k) / (U(w1) + k·V) )
  with U(w1)=0 rows falling back to the uniform 1/V floor (unseen
  history), one groupBy for the per-doc mean, perplexity = exp(−mean);
- GATE: keep docs below a perplexity ceiling.

Scale: the model tables are vocabulary-sized (broadcastable for any
reasonable reference corpus; shuffle-join if ever larger); the corpus
explodes once and shuffles only (doc_id, logp) pairs. Zipf-hot
tokens skew the score join like any postings join — AQE skew split
applies. All arithmetic is log/exp over exact integer counts —
deterministic across runs and engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

ADD_K = 0.1


def _doc_bigrams(
    df: DataFrame, id_col: str, text_col: str, flag=None
) -> DataFrame:
    """(doc_id, w1, w2[, _flag]) per adjacent token pair, in
    multiplicity. `flag` rides along so one explode can feed a
    subset-trained model AND the scoring pass (the DSIR target_pred
    discipline)."""
    from .dedup import spread

    toks = tokens(text_col)
    width = F.size(toks) - 1
    pairs = F.when(
        width > 0,
        F.zip_with(
            F.slice(toks, 1, width),
            F.slice(toks, 2, width),
            lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    extra = [flag.alias("_flag")] if flag is not None else []
    keep = ["doc_id"] + (["_flag"] if flag is not None else [])
    return (
        spread(df, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(pairs).alias("p"),
            *extra,
        )
        .select(
            *keep, F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
        )
    )


def train_bigram_lm(
    reference: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[DataFrame, DataFrame, int]:
    """(unigram_counts (w1, u), bigram_counts (w1, w2, b), V) from a
    clean reference corpus. V counts distinct tokens + 1 (the unseen
    mass), fixing the smoothing denominator."""
    bg = _doc_bigrams(reference, id_col, text_col)
    bigrams = bg.groupBy("w1", "w2").agg(F.count("*").alias("b"))
    # unigram history counts = occurrences as w1 (what conditionals
    # normalize over)
    unigrams = bg.groupBy("w1").agg(F.count("*").alias("u"))
    vocab = (
        bg.select(F.col("w1").alias("w"))
        .unionByName(bg.select(F.col("w2").alias("w")))
        .distinct()
        .count()
        + 1
    )
    return unigrams, bigrams, vocab


def score_perplexity(
    df: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    vocab: int,
    k: float = ADD_K,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Input columns + `perplexity` = exp(−mean log p(w2|w1)).
    Documents with < 2 tokens have no bigrams and score NULL
    (no evidence — the gate keeps them; length gates handle shorts).
    """
    bg = _doc_bigrams(df, id_col, text_col)
    scored = (
        bg.join(F.broadcast(unigrams), "w1", "left")
        .join(F.broadcast(bigrams), ["w1", "w2"], "left")
        .select(
            "doc_id",
            F.when(
                F.col("u").isNotNull(),
                F.log(
                    (F.coalesce(F.col("b"), F.lit(0)) + F.lit(float(k)))
                    / (F.col("u") + F.lit(float(k * vocab)))
                ),
            )
            .otherwise(F.log(F.lit(1.0 / vocab)))
            .alias("logp"),
        )
        .groupBy("doc_id")
        .agg(F.exp(-F.avg("logp")).alias("perplexity"))
    )
    return df.join(
        scored.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).select(*df.columns, "perplexity")


def nll_quantized(
    df: DataFrame,
    target_pred,
    k: float = ADD_K,
    scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Oracle-exact LM negative log likelihood: input columns +
    `lm_nll_q` = Σ_tokens round(−log p(w2|w1) · scale) as BIGINT and
    `n_bigrams` (both NULL for docs with < 2 tokens). The model is
    trained on the rows matching `target_pred` (the reference slice —
    CCNet trains on Wikipedia; here the clean slice of the same
    corpus), and ONE checkpointed bigram explode feeds training and
    scoring. Per-token quantization makes the per-doc sum an
    order-independent exact integer, so a DuckDB twin replaying
    tokenize → counts → smoothed log-probs → round reproduces the
    value bit-for-bit (the same posture as dsir's quantized mode;
    perplexity itself = exp(nll_q / (scale · n_bigrams)) within
    quantization tolerance)."""
    from .dedup import hash60

    # tokens become 60-bit fingerprints BEFORE the checkpoint: counts
    # keyed by hash60(token) equal counts keyed by the token itself
    # (md5 collisions are negligible at vocabulary scale and both
    # engines would agree even on one), the materialized frame is
    # (long, long) instead of raw text, and no join ever shuffles
    # strings — the PLANS.md fingerprint rule. Measured on t3: the
    # raw-string form cost 3s extra at sf0.1.
    # LAZY checkpoints, one materializing action (r13 fusion, guide
    # §1.3): the vocab count below is the only driver action, and its
    # plan reads bigrams which reads bg — so that single job
    # materializes BOTH checkpoints (each frame appears exactly once
    # in the count's DAG: no concurrent-first-reader race, the
    # PLANS.md rule-15 hazard needs independent consumers). The old
    # eager form paid two extra persist jobs for the same frames.
    bg = (
        _doc_bigrams(df, id_col, text_col, flag=target_pred)
        .select(
            "doc_id",
            "_flag",
            hash60(F.col("w1")).alias("w1"),
            hash60(F.col("w2")).alias("w2"),
        )
        .localCheckpoint(eager=False)
    )
    # ONE model aggregate reads the corpus-sized frame; everything
    # else derives from the vocabulary²-bounded bigram counts:
    # u(w1) = Σ_w2 b(w1, w2) exactly (unigram history counts ARE the
    # bigram row sums), and the vocabulary is the distinct key set.
    # bigrams stays checkpointed (three consumers: unigrams, vocab
    # action, score join) — materialized by the vocab count.
    bigrams = (
        bg.filter(F.col("_flag"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("b"))
        .localCheckpoint(eager=False)
    )
    unigrams = bigrams.groupBy("w1").agg(F.sum("b").alias("u"))
    vocab = (
        bigrams.select(F.col("w1").alias("w"))
        .unionByName(bigrams.select(F.col("w2").alias("w")))
        .distinct()
        .count()
        + 1
    )
    logp = (
        F.when(
            F.col("u").isNotNull(),
            F.log(
                (F.coalesce(F.col("b"), F.lit(0)) + F.lit(float(k)))
                / (F.col("u") + F.lit(float(k * vocab)))
            ),
        )
        .otherwise(F.log(F.lit(1.0 / vocab)))
    )
    lq = F.round(-logp * F.lit(float(scale))).cast("bigint")
    scored = (
        bg.join(F.broadcast(unigrams), "w1", "left")
        .join(F.broadcast(bigrams), ["w1", "w2"], "left")
        .select("doc_id", lq.alias("_lq"))
        .groupBy("doc_id")
        .agg(
            F.sum("_lq").alias("lm_nll_q"),
            F.count("*").alias("n_bigrams"),
        )
    )
    return df.join(
        scored.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).select(*df.columns, "lm_nll_q", "n_bigrams")


def perplexity_gate(
    df: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    vocab: int,
    max_perplexity: float,
    **kwargs,
) -> DataFrame:
    """Keep docs scoring <= max_perplexity (NULL-scored shorts pass —
    absence of evidence is not gibberish)."""
    scored = score_perplexity(df, unigrams, bigrams, vocab, **kwargs)
    return scored.filter(
        F.col("perplexity").isNull()
        | (F.col("perplexity") <= max_perplexity)
    ).drop("perplexity")

