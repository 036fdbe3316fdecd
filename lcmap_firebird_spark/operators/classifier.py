"""Model-based quality scoring — hashed linear text classifier.

The heuristic gates (operators/text: length/diversity/repetition)
catch garbage; production corpus pipelines ALSO filter with a learned
quality model scored over every document (the public CCNet /
LLaMA-style "looks like reference text" classifier). This module is
that stage, Spark-first:

- Features: each token hashes into one of `n_buckets` ids via the
  same md5-derived `hash60` the dedup family uses — engine-portable,
  seedless, no vocabulary to ship.
- Training: closed-form Naive-Bayes log-odds over a labeled sample —
  w[b] = log P(b|pos) - log P(b|neg) (Laplace-smoothed),
  bias = log P(pos) - log P(neg). One explode + one groupBy; no
  MLlib, no iterative solver, bit-deterministic.
- Scoring: explode tokens -> hash bucket -> broadcast-join the tiny
  (bucket, w) weight table -> per-doc sum -> sigmoid. The corpus
  shuffles once on doc_id for the sum; weights are data, not plan
  literals, so the same plan serves any model size.

The log-odds weights are a linear classifier in the exact same
family fastText reduces to for this task; swap in externally trained
weights by passing any (bucket, w) frame + bias to `score_quality`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import hash60
from .text import tokens

N_BUCKETS = 4096


def token_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """(doc_id, bucket) per token occurrence (multiplicity kept —
    both training counts and scoring sums are per-occurrence).
    `spread` fixes the one-split compact-corpus pathology before the
    explode (no-op on well-parallel inputs)."""
    from .dedup import spread

    df = spread(df, id_col)
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("_t"),
    ).select(
        "doc_id", (hash60(F.col("_t")) % n_buckets).alias("bucket")
    )


def _labeled_buckets(
    df: DataFrame, label, id_col: str, text_col: str, n_buckets: int
) -> DataFrame:
    """(doc_id, bucket, _y) per token occurrence — the one
    labeled-explode frame both the float trainer and the quantized
    trainer/scorer build on. `label` is an int-castable Column
    (NULL-safe: NULL counts as 0, mirroring SQL CASE WHEN).

    The label RIDES THROUGH the explode (the dsir/perplexity flag
    discipline, r13): the previous join-back of `_y` on doc_id paid a
    whole extra join of the exploded frame for a column that was
    already on the row before the explode. Row-identical output for
    the inputs this operator assumes: `id_col` values are non-null
    and unique, as the registry corpus guarantees. Outside that, a
    NULL id stays in the training counts and a duplicated id keeps
    one row per occurrence."""
    from .dedup import spread

    lab = spread(
        df.select(
            F.col(id_col).alias("doc_id"),
            F.coalesce(label.cast("int"), F.lit(0)).alias("_y"),
            F.col(text_col).alias("_text"),
        ),
        "doc_id",
    )
    return lab.select(
        "doc_id", "_y", F.explode(tokens("_text")).alias("_t")
    ).select(
        "doc_id",
        (hash60(F.col("_t")) % n_buckets).alias("bucket"),
        "_y",
    )


def train_log_odds(
    labeled: DataFrame,
    label_col: str = "label",
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    alpha: float = 1.0,
) -> tuple[DataFrame, float]:
    """Closed-form NB log-odds weights from a labeled sample
    (label_col: 1 = quality, 0 = not). Returns ((bucket, w), bias).

    The labeled sample is the small side (thousands of docs curated
    by hand or a seed heuristic); everything here is one explode +
    one groupBy on the bucket id.
    """
    lab = labeled.select(
        F.col(id_col).alias("doc_id"),
        F.coalesce(F.col(label_col).cast("int"), F.lit(0)).alias("_y"),
        F.col(text_col).alias("_text"),
    )
    tb = _labeled_buckets(
        labeled, F.col(label_col), id_col, text_col, n_buckets
    )
    counts = tb.groupBy("bucket").agg(
        F.sum("_y").alias("_pos"),
        F.sum(1 - F.col("_y")).alias("_neg"),
    )
    totals = tb.agg(
        F.sum("_y").alias("tp"), F.sum(1 - F.col("_y")).alias("tn")
    ).first()
    tp, tn = int(totals["tp"]), int(totals["tn"])
    ad = alpha * n_buckets
    weights = counts.select(
        "bucket",
        (
            F.log((F.col("_pos") + alpha) / (tp + ad))
            - F.log((F.col("_neg") + alpha) / (tn + ad))
        ).alias("w"),
    )
    docs = lab.groupBy().agg(
        F.sum("_y").alias("p"), F.sum(1 - F.col("_y")).alias("n")
    ).first()
    import math

    bias = math.log((docs["p"] + alpha) / (docs["n"] + alpha))
    return weights, bias


def score_quality(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
) -> DataFrame:
    """Input columns + `quality_score` = sigmoid(bias + Σ w[h(t)]).

    Docs with zero tokens (or no bucket hit) score sigmoid(bias).
    The weight table broadcasts; unseen buckets contribute 0 (their
    log-odds prior cancels in the smoothed limit and keeping them
    out keeps the table at observed-vocabulary size)."""
    tb = token_buckets(df, id_col, text_col, n_buckets)
    sums = (
        tb.join(F.broadcast(weights), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("w").alias("_sw"))
    )
    joined = df.join(
        sums.withColumnRenamed("doc_id", id_col), id_col, "left"
    )
    z = F.lit(float(bias)) + F.coalesce(F.col("_sw"), F.lit(0.0))
    return joined.select(
        *df.columns,
        (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("quality_score"),
    )


def nb_quantized(
    df: DataFrame,
    label_pred,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = N_BUCKETS,
    alpha: float = 1.0,
    scale: int = 1_000_000,
) -> DataFrame:
    """Oracle-exact NB log-odds score: input columns + `nb_q` =
    Σ_tokens round(w[h(t)] · scale) as BIGINT (NULL for docs with no
    tokens). The per-BUCKET weight is quantized to an integer BEFORE
    the per-doc sum, so the score is an order-independent exact
    integer and a DuckDB twin replaying tokenize → hash-bucket →
    counts → smoothed log-odds → round reproduces it bit-for-bit —
    the same posture as perplexity.nll_quantized / dsir's quantized
    mode. `label_pred` is a boolean Column giving the positive class
    (NULL-safe: NULL counts as negative, mirroring SQL CASE WHEN).

    Same closed-form train as `train_log_odds` (one explode + one
    groupBy; the labeled frame is checkpointed once and feeds counts
    AND scoring), same broadcast-weight scoring as `score_quality`.
    """
    # one tokenize+hash explode feeds training counts AND the score
    # sum (the frame is (long, long, int) — fingerprints, never text,
    # per the PLANS.md rule). LAZY checkpoints (r13 fusion, guide
    # §1.3): the totals .first() below reads counts which reads tb,
    # so ONE job materializes both — each frame appears exactly once
    # in that action's DAG, so the rule-15 concurrent-first-reader
    # hazard cannot occur; the scoring join then reads the persisted
    # RDDs. The old eager form paid two extra persist jobs.
    tb = _labeled_buckets(
        df, label_pred, id_col, text_col, n_buckets
    ).localCheckpoint(eager=False)
    counts = (
        tb.groupBy("bucket")
        .agg(
            F.sum("_y").alias("_pos"),
            F.sum(1 - F.col("_y")).alias("_neg"),
        )
        .localCheckpoint(eager=False)  # totals action + weight build
    )
    tot = counts.agg(
        F.sum("_pos").alias("tp"), F.sum("_neg").alias("tn")
    ).first()
    tp, tn = int(tot["tp"] or 0), int(tot["tn"] or 0)
    ad = float(alpha) * n_buckets
    wq = counts.select(
        "bucket",
        F.round(
            (
                F.log(
                    (F.col("_pos").cast("double") + F.lit(float(alpha)))
                    / F.lit(float(tp + ad))
                )
                - F.log(
                    (F.col("_neg").cast("double") + F.lit(float(alpha)))
                    / F.lit(float(tn + ad))
                )
            )
            * F.lit(float(scale))
        )
        .cast("bigint")
        .alias("_wq"),
    )
    # every observed bucket is in the weight table (trained on the
    # same corpus), so the inner join keeps every token occurrence
    sums = (
        tb.join(F.broadcast(wq), "bucket")
        .groupBy("doc_id")
        .agg(F.sum("_wq").alias("nb_q"))
    )
    return df.join(
        sums.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).select(*df.columns, "nb_q")


def quality_gate_model(
    df: DataFrame,
    weights: DataFrame,
    bias: float = 0.0,
    threshold: float = 0.5,
    **kwargs,
) -> DataFrame:
    """Filter to docs scoring >= threshold (the model-based sibling
    of plans/corpus.quality_gate)."""
    scored = score_quality(df, weights, bias, **kwargs)
    return scored.filter(F.col("quality_score") >= threshold).drop(
        "quality_score"
    )
