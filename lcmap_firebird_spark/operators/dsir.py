"""DSIR — Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) as DataFrame plans.

Select raw-corpus documents whose hashed-n-gram distribution looks
like a TARGET corpus (e.g. curated reference text):

1. features: unigrams + bigrams hashed into `n_buckets` counts
   (`hash60 % B` — md5-derived, engine-portable, uniform since
   2^60 ≡ 0 mod any power-of-two B);
2. fit bag-of-ngrams models on target and raw corpora — each model
   IS a (bucket, count) frame, one groupBy each, broadcastable;
3. per-doc importance weight
   log w(x) = Σ_b c_b(x)·(log p̂_target[b] − log p̂_raw[b])
   with add-k smoothing fixing both supports — one explode + one
   broadcast join + one per-doc sum;
4. sampling without replacement via Gumbel top-k: key =
   log w + g_i where g_i = −log(−log u_i) and u_i is a DETERMINISTIC
   md5-uniform of (salt, doc id) — reproducible across engines,
   layouts, and reruns, unlike RNG-state sampling. Top-k is Spark's
   TakeOrdered (per-partition heads + merge, never a full sort).

The reference has no analog; the recipe follows the public paper.
Everything is built-in expressions — zero UDFs, zero collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import hash60, spread
from .text import gram_array, tokens

DSIR_BUCKETS = 8192  # 2^13: hash60 % B is exactly uniform

# oracle-exact mode: per-bucket log ratios and the Gumbel noise are
# quantized to integers at this scale BEFORE the per-doc sum, so the
# doc score is an order-independent integer sum and the top-k ranks
# identical bigints on any engine (the same posture as
# similarity.quantize — the only cross-engine float risk left is a
# 1-ulp ln() landing exactly on a rounding boundary, measure-zero)
DSIR_QUANT = 1_000_000


def _doc_buckets(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    flag: Column | None = None,
) -> DataFrame:
    """(id, bucket[, _flag]) — one row per unigram/bigram occurrence,
    hashed. The gram column is staged once per row (HOF-inlining
    guard, same discipline as text.py's t3); a one-split compact scan
    is spread across cores first (the tokenize+md5 explode is the
    CPU-bound stage — same single-split pathology SCALING.md caught
    in d8). `flag` rides along so one explode can feed a
    subset-filtered model (see target_pred)."""
    df = spread(df, id_col)
    toks = tokens(text_col)
    extra = [flag.alias("_flag")] if flag is not None else []
    staged = df.select(
        F.col(id_col).alias("_id"),
        F.concat(gram_array(toks, 1), gram_array(toks, 2)).alias("_g"),
        *extra,
    )
    keep = ["_id"] + (["_flag"] if flag is not None else [])
    return staged.select(
        *keep, F.explode("_g").alias("_gram")
    ).select(
        *keep, (hash60(F.col("_gram")) % n_buckets).alias("bucket")
    )


def feature_counts(
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
) -> DataFrame:
    """(bucket, n) hashed-n-gram counts — the bag-of-ngrams 'model'
    is literally this broadcastable frame."""
    return (
        _doc_buckets(corpus, id_col, text_col, n_buckets)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


def importance_weights(
    df: DataFrame,
    target_counts: DataFrame | None,
    raw_counts: DataFrame | None = None,
    n_buckets: int = DSIR_BUCKETS,
    smoothing: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    quantize_scale: int | None = None,
    target_pred: Column | None = None,
) -> DataFrame:
    """Input columns + `log_w` = Σ_b c_b(x)·(log p̂_t[b] − log p̂_r[b]),
    add-`smoothing` estimates over `n_buckets`. Documents with no
    grams get log_w = 0 (no evidence either way).

    `quantize_scale` switches to the oracle-exact integer mode:
    each bucket's log ratio is rounded to `round(ratio * scale)` as a
    BIGINT before the per-doc sum, so `log_w` becomes an
    order-independent exact integer (summing raw doubles is
    summation-order-dependent — Spark's own shuffle order varies run
    to run, let alone vs another engine). The double→int rounding is
    the single deterministic lossy step, mirrored verbatim in the
    DuckDB twin.

    `raw_counts=None` uses `df` itself as the raw model (the paper's
    standard setting) and SHARES one gram explode between the model
    counts and the per-doc scoring — an eager checkpoint of the
    (id, bucket) frame feeds both, halving the dominant cost.

    `target_pred` (mutually exclusive with `target_counts`) marks the
    target model as a SUBSET of `df` — the other standard setting,
    where curated/labeled rows live inside the raw corpus. Then ONE
    checkpointed explode feeds the raw model, the target model, and
    the per-doc scoring: the corpus is tokenized exactly once."""
    import math

    if (target_pred is None) == (target_counts is None):
        raise ValueError(
            "exactly one of target_counts / target_pred is required"
        )
    k = float(smoothing)
    fused_counts = None
    if target_pred is not None:
        if raw_counts is not None:
            raise ValueError("target_pred implies raw_counts=None")
        # ONE aggregation carries both models (r13 fusion, guide §2.3
        # partial/map-side aggregation): per bucket, the raw count is
        # the row count and the target count is the flagged-row count
        # — the previous two independent groupBys each ran a full
        # aggregation pass over the corpus-sized explode (twice at
        # build for the totals job, twice again at exec for the ratio
        # join). Both checkpoints are LAZY: the totals action below
        # reads fused_counts which reads flagged, so one job
        # materializes both. flagged appears once in that DAG, but
        # fused_counts appears TWICE (both union branches of the
        # totals aggregate), so its partitions may be computed twice
        # concurrently — duplicate work, never wrong results.
        flagged = _doc_buckets(
            df, id_col, text_col, n_buckets, flag=target_pred
        ).localCheckpoint(eager=False)
        doc_bk = flagged.select("_id", "bucket")
        fused_counts = (
            flagged.groupBy("bucket")
            .agg(
                F.count("*").alias("_nr"),
                F.count(F.when(F.col("_flag"), F.lit(1))).alias("_nt"),
            )
            .localCheckpoint(eager=False)
        )
        raw_counts = fused_counts.select(
            "bucket", F.col("_nr").alias("n")
        )
        # row-identical to the old filter-then-count frame: a bucket
        # appears iff it has >= 1 flagged occurrence
        target_counts = fused_counts.filter(F.col("_nt") > 0).select(
            "bucket", F.col("_nt").alias("n")
        )
    else:
        doc_bk = _doc_buckets(df, id_col, text_col, n_buckets)
        if raw_counts is None:
            # self-raw model: the exploded (id, bucket) frame feeds
            # BOTH the model counts and the scoring — eager checkpoint
            # per PLANS.md rule 15 (two concurrent first-readers
            # otherwise)
            doc_bk = doc_bk.localCheckpoint(eager=True)
            raw_counts = doc_bk.groupBy("bucket").agg(
                F.count("*").alias("n")
            )
        else:
            raw_counts = raw_counts.localCheckpoint(eager=True)
        # each model IS a ≤n_buckets-row count frame: materialize it
        # once so the total action below AND the ratio join in the
        # final plan read the aggregate instead of re-running the
        # corpus explode (un-checkpointed, the tokenize+md5 scan ran
        # once per consumer — 3 extra corpus passes measured at sf0.1)
        target_counts = target_counts.localCheckpoint(eager=True)
    # model totals: ONE tagged 2-row aggregate over the two
    # checkpointed count frames (metadata-scale driver action, same
    # posture as compose_mixture's domain counts; one job, not two)
    tots = {
        r["_m"]: r["tot"]
        for r in target_counts.select(F.lit("t").alias("_m"), "n")
        .unionByName(raw_counts.select(F.lit("r").alias("_m"), "n"))
        .groupBy("_m")
        .agg(F.sum("n").alias("tot"))
        .collect()
    }
    tot_t = tots.get("t") or 0
    tot_r = tots.get("r") or 0
    # absent buckets score the smoothed floor log(k / (tot + k·B))
    floor_t = math.log(k / (tot_t + k * n_buckets))
    floor_r = math.log(k / (tot_r + k * n_buckets))

    def _logp(counts: DataFrame, tot: int, tag: str) -> DataFrame:
        return counts.select(
            "bucket",
            F.log(
                (F.col("n") + F.lit(k)) / F.lit(tot + k * n_buckets)
            ).alias(f"_lp_{tag}"),
        )

    ratio_expr = F.coalesce(F.col("_lp_t"), F.lit(floor_t)) - F.coalesce(
        F.col("_lp_r"), F.lit(floor_r)
    )
    default_ratio: Column = F.lit(floor_t - floor_r)
    zero: Column = F.lit(0.0)
    if quantize_scale is not None:
        s = F.lit(float(quantize_scale))
        ratio_expr = F.round(ratio_expr * s).cast("bigint")
        default_ratio = F.round(default_ratio * s).cast("bigint")
        zero = F.lit(0).cast("bigint")
    if fused_counts is not None:
        # both log-probs off the ONE fused count frame — no join at
        # all (target ⊆ raw, so the full-outer collapses to a
        # projection: _lp_t is NULL exactly when _nt = 0, and
        # ratio_expr's coalesce supplies the same floor the outer
        # join's missing row did). Expressions are the byte-identical
        # _logp shapes, so quantized ratios are unchanged.
        ratios = fused_counts.select(
            "bucket",
            F.when(
                F.col("_nt") > 0,
                F.log(
                    (F.col("_nt") + F.lit(k))
                    / F.lit(tot_t + k * n_buckets)
                ),
            ).alias("_lp_t"),
            F.log(
                (F.col("_nr") + F.lit(k)) / F.lit(tot_r + k * n_buckets)
            ).alias("_lp_r"),
        ).select("bucket", ratio_expr.alias("_ratio"))
    else:
        ratios = (
            _logp(target_counts, tot_t, "t")
            .join(_logp(raw_counts, tot_r, "r"), "bucket", "full")
            .select("bucket", ratio_expr.alias("_ratio"))
        )
    doc_w = (
        doc_bk
        .join(F.broadcast(ratios), "bucket", "left")
        .groupBy("_id")
        .agg(
            F.sum(F.coalesce(F.col("_ratio"), default_ratio)).alias("log_w")
        )
    )
    return df.join(
        doc_w.withColumnRenamed("_id", id_col), id_col, "left"
    ).select(
        *df.columns, F.coalesce(F.col("log_w"), zero).alias("log_w")
    )


def gumbel_key(id_col: Column | str, salt: str = "dsir") -> Column:
    """Deterministic standard-Gumbel 'noise' from an id: u =
    (hash60 + 0.5)/2^60 ∈ (0,1), g = −log(−log u). A pure hash
    function — the sampling-without-replacement membership is
    reproducible on any engine (same posture as sampling.py).

    NULL ids ride sampling.salted_key's shared sentinel instead of
    propagating NULL — a NULL selection key sorted LAST, silently
    excluding the row from the Gumbel top-k regardless of weight
    (the exact failure split_bucket's sentinel exists to prevent;
    oracle twins hash non-null doc_id, so parity holds)."""
    from .sampling import salted_key

    u = (
        hash60(salted_key(id_col, salt)).cast("double") + F.lit(0.5)
    ) / F.lit(float(1 << 60))
    return -F.log(-F.log(u))


def gumbel_key_q(
    id_col: Column | str, salt: str = "dsir", scale: int = DSIR_QUANT
) -> Column:
    """`round(gumbel * scale)` as BIGINT — the oracle-exact twin of
    `gumbel_key` (same quantization posture as the bucket ratios)."""
    return F.round(gumbel_key(id_col, salt) * F.lit(float(scale))).cast(
        "bigint"
    )


def dsir_sample(
    df: DataFrame,
    target_counts: DataFrame | None,
    raw_counts: DataFrame | None,
    k: int,
    n_buckets: int = DSIR_BUCKETS,
    smoothing: float = 1.0,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "dsir",
    quantize_scale: int | None = None,
    target_pred: Column | None = None,
) -> DataFrame:
    """The DSIR selection: k docs ~ importance weights, without
    replacement, via Gumbel top-k (key = log_w + Gumbel(id)). Returns
    the selected rows + log_w. Deterministic end to end; ties beyond
    the key cannot occur (distinct ids ⇒ distinct Gumbel keys a.s.,
    and the final orderBy includes the id as tiebreak anyway).

    With `quantize_scale`, both the weight and the Gumbel noise are
    engine-portable integers (see `importance_weights`) and the whole
    selection is reproducible bit-for-bit in the DuckDB oracle."""
    w = importance_weights(
        df, target_counts, raw_counts, n_buckets, smoothing,
        id_col, text_col, quantize_scale=quantize_scale,
        target_pred=target_pred,
    )
    noise = (
        gumbel_key_q(id_col, salt, quantize_scale)
        if quantize_scale is not None
        else gumbel_key(id_col, salt)
    )
    key = (F.col("log_w") + noise).alias("_key")
    return (
        w.withColumn("_key", key)
        .orderBy(F.col("_key").desc(), F.col(id_col))
        .limit(int(k))
        .drop("_key")
    )
