"""Training-mixture composition — per-domain token budgets.

The last stage of a corpus pipeline before packing: given per-domain
mixture weights and a total token budget, pick (and possibly repeat)
documents so each domain contributes ~weight/Σweights of the budget.
The reference has no analog (its pipeline ends at a classified-tile
write, ccdc/classification.py); public mixture recipes (e.g. The
Pile / Gopher / LLaMA data tables) do exactly this domain-weighted
token accounting.

Scale design — membership must be a pure function of the key:

- A naive "ORDER BY hash, take docs until the running token sum hits
  the budget" needs a global per-domain prefix sum — one partition
  per domain, dead at 100 TB.
- Instead documents hash into `MIX_BUCKETS` deterministic buckets
  per domain (`mix_bucket` — md5-derived, engine-portable, exactly
  uniform since 2^60 ≡ 0 mod MIX_BUCKETS). One small aggregate (domains × buckets rows) computes
  per-bucket token sums; a window cumsum over that SMALL frame picks
  the largest bucket threshold whose cumulative tokens fit the
  budget; the corpus is then filtered with a broadcast join on
  (domain, bucket < threshold). The corpus itself is never shuffled
  and never globally ordered — selection resolution is one bucket
  (~1/MIX_BUCKETS of a domain's tokens), the price of determinism
  at scale.
- Upsampling (budget > domain tokens): whole epochs replicate every
  doc via posexplode over a `sequence`; the fractional remainder
  reuses the same bucket threshold machinery. Output carries an
  `epoch` column so downstream packing/shuffling can decorrelate
  repeats.

Everything is exact integer arithmetic over md5-derived buckets —
deterministic across runs, engines, partition layouts, and cluster
sizes, and late-arriving data lands in the same buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import hash60
from .text import token_count

MIX_BUCKETS = 4096


def mix_bucket(key: Column | str, salt: str = "") -> Column:
    """Deterministic bucket in [0, MIX_BUCKETS). Hashes DIRECTLY into
    MIX_BUCKETS (hash60 is 60-bit and 2^60 ≡ 0 mod 4096, so the
    modulo is exactly uniform) — routing through sampling's 10,000-way
    split_bucket first would leave buckets 0..1807 carrying ~1.5× the
    mass of 1808..4095 (10000 % 4096 = 1808)."""
    # NULL keys coalesce to the shared sentinel (one deterministic
    # bucket) rather than propagating NULL out of the membership
    # function — sampling.salted_key is the single definition of the
    # salt/sentinel scheme every split surface shares
    from .sampling import salted_key

    return hash60(salted_key(key, salt)) % MIX_BUCKETS


def _bucketed(
    df: DataFrame, domain_col: str, key_col: str, text_col: str, salt: str
) -> DataFrame:
    # the staging columns would silently OVERWRITE same-named input
    # columns (and select(*df.columns) would then return the mangled
    # values) — refuse instead
    clash = [c for c in ("_bkt", "_tok") if c in df.columns]
    if clash:
        raise ValueError(
            f"input already carries reserved column(s) {clash!r}"
        )
    return df.withColumn(
        "_bkt", mix_bucket(key_col, salt)
    ).withColumn("_tok", token_count(text_col))


def bucket_thresholds(
    bucketed: DataFrame, budgets: dict[str, int], domain_col: str
) -> DataFrame:
    """Per-domain largest bucket threshold whose cumulative token sum
    stays within the (remainder) budget.

    Returns (domain, _thr, achieved_tokens): buckets [0, _thr) are
    selected. The aggregate is domains × occupied-buckets rows — tiny
    — so the window cumsum is safe; the corpus never sees a window.

    A domain whose budget is below even its FIRST occupied bucket's
    token mass gets no threshold row and contributes ZERO docs —
    deliberate: the mixture contract is approached-from-below budget
    adherence (tests + the x3 oracle pin `achieved <= budget`), and
    keeping one bucket would overshoot by ~n_tokens/MIX_BUCKETS.
    Bucket resolution is the floor: a 10^10-token domain quantizes
    at ~2.4M tokens/bucket, so give such a domain a budget above
    that (or raise MIX_BUCKETS) if it must contribute.
    """
    spark = bucketed.sparkSession
    items = [(d, int(b)) for d, b in budgets.items()]
    bdf = spark.createDataFrame(items, ["domain", "_budget"])
    per_bucket = (
        bucketed.groupBy(F.col(domain_col).alias("domain"), "_bkt")
        .agg(F.sum("_tok").alias("_btok"))
    )
    w = Window.partitionBy("domain").orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per_bucket.withColumn("_cum", F.sum("_btok").over(w))
    kept = cum.join(F.broadcast(bdf), "domain").filter(
        F.col("_cum") <= F.col("_budget")
    )
    return kept.groupBy("domain").agg(
        (F.max("_bkt") + F.lit(1)).alias("_thr"),
        F.max("_cum").alias("achieved_tokens"),
    )


def compose_mixture(
    df: DataFrame,
    weights: dict[str, float],
    total_tokens: int,
    domain_col: str = "source",
    key_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "mix",
) -> DataFrame:
    """Weighted mixture with up- AND down-sampling: domain d's token
    budget is weight_d/Σweights × total_tokens. If the budget exceeds
    the domain's corpus, every doc repeats floor(budget/corpus) times
    (epochs) and the fractional remainder is bucket-selected like a
    downsample. Output = input columns + `epoch` (0-based; epoch 0 is
    the selection baseline), deterministic end to end.
    """
    if "epoch" in df.columns:
        raise ValueError(
            "input already carries an 'epoch' column — compose_mixture "
            "emits its own (re-budgeting a mixture output must drop or "
            "rename the old epoch first)"
        )
    if not weights:
        raise ValueError("weights must name at least one domain")
    wsum = float(sum(weights.values()))
    if wsum <= 0:
        raise ValueError("weights must sum to a positive value")
    budgets = {
        d: int(w / wsum * total_tokens) for d, w in weights.items()
    }
    # THREE consumers read this frame (domain token counts, the
    # remainder-threshold aggregate, the selection filter) — an
    # un-materialized version re-ran the tokenize+md5 scan per
    # consumer (the dsir.py pathology, PLANS.md rule 15). LAZY
    # checkpoint (r13 fusion): the counts .collect() right below is
    # the materializing job — bucketed appears exactly once in that
    # action's DAG, so there is no concurrent-first-reader race, and
    # the later threshold/selection consumers read the persisted RDD.
    bucketed = _bucketed(df, domain_col, key_col, text_col, salt)
    bucketed = bucketed.localCheckpoint(eager=False)

    counts = {
        r["domain"]: int(r["n_tokens"] or 0)
        # derive from the checkpointed frame's _tok — NOT a fresh
        # token-count pass over the raw corpus; `or 0`
        # because an all-NULL-text domain sums to NULL (ANSI) and
        # int(None) crashed the driver
        for r in bucketed.groupBy(F.col(domain_col).alias("domain"))
        .agg(F.sum("_tok").alias("n_tokens"))
        .collect()
        if r["domain"] in budgets
    }
    # a domain with zero corpus tokens gets zero epochs (otherwise
    # budget // 1 epochs would explode every zero-token doc
    # budget-many times)
    epochs = {
        d: (budgets[d] // counts[d] if counts.get(d) else 0)
        for d in budgets
    }
    remainders = {
        d: budgets[d] - epochs[d] * counts.get(d, 0) for d in budgets
    }

    spark = df.sparkSession
    edf = spark.createDataFrame(
        [(d, int(epochs[d])) for d in budgets], ["domain", "_epochs"]
    )
    thr = bucket_thresholds(bucketed, remainders, domain_col).select(
        F.col("domain").alias("_tdomain"), "_thr"
    )
    sel = (
        bucketed.join(
            F.broadcast(edf), bucketed[domain_col] == edf["domain"]
        )
        .drop(edf["domain"])
        .join(
            F.broadcast(thr),
            bucketed[domain_col] == thr["_tdomain"],
            "left",
        )
        .drop("_tdomain")
    )
    # full epochs for every doc + one extra epoch for remainder docs
    n_copies = F.col("_epochs") + F.when(
        F.col("_bkt") < F.coalesce(F.col("_thr"), F.lit(0)), 1
    ).otherwise(0)
    out = (
        sel.filter(n_copies > 0)
        .withColumn(
            "epoch", F.explode(F.sequence(F.lit(0), n_copies - 1))
        )
    )
    return out.select(*df.columns, "epoch")
