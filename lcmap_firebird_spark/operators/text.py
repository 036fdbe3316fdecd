"""Text-analysis operators for large-scale training-data pipelines.

New surface beyond the reference (BASELINE.json north-star): language
identification, quality scoring, token counting, and document
fingerprinting over a `documents(doc_id, text, ...)` table.

All of it is built from JVM-side column expressions — no Python UDFs
in the hot path — so the whole pipeline stays inside whole-stage
codegen and scales linearly with executors. Determinism notes matter
here: every score is either exact integer arithmetic or a fixed-order
double expression, so results are reproducible across engines and
cluster sizes (and hash-match the DuckDB oracle).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Marker stopwords per language for the n-gram/stopword heuristic.
# Deliberately small + deterministic; at production scale you'd swap
# in a trained n-gram profile, same plan shape.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "de": ["der", "die", "das", "und", "ist", "ein"],
    "es": ["el", "la", "de", "y", "es", "un"],
    "fr": ["le", "la", "et", "les", "est", "un"],
}
LANG_ORDER = ("en", "de", "es", "fr")  # deterministic tie-break order


def tokens(col: str | Column = "text") -> Column:
    """Whitespace tokenizer: split + drop empties (pure built-ins)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.array_remove(F.split(c, r"\s+"), "")


def token_count(col: str | Column = "text") -> Column:
    return F.size(tokens(col))


def distinct_token_count(col: str | Column = "text") -> Column:
    return F.size(F.array_distinct(tokens(col)))


def char_count(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c)


def stopword_hits(col: str | Column, lang: str) -> Column:
    """Distinct stopwords of `lang` present in the text (exact int)."""
    return F.size(
        F.array_intersect(
            F.array_distinct(tokens(col)),
            F.array(*[F.lit(w) for w in STOPWORDS[lang]]),
        )
    )


def language_id(col: str | Column = "text") -> Column:
    """Stopword-profile language ID with deterministic tie-breaking.

    argmax over per-language hit counts via `array_max` of
    (score, priority, lang) structs — O(L) comparisons, so the
    profile list can grow without a quadratic CASE chain. Ties
    resolve by LANG_ORDER (earlier language gets higher priority);
    'und' when no profile matches. Struct comparison is lexicographic
    on both Spark and DuckDB, so the oracle mirrors this exactly.
    """
    n = len(LANG_ORDER)
    entries = [
        F.struct(
            stopword_hits(col, lang).alias("score"),
            F.lit(n - idx).alias("prio"),  # earlier lang = higher prio
            F.lit(lang).alias("lang"),
        )
        for idx, lang in enumerate(LANG_ORDER)
    ]
    best = F.array_max(F.array(*entries))
    return F.when(best.getField("score") > 0, best.getField("lang")).otherwise(
        F.lit("und")
    )


def punct_count(col: str | Column = "text") -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c) - F.length(F.regexp_replace(c, r"[^\w\s]", ""))


def quality_features(
    df: DataFrame, col: str = "text", extra_cols: dict[str, Column] | None = None
) -> DataFrame:
    """Exact-integer quality signals + a deterministic double score.

    Signals: length, token count, distinct-token ratio (lexical
    diversity), punctuation ratio, English-stopword ratio — the
    standard C4/Gopher-style quality heuristics, all codegen'd.
    `extra_cols` appends named expressions to the output projection
    (used to ride the fingerprint along in the same scan).
    """
    n_chars = char_count(col)
    n_tok = token_count(col)
    n_distinct = distinct_token_count(col)
    n_punct = punct_count(col)
    n_stop = stopword_hits(col, "en")
    # fixed-order double arithmetic (identical expression both
    # engines), with zero-denominator guards MIRRORED in the t3
    # oracle: Spark's x/0.0 is NULL while DuckDB's is inf/NaN, so an
    # empty/whitespace-only doc would otherwise break value-hash
    # parity (the fraction helpers below already guard)
    diversity = F.when(
        n_tok > 0, n_distinct.cast("double") / n_tok.cast("double")
    ).otherwise(F.lit(0.0))
    stop_ratio = F.when(
        n_tok > 0, n_stop.cast("double") / n_tok.cast("double")
    ).otherwise(F.lit(0.0))
    punct_ratio = F.when(
        n_chars > 0, n_punct.cast("double") / n_chars.cast("double")
    ).otherwise(F.lit(0.0))
    score = diversity * 0.5 + stop_ratio * 0.3 + (1.0 - punct_ratio) * 0.2
    return df.select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        n_tok.alias("n_tokens"),
        n_distinct.alias("n_distinct"),
        n_punct.alias("n_punct"),
        diversity.alias("diversity"),
        F.round(score, 6).alias("quality_score"),
        *[c.alias(name) for name, c in (extra_cols or {}).items()],
    )


def gram_array(toks: Column, n: int) -> Column:
    """All n-token grams ('w1 … wn' strings), in document order, from
    an already-built token array.

    Built by zip_with over n shifted slices so every lambda body
    touches ONLY lambda variables. Referencing an outer expression
    (e.g. element_at(tokens(col), i)) inside a higher-order-function
    lambda re-evaluates that expression PER ELEMENT — HOFs are
    interpreted (CodegenFallback) and get no subexpression
    elimination, so an inlined tokenizer turns O(n) gram-building
    into O(n²) regex splits per row. The slice form evaluates the
    token array a constant number of times per row instead.
    """
    if n == 1:
        return toks
    width = F.size(toks) - (n - 1)
    parts = [F.slice(toks, k + 1, width) for k in range(n)]
    grams = reduce(
        lambda g, p: F.zip_with(g, p, lambda a, b: F.concat_ws(" ", a, b)),
        parts[1:],
        parts[0],
    )
    return F.when(width > 0, grams).otherwise(F.array().cast("array<string>"))


def bind_once(expr: Column, pred) -> Column:
    """Bind an expensive array expression ONCE inside a predicate:
    wrap it as the single element of an array and apply `pred` via
    exists(), so the lambda VARIABLE — a bound value — is what the
    predicate references repeatedly, not the expression tree.

    Why not a staged column + filter: PushDownPredicates substitutes
    projection aliases into filter conditions unconditionally, so a
    `_g2` staged for a FILTER gets re-inlined once per reference
    (CollapseProject's multi-reference cost check only protects
    projection consumers — see PLANS.md rule 14). An exists-bound
    lambda survives every rewrite because it IS the predicate."""
    return F.exists(F.array(expr), pred)


def ngram_list(col: str | Column = "text", n: int = 2) -> Column:
    """ALL n-token grams in order (not distinct — repetition signals
    need multiplicities; `operators.dedup.shingles` is the distinct
    variant for set similarity).

    When several signals consume the same grams, materialize this as
    a real column in a prior select (see queries/text.py t3) and pass
    the attribute to `repeated_fraction_of`/`top_fraction_of` —
    Catalyst's CollapseProject keeps a multiply-referenced non-cheap
    projection output in its own stage, so the grams build runs once
    per row instead of once per consumer."""
    return gram_array(tokens(col), n)


def _max_run_length(sorted_arr: Column) -> Column:
    """Longest run of equal adjacent elements in a SORTED array —
    i.e. the max multiplicity — in one O(n) fold (vs the quadratic
    count-each-distinct formulation)."""
    step = lambda acc, x: F.struct(  # noqa: E731
        x.alias("prev"),
        F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
        F.greatest(
            acc["best"],
            F.when(x == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)),
        ).alias("best"),
    )
    return F.aggregate(
        sorted_arr,
        # tokens are non-empty, so "" never matches a real gram
        F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
        ),
        step,
        lambda acc: acc["best"],
    )


def repeated_fraction_of(grams: Column) -> Column:
    """1 − distinct/total over a grams column (pass a materialized
    attribute when sharing the grams — see ngram_list docstring)."""
    return F.when(
        F.size(grams) > 0,
        F.lit(1.0)
        - F.size(F.array_distinct(grams)).cast("double")
        / F.size(grams).cast("double"),
    ).otherwise(F.lit(0.0))


def top_fraction_of(grams: Column) -> Column:
    """Fraction of grams claimed by the single most frequent one:
    max multiplicity = longest equal run after array_sort, O(n log n)
    doc-local work, never a shuffle."""
    return F.when(
        F.size(grams) > 0,
        _max_run_length(F.array_sort(grams)).cast("double")
        / F.size(grams).cast("double"),
    ).otherwise(F.lit(0.0))


# GPT-2-style pretokenizer shape: optional leading space + letter
# run | digit run | punctuation run (ASCII subset — portable across
# Java regex and RE2)
BPE_PATTERN = r" ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+"


def bpe_tokens(col: str | Column = "text") -> Column:
    """BPE-ish pretokenization via regex (the standard LLM token-count
    estimator when the real tokenizer isn't on the cluster)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_PATTERN), 0)


def bpe_token_count(col: str | Column = "text") -> Column:
    return F.size(bpe_tokens(col))


def fingerprint(col: str | Column = "text", bits: int = 60) -> Column:
    """Deterministic 60-bit content fingerprint.

    md5 of the token-normalized text, top 15 hex chars → BIGINT.
    Engine-portable (md5 is standardized; Spark `conv` ≡ DuckDB hex
    cast), collision-safe enough for dedup grouping at 100 TB
    (2^60 space; for stronger guarantees keep the full md5 string).
    """
    norm = F.array_join(tokens(col), " ")
    return F.conv(F.substring(F.md5(norm), 1, 15), 16, 10).cast("bigint")
