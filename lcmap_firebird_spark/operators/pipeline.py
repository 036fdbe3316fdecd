"""Training-corpus preparation operators beyond dedup/quality: PII
redaction and benchmark-contamination detection. All pure DataFrame
plans — column expressions stay in whole-stage codegen, the only
shuffle is the explicitly keyed one.

No reference analog (the reference is a raster pipeline); these are
the text-side operators a 100 TB training-data pipeline needs next
to the dedup ladder (operators/dedup.py) and quality gates
(operators/text.py, plans/corpus.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


# --- PII redaction ----------------------------------------------------------

# Order matters: longer/more-specific patterns first so e.g. an email
# isn't partially eaten by the phone pattern.
PII_PATTERNS: tuple[tuple[str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b"),
    ("phone", r"(\+?\d{1,2}[\s.-])?\(?\d{3}\)?[\s.-]\d{3}[\s.-]\d{4}\b"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b"),
    ("cc", r"\b\d{4}[\s-]\d{4}[\s-]\d{4}[\s-]\d{4}\b"),
)


def redact_pii(
    col: str | Column = "text",
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> Column:
    """Replace PII spans with `[TYPE]` sentinels — a chained
    `regexp_replace`, fully codegen (zero Python in the scan). The
    default patterns cover emails, SSNs, phones, IPv4s and spaced
    credit-card numbers; callers extend/override per policy."""
    c = F.col(col) if isinstance(col, str) else col
    for name, pat in patterns:
        c = F.regexp_replace(c, pat, f"[{name.upper()}]")
    return c


# --- benchmark contamination ------------------------------------------------


def contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark-contamination report: corpus documents sharing ≥
    `min_hits` distinct n-gram shingles with any benchmark item.

    Plan: the BENCHMARK side (small — eval sets are thousands of
    items) explodes to distinct shingles and broadcasts; the corpus
    explodes map-side and hash-joins against it, then one groupBy
    counts hits per (doc, benchmark item). The corpus is scanned
    once, never shuffled on raw text — only matching (doc_id,
    bench_id, shingle-hit) triples reach the aggregation, which at a
    sane n (8-13 tokens) is a vanishing fraction of the corpus.
    Decontamination = left_anti join the report back on doc_id.
    Shingles travel as 60-bit fingerprints on BOTH sides (the dedup
    ladder discipline): the broadcast ships 8-byte bigints instead of
    raw ~50-byte shingle strings (~6x smaller hash relation), at the
    ladder's accepted ~2^-60 per-pair collision overcount.
    """
    from .dedup import hash60, shingles, spread

    bench = (
        benchmark.select(
            F.col(bench_id_col).alias("bench_id"),
            F.explode(shingles(bench_text_col, n)).alias("_s"),
        )
        .select("bench_id", hash60(F.col("_s")).alias("fp"))
        .distinct()
    )
    corp = (
        spread(corpus, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(shingles(text_col, n)).alias("_s"),
        )
        .select("doc_id", hash60(F.col("_s")).alias("fp"))
    )
    return (
        corp.join(F.broadcast(bench), "fp")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_hits)
    )


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_id_col: str = "doc_id",
    bench_text_col: str = "text",
) -> DataFrame:
    """Corpus minus contaminated documents (left_anti on the
    contamination report). Benchmark column names pass through —
    eval sets rarely share the corpus's (doc_id, text) shape."""
    hits = contamination(
        corpus, benchmark, n=n, min_hits=min_hits,
        id_col=id_col, text_col=text_col,
        bench_id_col=bench_id_col, bench_text_col=bench_text_col,
    ).select("doc_id").distinct()
    return corpus.join(hits, corpus[id_col] == hits["doc_id"], "left_anti")
