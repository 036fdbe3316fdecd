"""Training-corpus preparation operators beyond dedup/quality:
document chunking, PII redaction, and benchmark-contamination
detection. All pure DataFrame plans — column expressions stay in
whole-stage codegen, the only shuffles are the explicitly keyed ones.

No reference analog (the reference is a raster pipeline); these are
the text-side operators a 100 TB training-data pipeline needs next
to the dedup ladder (operators/dedup.py) and quality gates
(operators/text.py, plans/corpus.py).
"""

from __future__ import annotations

import sys

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..worker import drop_zip_finders
from .text import tokens


# --- document chunking ------------------------------------------------------


def chunk_documents(
    df: DataFrame,
    chunk_tokens: int = 512,
    overlap: int = 0,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token windows with optional overlap
    — the context-window shaping step before tokenization at scale.

    Output: (doc_id, chunk_id, n_tokens, chunk) — chunk_id is the
    0-based window index, windows start every (chunk_tokens − overlap)
    tokens, the final window keeps the tail (may be short). One
    map-side pass per row: tokenize once (staged column), build the
    window starts with `sequence`, slice per start, posexplode. No
    shuffle at all — chunking is embarrassingly parallel, and at
    100 TB the plan is scan → project → explode with the original
    file parallelism.
    """
    if not 0 <= overlap < chunk_tokens:
        # negative overlap passed the old guard and silently DROPPED
        # tokens (stride > chunk_tokens leaves inter-window gaps no
        # chunk covers — the reconstruct-the-stream invariant broke
        # with no error)
        raise ValueError("overlap must satisfy 0 <= overlap < chunk_tokens")
    stride = chunk_tokens - overlap
    staged = df.select(
        F.col(id_col).alias("doc_id"),
        # NULL text tokenizes to NULL; coalesce to the empty array so
        # such docs yield one empty chunk (n_tokens=0) instead of a
        # NULL row that crashes downstream packing
        F.coalesce(
            tokens(text_col), F.array().cast("array<string>")
        ).alias("_toks"),
    )
    starts = F.sequence(
        F.lit(0),
        # last window start: the SMALLEST stride multiple whose
        # window reaches the document end. The previous formula
        # (largest multiple < n_tokens) kept emitting starts after a
        # window already covered the tail, so with overlap > 0 the
        # final chunks were strict suffixes of an earlier chunk —
        # duplicated training text, up to (chunk_tokens/stride - 1)
        # copies per doc.
        F.greatest(
            F.lit(0),
            F.ceil(
                (F.size("_toks") - F.lit(chunk_tokens)) / F.lit(stride)
            ).cast("int")
            * F.lit(stride),
        ),
        F.lit(stride),
    )
    return staged.select(
        "doc_id",
        F.posexplode(
            F.transform(
                starts, lambda s: F.slice("_toks", s + 1, chunk_tokens)
            )
        ).alias("chunk_id", "_ctoks"),
    ).select(
        "doc_id",
        "chunk_id",
        F.size("_ctoks").alias("n_tokens"),
        F.array_join("_ctoks", " ").alias("chunk"),
    )


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


def pii_counts(
    col: str | Column = "text",
    patterns: tuple[tuple[str, str], ...] = PII_PATTERNS,
) -> Column:
    """map<type, hits> of PII matches per document — the audit
    column written next to redacted text so policy reviews don't
    re-scan the corpus.

    Counts what redact_pii actually redacts: pattern i is counted on
    the text with patterns < i already replaced (counting every
    pattern on the RAW text double-counted overlapping spans — an
    email whose local part embeds a phone-shaped string reported
    email=1 AND phone=1 while redaction consumed the whole span
    once). NULL text audits as all-zeros, matching the module's
    NULL-text discipline (a NULL map value crashes consumers doing
    arithmetic on the audit)."""
    c = F.coalesce(
        F.col(col) if isinstance(col, str) else col, F.lit("")
    )
    counts = []
    for name, pat in patterns:
        counts.append(F.size(F.regexp_extract_all(c, F.lit(pat), 0)))
        c = F.regexp_replace(c, pat, f"[{name.upper()}]")
    return F.map_from_arrays(
        F.array(*[F.lit(n) for n, _ in patterns]),
        F.array(*counts),
    )


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


def contamination_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Per-document overlap FRACTION: distinct n-gram shingles shared
    with the benchmark / distinct shingles in the doc — the graded
    contamination metric the GPT-3/PaLM appendices use (a quote-level
    hit shouldn't kill a long document the way `min_hits=1` boolean
    decontamination does; threshold the fraction instead).

    Output: (doc_id, n_shingles, n_shared, frac). Shingles shuffle as
    60-bit fingerprints (dedup.py discipline — never raw text); the
    benchmark side collapses to one distinct-fingerprint frame and
    broadcasts. Docs with fewer than n tokens have no shingles and
    report frac 0 over 0 shingles. 60-bit collisions are ~2^-60 per
    pair — a vanishing overcount, same trade the dedup ladder makes.
    """
    from .dedup import hash60, shingles, spread

    bench = (
        benchmark.select(
            F.explode(shingles(bench_text_col, n)).alias("_s")
        )
        .select(hash60(F.col("_s")).alias("fp"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # explode_outer keeps zero-shingle docs (short/NULL text) as one
    # NULL row, so ONE corpus scan covers everyone — the previous
    # shape paid a second full scan + distinct shuffle + join just to
    # restore those docs (ids frame), an extra corpus pass at 100 TB
    corp = (
        spread(corpus, id_col)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode_outer(shingles(text_col, n)).alias("_s"),
        )
        .select("doc_id", hash60(F.col("_s")).alias("fp"))
        .distinct()
    )
    return (
        corp.join(F.broadcast(bench), "fp", "left")
        .groupBy("doc_id")
        .agg(
            # count(fp) skips the NULL placeholder row: a
            # zero-shingle doc reports (0, 0, 0.0)
            F.count("fp").alias("n_shingles"),
            F.count("_hit").alias("n_shared"),
        )
        .select(
            "doc_id",
            "n_shingles",
            "n_shared",
            F.when(
                F.col("n_shingles") > 0,
                F.col("n_shared") / F.col("n_shingles"),
            )
            .otherwise(0.0)
            .alias("frac"),
        )
    )


def decontaminate_fraction(
    corpus: DataFrame,
    benchmark: DataFrame,
    max_fraction: float,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Drop docs whose benchmark-overlap fraction EXCEEDS
    max_fraction (graded sibling of `decontaminate`)."""
    bad = contamination_fraction(
        corpus, benchmark, n=n, id_col=id_col, text_col=text_col,
        bench_text_col=bench_text_col,
    ).filter(F.col("frac") > float(max_fraction)).select("doc_id")
    return corpus.join(
        bad, corpus[id_col] == bad["doc_id"], "left_anti"
    )


def dedupe_segments(
    df: DataFrame,
    text_col: str = "text",
    sep: str = "\n",
    out_col: str | None = None,
) -> DataFrame:
    """Within-document repetition removal (the Gopher rule family:
    drop duplicate lines/paragraphs inside one doc, keeping the first
    occurrence in order). `sep='\\n'` dedupes lines, `'\\n\\n'`
    paragraphs. Pure codegen: split → keep element i iff its first
    occurrence index is i (array_position is 1-based) → rejoin.

    The segment array is STAGED in its own projection before the
    filter lambda references it — referencing the split() expression
    inside the HOF lambda would re-split the text per element
    (PLANS.md rule 14). The remaining per-doc cost is
    O(segments²) worst-case scans inside one row — row-local, no
    shuffle, fine for real document line counts.

    Two review-hardened edges (r7): EMPTY segments are exempt from
    the first-occurrence rule — they are separators' structure
    (blank lines between paragraphs), not repeated content, and
    deduping them silently collapsed every second blank line; and
    `sep` is quoted as a LITERAL for the split (F.split takes a Java
    regex — an unquoted '. ' separator would split on any-char and
    garble the rejoin)."""
    out_col = out_col or text_col
    if "\\E" in sep:
        raise ValueError(r"separator may not contain \E (Java \Q..\E quoting)")
    staged = df.withColumn(
        "_segs", F.split(F.col(text_col), "\\Q" + sep + "\\E")
    )
    deduped = F.array_join(
        F.filter(
            F.col("_segs"),
            lambda x, i: (x == F.lit(""))
            | (F.array_position(F.col("_segs"), x) == i + 1),
        ),
        sep,
    )
    return staged.withColumn(out_col, deduped).drop("_segs")


# --- sequence packing -------------------------------------------------------


def pack_sequences(
    chunks: DataFrame,
    seq_len: int = 2048,
    partitions: int | None = None,
    oversized: str = "error",
) -> DataFrame:
    """Greedy bin-packing of chunks into fixed-length training
    sequences ("sample packing"): consecutive chunks accumulate into
    a pack until the next one would overflow `seq_len`.

    Input follows chunk_documents' contract (doc_id, chunk_id,
    n_tokens, chunk). Output: (pack_id, n_chunks, n_tokens, members)
    with members = 'doc:chunk' strings in pack order; chunk_id never
    contains ':' (it is chunk_documents' integer window index), so a
    string doc_id containing ':' splits back unambiguously with
    rsplit(':', 1).

    A single chunk with n_tokens > seq_len cannot fit ANY pack:
    `oversized='error'` (default) fails the job loudly — a silent
    over-length pack overflows downstream fixed-context sequence
    builders; `oversized='solo'` opts into emitting it as its own
    over-length pack for callers that truncate later.

    Packing is inherently sequential, so it runs per partition as an
    Arrow-batched mapInPandas kernel: rows are hash-distributed by
    doc_id then sorted within the partition — deterministic given the
    partition count (pinned, not AQE-coalesced: the assignment is
    part of the result), and embarrassingly parallel across
    partitions. pack_id = partition_id·2³² + local index, unique and
    reproducible. Fill efficiency loses only the per-partition tail
    vs a global sequential pack — at 100 TB a global pack would
    serialize the corpus through one task for a <1% fill gain.
    """
    import pandas as pd
    from pyspark.sql.types import (
        ArrayType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if oversized not in ("error", "solo"):
        raise ValueError("oversized must be 'error' or 'solo'")
    if partitions is None:
        partitions = chunks.sparkSession.sparkContext.defaultParallelism
    out_schema = StructType(
        [
            StructField("pack_id", LongType()),
            StructField("n_chunks", LongType()),
            StructField("n_tokens", LongType()),
            StructField("members", ArrayType(StringType())),
        ]
    )

    def kernel(batches):
        drop_zip_finders()
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        next_id = pid << 32
        cur_tok, cur_members = 0, []
        for pdf in batches:
            rows_out = []
            for doc_id, chunk_id, n_tok in zip(
                pdf["doc_id"], pdf["chunk_id"], pdf["n_tokens"]
            ):
                n_tok = 0 if pd.isna(n_tok) else int(n_tok)
                if n_tok > seq_len and oversized == "error":
                    raise ValueError(
                        f"chunk {doc_id}:{chunk_id} has {n_tok} tokens"
                        f" > seq_len={seq_len}; re-chunk with"
                        " chunk_tokens <= seq_len or pass"
                        " oversized='solo'"
                    )
                if cur_members and cur_tok + n_tok > seq_len:
                    rows_out.append(
                        (next_id, len(cur_members), cur_tok, cur_members)
                    )
                    next_id += 1
                    cur_tok, cur_members = 0, []
                cur_tok += n_tok
                cur_members = cur_members + [f"{doc_id}:{chunk_id}"]
            if rows_out:
                yield pd.DataFrame(
                    rows_out,
                    columns=["pack_id", "n_chunks", "n_tokens", "members"],
                )
        if cur_members:
            yield pd.DataFrame(
                [(next_id, len(cur_members), cur_tok, cur_members)],
                columns=["pack_id", "n_chunks", "n_tokens", "members"],
            )

    return (
        chunks.select("doc_id", "chunk_id", "n_tokens")
        .repartition(partitions, "doc_id")
        .sortWithinPartitions("doc_id", "chunk_id")
        .mapInPandas(kernel, out_schema)
    )


# keep the foreign-cwd pickling contract uniform (CLAUDE.md inv. 2)
import pyspark  # noqa: E402

pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])
