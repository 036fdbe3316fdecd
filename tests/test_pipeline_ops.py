"""Chunking, PII redaction, and contamination-detection invariants."""

from __future__ import annotations

from pyspark.sql import functions as F

from lcmap_firebird_spark.catalog import read_table
from lcmap_firebird_spark.operators import pipeline as P
from lcmap_firebird_spark.operators.text import tokens


def test_chunking_reconstructs_documents(spark, sf_dir):
    """No overlap: concatenating a doc's chunks in chunk_id order
    reproduces its token stream exactly; every chunk except the last
    is full-size."""
    docs = read_table(spark, "documents", sf_dir)
    chunks = P.chunk_documents(docs, chunk_tokens=32, overlap=0)
    rebuilt = (
        chunks.groupBy("doc_id")
        .agg(
            F.array_join(
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("chunk_id", "chunk"))
                        ),
                        lambda s: F.split(s["chunk"], " "),
                    )
                ),
                " ",
            ).alias("joined"),
            F.max("chunk_id").alias("last_id"),
            F.count("*").alias("n_chunks"),
        )
    )
    orig = docs.select(
        "doc_id", F.array_join(tokens("text"), " ").alias("orig")
    )
    diff = rebuilt.join(orig, "doc_id").filter(
        F.col("joined") != F.col("orig")
    )
    assert diff.count() == 0
    assert rebuilt.filter(F.col("n_chunks") != F.col("last_id") + 1).count() == 0
    # all non-final chunks are exactly chunk_tokens long
    bad = (
        chunks.join(rebuilt.select("doc_id", "last_id"), "doc_id")
        .filter(
            (F.col("chunk_id") < F.col("last_id"))
            & (F.col("n_tokens") != 32)
        )
        .count()
    )
    assert bad == 0


def test_chunking_overlap_windows(spark, sf_dir):
    """With overlap o, window k starts at k*(size-o): consecutive
    chunks share exactly o tokens (until the tail)."""
    docs = read_table(spark, "documents", sf_dir).limit(50)
    chunks = P.chunk_documents(docs, chunk_tokens=16, overlap=4).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r.chunk.split(" ")
    shared = 0
    for parts in by_doc.values():
        for k in range(len(parts) - 1):
            if len(parts[k]) == 16 and len(parts[k + 1]) >= 4:
                assert parts[k][-4:] == parts[k + 1][:4]
                shared += 1
    assert shared > 0


def test_pii_redaction_and_counts(spark):
    rows = [
        (1, "mail me at alice@example.com or call 555-123-4567 now"),
        (2, "ssn 123-45-6789 ip 10.0.0.1 card 4111 1111 1111 1111"),
        (3, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = df.select(
        "doc_id",
        P.redact_pii("text").alias("clean"),
        P.pii_counts("text").alias("hits"),
    ).collect()
    by_id = {r.doc_id: r for r in out}
    assert "[EMAIL]" in by_id[1].clean and "alice@" not in by_id[1].clean
    assert "[PHONE]" in by_id[1].clean
    assert "[SSN]" in by_id[2].clean and "[IPV4]" in by_id[2].clean
    assert "[CC]" in by_id[2].clean
    assert by_id[3].clean == "nothing sensitive here"
    assert by_id[1].hits["email"] == 1 and by_id[2].hits["ssn"] == 1
    assert sum(by_id[3].hits.values()) == 0


def test_contamination_detects_verbatim_inclusion(spark, sf_dir):
    """A benchmark item copied verbatim from a corpus doc is flagged;
    decontaminate removes exactly the flagged docs."""
    docs = read_table(spark, "documents", sf_dir)
    # benchmark: verbatim texts of 5 corpus docs + 1 novel item
    bench = docs.filter(F.col("doc_id").isin([3, 7, 11, 19, 23])).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    ).unionByName(
        spark.createDataFrame(
            [(9999, "completely novel benchmark question nobody wrote " * 3)],
            "doc_id long, text string",
        )
    )
    report = P.contamination(docs, bench, n=8, min_hits=1)
    flagged = {r.doc_id for r in report.select("doc_id").distinct().collect()}
    # the 5 sources are flagged (copies of them may legitimately be too)
    assert {3, 7, 11, 19, 23} <= flagged
    clean = P.decontaminate(docs, bench, n=8, min_hits=1)
    assert clean.count() == docs.count() - len(flagged)
    assert clean.filter(F.col("doc_id").isin(list(flagged))).count() == 0

def test_contamination_fraction_matches_python(spark, sf_dir):
    docs = read_table(spark, "documents", sf_dir).limit(60)
    bench = docs.filter(F.col("doc_id").isin([3, 7])).select(
        (F.col("doc_id") + 1000).alias("doc_id"), "text"
    )
    got = {
        r.doc_id: (r.n_shingles, r.n_shared, r.frac)
        for r in P.contamination_fraction(docs, bench, n=8).collect()
    }

    def sh(text, n=8):
        t = [w for w in text.split() if w]
        return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}

    bset = set()
    for r in bench.collect():
        bset |= sh(r["text"])
    for r in docs.collect():
        s = sh(r["text"])
        n_sh, n_hit = len(s), len(s & bset)
        want_frac = (n_hit / n_sh) if n_sh else 0.0
        gn, gh, gf = got[r["doc_id"]]
        assert (gn, gh) == (n_sh, n_hit)
        assert gf == want_frac
    # verbatim sources score frac 1.0; graded decontamination at a
    # high threshold drops exactly them
    assert got[3][2] == 1.0 and got[7][2] == 1.0
    clean = P.decontaminate_fraction(docs, bench, max_fraction=0.7, n=8)
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    dropped = {i for i, (_, _, f) in got.items() if f > 0.7}
    assert kept == set(got) - dropped


def test_dedupe_segments_lines_and_paragraphs(spark):
    docs = spark.createDataFrame(
        [
            (1, "a\nb\na\nc\nb\nd"),
            (2, "x\nx\nx"),
            (3, "only one line"),
            (4, "p1 text\n\np2 text\n\np1 text"),
        ],
        "doc_id long, text string",
    )
    lines = {
        r.doc_id: r.text
        for r in P.dedupe_segments(docs, sep="\n").collect()
    }
    assert lines[1] == "a\nb\nc\nd"  # first occurrences, order kept
    assert lines[2] == "x"
    assert lines[3] == "only one line"
    paras = {
        r.doc_id: r.text
        for r in P.dedupe_segments(docs, sep="\n\n").collect()
    }
    assert paras[4] == "p1 text\n\np2 text"
    assert paras[1] == docs.filter("doc_id=1").first().text  # no \n\n
    # pure codegen
    plan = (
        P.dedupe_segments(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan


def test_sequence_packing_conserves_and_bounds(spark, sf_dir):
    """Every chunk lands in exactly one pack, no pack exceeds
    seq_len (chunks are <= chunk_tokens <= seq_len here), fill is
    efficient, and the assignment is deterministic across runs."""
    docs = read_table(spark, "documents", sf_dir)
    chunks = P.chunk_documents(docs, chunk_tokens=32, overlap=0)
    packs = P.pack_sequences(chunks, seq_len=128, partitions=4)

    rows = packs.collect()
    total_chunks = chunks.count()
    total_tokens = chunks.agg(F.sum("n_tokens")).first()[0]
    assert sum(r.n_chunks for r in rows) == total_chunks
    assert sum(r.n_tokens for r in rows) == total_tokens
    assert all(r.n_tokens <= 128 for r in rows)
    members = [m for r in rows for m in r.members]
    assert len(members) == len(set(members)) == total_chunks
    # greedy fill: average pack occupancy well above half
    assert sum(r.n_tokens for r in rows) / (128 * len(rows)) > 0.5
    # deterministic: identical assignment on a fresh plan
    again = sorted(
        (r.pack_id, tuple(r.members))
        for r in P.pack_sequences(chunks, seq_len=128, partitions=4).collect()
    )
    assert again == sorted((r.pack_id, tuple(r.members)) for r in rows)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n_tokens=st.lists(st.integers(0, 37), min_size=1, max_size=6),
    chunk_tokens=st.integers(2, 12),
    overlap_frac=st.floats(0.0, 0.9),
)
def test_chunking_matches_python_model(spark, n_tokens, chunk_tokens, overlap_frac):
    """Random documents: Spark chunking equals the obvious sequential
    model — windows every chunk_tokens-overlap, stopping at the
    FIRST window that reaches the document end (no redundant tail
    windows fully contained in an earlier chunk), empty docs yield
    one empty chunk."""
    import math

    overlap = min(int(chunk_tokens * overlap_frac), chunk_tokens - 1)
    stride = chunk_tokens - overlap
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)))
        for i, n in enumerate(n_tokens)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.chunk_id): r.chunk.split(" ") if r.chunk else []
        for r in P.chunk_documents(df, chunk_tokens, overlap).collect()
    }
    want = {}
    for i, n in enumerate(n_tokens):
        toks = [f"w{i}x{j}" for j in range(n)]
        last = max(0, math.ceil((n - chunk_tokens) / stride)) * stride
        for cid, s in enumerate(range(0, last + 1, stride)):
            want[(i, cid)] = toks[s : s + chunk_tokens]
    assert got == want


def test_chunking_overlap_no_redundant_tails_and_null_text(spark):
    from lcmap_firebird_spark.operators import pipeline as P2

    df = spark.createDataFrame(
        [(1, " ".join(f"t{j}" for j in range(10))), (2, None)],
        "doc_id long, text string",
    )
    out = P2.chunk_documents(df, chunk_tokens=8, overlap=6).collect()
    one = sorted(
        (r.chunk_id, r.chunk) for r in out if r.doc_id == 1
    )
    # minimal cover: [t0..t7], [t2..t9] — the old formula emitted
    # three more chunks that were strict suffixes of the first
    assert one == [
        (0, " ".join(f"t{j}" for j in range(8))),
        (1, " ".join(f"t{j}" for j in range(2, 10))),
    ]
    # NULL text: one empty chunk with n_tokens=0 (not NULL), so
    # pack_sequences survives it
    null_rows = [r for r in out if r.doc_id == 2]
    assert len(null_rows) == 1 and null_rows[0].n_tokens == 0
    packed = P2.pack_sequences(
        spark.createDataFrame(out), seq_len=16
    )
    assert packed.count() >= 1


def test_token_budget_sample_with_domain_column(spark):
    """A frame already carrying a 'domain' column used to crash the
    threshold join with AMBIGUOUS_REFERENCE."""
    from lcmap_firebird_spark.operators.mixture import token_budget_sample

    df = spark.createDataFrame(
        [(i, "domain", "w " * 50) for i in range(20)],
        "doc_id long, domain string, text string",
    )
    out = token_budget_sample(
        df, {"domain": 500}, domain_col="domain"
    )
    assert 0 < out.count() <= 20
    assert out.columns == df.columns


def test_manifest_checksum_sees_multiplicity(spark):
    """bit-XOR of raw fingerprints self-cancels even multiplicities
    (routine under mixture upsampling); the occurrence-indexed
    checksum distinguishes which doc was duplicated."""
    from lcmap_firebird_spark.plans.corpus import corpus_manifest

    a = spark.createDataFrame(
        [("train", "A A"), ("train", "A A"), ("train", "B")],
        "split string, text string",
    )
    b = spark.createDataFrame(
        [("train", "A A"), ("train", "B"), ("train", "B")],
        "split string, text string",
    )
    ma, mb = corpus_manifest(a), corpus_manifest(b)
    assert ma["n_docs"] == mb["n_docs"]
    assert ma["checksum"] != mb["checksum"]
    # identical corpus, different layout -> identical checksum
    ma2 = corpus_manifest(a.repartition(7))
    assert ma2["checksum"] == ma["checksum"]


# --- r7 review regressions ---------------------------------------------------


def test_dedupe_segments_preserves_blank_line_structure(spark):
    from lcmap_firebird_spark.operators.pipeline import dedupe_segments

    df = spark.createDataFrame(
        [(1, "a\n\nb\n\nc"), (2, "x\nx\n\ny\n\nx")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.text for r in dedupe_segments(df).collect()}
    # blank lines are structure, not repeated content — both survive
    assert got[1] == "a\n\nb\n\nc"
    # repeated non-empty lines still dedupe to first occurrence
    assert got[2] == "x\n\ny\n"


def test_dedupe_segments_metachar_separator_is_literal(spark):
    from lcmap_firebird_spark.operators.pipeline import dedupe_segments

    df = spark.createDataFrame(
        [(1, "one. two. one. three")], "doc_id long, text string"
    )
    got = dedupe_segments(df, sep=". ").collect()[0].text
    # '.' must not act as regex any-char: segments are sentences and
    # the repeated 'one' drops once
    assert got == "one. two. three"


def test_chunk_documents_rejects_negative_overlap(spark):
    import pytest as _pytest

    from lcmap_firebird_spark.operators.pipeline import chunk_documents

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="overlap"):
        chunk_documents(df, chunk_tokens=8, overlap=-4)


def test_pii_counts_null_text_and_overlapping_spans(spark):
    from pyspark.sql import functions as F

    from lcmap_firebird_spark.operators.pipeline import pii_counts

    df = spark.createDataFrame(
        [
            (1, None),
            (2, "mail me at john.555-123-4567@mail.com today"),
            (3, "call 555-123-4567"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.hits for r in df.select(
        "doc_id", pii_counts("text").alias("hits")
    ).collect()}
    # NULL text audits as zeros, never NULL map values
    assert got[1] == {"email": 0, "ssn": 0, "phone": 0, "ipv4": 0, "cc": 0}
    # the email span is consumed ONCE: no phantom phone count from
    # the digits inside the redacted email
    assert got[2]["email"] == 1 and got[2]["phone"] == 0
    assert got[3]["phone"] == 1


def test_pack_sequences_oversized_chunk_policy(spark):
    import pytest as _pytest

    from lcmap_firebird_spark.operators.pipeline import pack_sequences

    chunks = spark.createDataFrame(
        [(1, 0, 300, "big"), (2, 0, 10, "small")],
        "doc_id long, chunk_id long, n_tokens long, chunk string",
    )
    with _pytest.raises(Exception, match="seq_len"):
        pack_sequences(chunks, seq_len=256, partitions=1).collect()
    solo = pack_sequences(
        chunks, seq_len=256, partitions=1, oversized="solo"
    ).collect()
    sizes = sorted(r.n_tokens for r in solo)
    assert sizes == [10, 300]  # over-length pack emitted, flagged by size


def test_decontaminate_passes_benchmark_column_names(spark):
    from lcmap_firebird_spark.operators.pipeline import (
        contamination_fraction,
        decontaminate,
    )

    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again"),
            (2, "completely unrelated corpus text with many words here"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(7, "the quick brown fox jumps over the lazy dog")],
        "qid long, question string",
    )
    kept = decontaminate(
        corpus, bench, bench_id_col="qid", bench_text_col="question"
    )
    assert [r.doc_id for r in kept.collect()] == [2]
    fr = {
        r.doc_id: r.frac
        for r in contamination_fraction(
            corpus, bench, bench_text_col="question"
        ).collect()
    }
    assert fr[1] > 0.5 and fr[2] == 0.0


def test_contamination_fraction_single_pass_keeps_short_docs(spark):
    from lcmap_firebird_spark.operators.pipeline import contamination_fraction

    corpus = spark.createDataFrame(
        [(1, "too short"), (2, None),
         (3, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(9, "the quick brown fox jumps over the lazy dog")],
        "doc_id long, text string",
    )
    got = {r.doc_id: (r.n_shingles, r.n_shared, r.frac)
           for r in contamination_fraction(corpus, bench).collect()}
    assert got[1] == (0, 0, 0.0) and got[2] == (0, 0, 0.0)
    assert got[3][0] > 0 and got[3][2] == 1.0
