"""Incremental dedup — the standing-corpus pattern at 100 TB.

Batch dedup recomputes signatures for the whole corpus on every run;
at 100 TB that is a full scan per ingest. The production shape is a
*persisted signature store*: MinHash signatures + content fingerprint
computed once per document, written to a partitioned table, and each
incoming batch

  1. computes signatures for the NEW documents only,
  2. MERGEs them into the store (anti-join upsert — same semantics as
     `operators/relational.upsert`, applied to a table on disk), and
  3. finds near-dup pairs touching the batch by band-bucket equi-join
     of the batch's bands against the store's bands — cost scales
     with |batch| · bucket-occupancy, never with the corpus.

Signatures here are deterministic md5-derived integers (see
operators/dedup.py), which is exactly what makes the store valid
across runs: yesterday's signatures never go stale.

Invariant (tested in tests/test_incremental_dedup.py): running the
store through N batch merges yields byte-identical pairs to the
one-shot batch pipeline over the union — incremental is an execution
strategy, not a different answer.

The store layout bucketizes on doc_id so the MERGE anti-join and the
membership joins are shuffle-free on the store side once both sides
are bucketed (`tests/test_bucketing.py` proves the no-Exchange plan
for this layout).
"""

from __future__ import annotations

import sys

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import band_keys, jaccard_pairs, minhash_signature
from .text import fingerprint


def signature_table(
    df: DataFrame,
    num_perm: int = 16,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document dedup state: content fingerprint + MinHash
    signature + shingle count. One explode + one groupBy (single
    shuffle); the output is ~150 bytes/doc regardless of text size —
    the thing that makes persisting it at corpus scale cheap."""
    # the shingle count rides the MinHash groupBy, so the shingle
    # explode has one consumer and needs no checkpoint
    sig = minhash_signature(df, id_col, text_col, num_perm, k)
    fp = df.select(
        F.col(id_col).alias("doc_id"), fingerprint(text_col).alias("fp")
    )
    # left joins: docs shorter than k tokens have no shingles — they
    # still belong in the store (fingerprint-only dedup applies)
    return fp.join(sig, "doc_id", "left")


def write_signature_store(
    table: DataFrame, table_name: str = "sig_store", num_buckets: int = 8
) -> None:
    """Persist the signature table bucketed by doc_id: MERGE's
    anti-join and pair-expansion joins then co-locate without a
    shuffle on the (large) store side (`catalog.write_bucketed`;
    no-Exchange property proven in tests/test_bucketing.py)."""
    from ..catalog import write_bucketed

    write_bucketed(table, table_name, ("doc_id",), num_buckets, ("doc_id",))


def merge_batch(
    store: DataFrame, batch_sigs: DataFrame
) -> DataFrame:
    """Upsert batch signatures into the store: batch rows win on
    doc_id collision (re-ingested documents refresh their state).
    Anti-join + union — the MERGE core of `relational.upsert`, here
    over signature state instead of fact rows.

    REFRESH CAVEAT: replacing a doc's signature updates all FUTURE
    pairing, but pairs already accumulated for the doc's OLD content
    are not retracted by anything here — the union-of-batches
    equivalence below holds for append-only ingests (disjoint
    doc_ids). A consumer that re-ingests changed content must drop
    accumulated pairs touching the refreshed doc_ids (one anti-join
    over the pair log) before unioning the new batch's pairs."""
    keep = store.join(batch_sigs.select("doc_id"), "doc_id", "left_anti")
    return keep.unionByName(batch_sigs)


def incremental_pairs(
    df_all: DataFrame,
    store: DataFrame,
    batch: DataFrame,
    threshold: float = 0.5,
    num_perm: int = 16,
    bands: int = 4,
    rows: int = 4,
    k: int = 3,
    batch_sigs: DataFrame | None = None,
    include_fp_exact: bool = False,
) -> DataFrame:
    """Near-dup pairs TOUCHING the batch: batch×store ∪ batch×batch.

    The store never re-hashes: its banded keys are a projection of
    persisted signature columns, while only the batch pays the
    shingle+signature cost. Candidates come from ONE equi-join —
    broadcast(batch bands) ⋈ merged-store bands — so the corpus side
    never shuffles at all; cost is a store scan of ~150-byte rows,
    and with the store bucketed/partitioned by band in production the
    scan prunes to the batch's buckets. Verification re-reads text
    for candidate docs only (`df_all` is the text source), identical
    to the batch ladder's candidates-before-quadratics ordering.

    Full-corpus pairs = pairs(previous corpus) ∪ incremental_pairs
    (new batch) — the union over successive batches reproduces the
    one-shot pipeline exactly (deterministic signatures ⇒ identical
    candidacy and scores), for APPEND-ONLY ingests and under the
    uncapped candidate semantics (lsh_candidates' max_bucket=None):
    the batch-mode hot-bucket cell split is sized from the final
    corpus's bucket occupancy, which no incremental run can know, so
    a capped one-shot may drop cross-cell pairs this path emits —
    the cap is a batch-mode scale valve, not part of the answer.
    Tested in tests/test_incremental_dedup.py.

    `batch_sigs` passes a precomputed (cached) signature table for the
    batch so callers that also MERGE it into the store — the streaming
    runner in streaming/dedup_stream.py — compute signatures once.

    `include_fp_exact=True` additionally emits byte-identical pairs
    among docs TOO SHORT to shingle (no signature, so no band can
    ever catch them) via the store's content fingerprint, as
    (doc_a, doc_b, n_common=0, jaccard=1.0) rows. Off by default:
    the one-shot PAIR pipeline shares the blind spot (its exact
    coverage lives in the ladder's exact rung), and the invariant
    above is pinned against it.
    """
    if batch_sigs is None:
        # two consumers (store merge + band projection) launch in
        # concurrent stages; eager materialization runs the shingle +
        # signature pipeline exactly once (PLANS.md rule 15)
        batch_sigs = signature_table(batch, num_perm, k).localCheckpoint(
            eager=True
        )
    merged = merge_batch(store, batch_sigs)
    sig_cols = [f"h{p}" for p in range(num_perm)]
    merged_sigs = merged.filter(F.col(sig_cols[0]).isNotNull()).select(
        "doc_id", *sig_cols
    )
    batch_bands = band_keys(
        batch_sigs.filter(F.col(sig_cols[0]).isNotNull()).select(
            "doc_id", *sig_cols
        ),
        bands,
        rows,
    )
    store_bands = band_keys(merged_sigs, bands, rows)
    touching = (
        F.broadcast(batch_bands.alias("n"))
        .join(
            store_bands.alias("s"),
            (F.col("n.band_id") == F.col("s.band_id"))
            & (F.col("n.band_key") == F.col("s.band_key"))
            & (F.col("n.doc_id") != F.col("s.doc_id")),
        )
        .select(
            F.least("n.doc_id", "s.doc_id").alias("doc_a"),
            F.greatest("n.doc_id", "s.doc_id").alias("doc_b"),
        )
        .distinct()
        # two consumers now (candidate-id projection + verification):
        # materialize once (PLANS.md rule 15)
        .localCheckpoint(eager=True)
    )
    # verification re-shingles ONLY the candidate docs: feeding the
    # whole df_all would re-tokenize and eagerly materialize the
    # ENTIRE corpus every batch — the full-scan-per-ingest this
    # module exists to avoid (cost must scale with the batch's
    # candidate set, never the corpus)
    cand_ids = (
        touching.select(F.col("doc_a").alias("doc_id"))
        .unionByName(touching.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    verify_src = df_all.join(cand_ids, "doc_id", "left_semi")
    pairs = jaccard_pairs(verify_src, threshold, k=k, candidates=touching)
    if include_fp_exact:
        short_b = batch_sigs.filter(
            F.col(sig_cols[0]).isNull()
        ).select("doc_id", "fp")
        short_m = merged.filter(F.col(sig_cols[0]).isNull()).select(
            "doc_id", "fp"
        )
        fp_pairs = (
            short_b.alias("n")
            .join(
                short_m.alias("s"),
                (F.col("n.fp") == F.col("s.fp"))
                & (F.col("n.doc_id") != F.col("s.doc_id")),
            )
            .select(
                F.least("n.doc_id", "s.doc_id").alias("doc_a"),
                F.greatest("n.doc_id", "s.doc_id").alias("doc_b"),
            )
            .distinct()
            .select(
                "doc_a",
                "doc_b",
                F.lit(0).cast("long").alias("n_common"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        pairs = pairs.unionByName(fp_pairs)
    return pairs


# pandas-free module, but keep the foreign-cwd pickling contract
# uniform with the rest of the package (CLAUDE.md invariant 2).
import pyspark  # noqa: E402

pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])
