"""Training-corpus preparation — the end-to-end LLM-data pipeline.

Composes the package's text / dedup / sampling operators into the
standard corpus-prep ladder (the C4/Gopher data-preparation shape),
each stage a DataFrame plan:

  1. quality gate   codegen'd signals in ONE scan: token count,
                    lexical diversity, repetition fractions
  2. language gate  stopword-profile language ID (operators/text)
  3. exact dedup    60-bit fingerprint groups, keep min doc_id
  4. near dedup     MinHash/LSH pair graph → connected components →
                    keep each cluster's minimum
  5. split          deterministic hash split (train/val/test)
  6. write          parquet partitioned by split

Ordering is the scale-critical part: the cheap codegen gates (1-2)
run first and drop rows before anything shuffles; exact dedup (3)
collapses byte-identical copies so the LSH machinery sees one
representative per content (the exact-first rung — because stage 3
already deduped, stage 4 runs `minhash_dedup(exact_first=False)`
and skips a redundant fingerprint pass); candidates-before-
quadratics inside stage 4 keeps verification linear in the near-dup
graph, not the corpus. Every stage is a pure function of document
content — re-running the pipeline on the same corpus reproduces the
same kept set and the same split assignment on any engine or cluster
layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import text as T
from ..operators.dedup import dedup_clusters, exact_groups, minhash_dedup
from ..operators.sampling import train_val_test


def quality_gate(
    docs: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    min_diversity: float = 0.2,
    max_rep_2gram: float = 0.5,
    max_top_2gram: float = 0.5,
) -> DataFrame:
    """Gopher-style quality filter as one scan with ONE tokenization
    and ONE gram build per row: both are exists-bound inside the
    predicate (`text.bind_once`) because PushDownPredicates would
    re-inline a staged column into the filter condition once per
    reference (PLANS.md rule 14)."""
    keep = T.bind_once(
        T.tokens(text_col),
        lambda t: (F.size(t) >= min_tokens)
        & (
            F.size(F.array_distinct(t)).cast("double") / F.size(t).cast("double")
            >= min_diversity
        )
        & T.bind_once(
            T.gram_array(t, 2),
            lambda g: (T.repeated_fraction_of(g) <= max_rep_2gram)
            & (T.top_fraction_of(g) <= max_top_2gram),
        ),
    )
    return docs.filter(keep)


def language_gate(
    docs: DataFrame, languages: tuple[str, ...] = ("en",), text_col: str = "text"
) -> DataFrame:
    """Keep documents whose PREDICTED language is in `languages`
    (metadata lang tags lie at corpus scale; the content-derived
    profile is the filter)."""
    return docs.filter(T.language_id(text_col).isin(*languages))


def prepare_corpus(
    docs: DataFrame,
    languages: tuple[str, ...] = ("en",),
    jaccard_threshold: float = 0.5,
    weights: tuple[float, float, float] = (0.8, 0.1, 0.1),
    benchmark: DataFrame | None = None,
    quality_model: tuple[DataFrame, float, float] | None = None,
    perplexity_model: tuple[DataFrame, DataFrame, int, float] | None = None,
    substring_k: int | None = None,
    embeddings: DataFrame | None = None,
    semdedup_eps: float = 0.05,
    dsir_target: DataFrame | None = None,
    dsir_k: int | None = None,
    mixture: dict[str, float] | None = None,
    mixture_tokens: int | None = None,
    domain_col: str = "source",
    redact: bool = False,
    **gate_kwargs,
) -> DataFrame:
    """Full ladder → the input columns + a 'split' column, one row per
    kept document. `docs` follows the documents-table contract
    (doc_id, text, ...). Deterministic end to end: gates are
    row-local expressions, dedup winners are group minima, and the
    split is a hash of the id (operators/sampling) — the same corpus
    always yields the same training set.

    `benchmark` adds a decontamination stage (drop docs sharing
    8-gram shingles with any benchmark item — operators/pipeline)
    AFTER dedup, so the expensive shingle join runs over survivors
    only. `quality_model=(weights_df, bias, threshold)` adds the
    learned quality gate (operators/classifier) after the heuristic
    gates and before dedup. `substring_k` (int) inserts the exact-substring pass
    (operators/substring): duplicated >=k-token spans are cut from
    every surviving doc — after whole-doc dedup (so spans reflect
    genuinely distinct docs sharing boilerplate, not byte-copies),
    before redaction. `mixture`/`mixture_tokens` compose the final
    per-domain token-budget mix (operators/mixture) as the LAST
    selection stage — budgets should govern what actually ships.
    `embeddings` (vec_id keyed by doc_id) adds the SemDeDup semantic
    rung (operators/semdedup) after the lexical ladder — MinHash
    catches shared words, the embedding rung catches shared MEANING;
    docs without an embedding pass. `dsir_target`/`dsir_k` run DSIR
    importance resampling (operators/dsir) as a target-domain
    selection stage before mixture budgeting. `redact=True` rewrites
    text through the PII scrubber as the final projection (post-dedup:
    fingerprints/signatures key on the ORIGINAL bytes, and redaction
    must not change dedup decisions)."""
    if mixture is not None and mixture_tokens is None:
        raise ValueError(
            "mixture requires mixture_tokens (the total token budget)"
        )
    if (dsir_target is None) != (dsir_k is None):
        raise ValueError("dsir_target and dsir_k must be set together")
    gated = language_gate(quality_gate(docs, **gate_kwargs), languages)
    if quality_model is not None:
        # learned gate AFTER the heuristics (cheap row-local
        # expressions first; the model costs an explode + broadcast
        # join) and BEFORE dedup so signatures only cover keepers
        from ..operators.classifier import quality_gate_model

        qm_weights, qm_bias, qm_threshold = quality_model
        gated = quality_gate_model(gated, qm_weights, qm_bias, qm_threshold)
    if perplexity_model is not None:
        # (unigrams, bigrams, vocab, max_perplexity) — the CCNet LM
        # signal, same placement rationale as the learned gate
        from ..operators.perplexity import perplexity_gate

        pm_uni, pm_bi, pm_vocab, pm_max = perplexity_model
        gated = perplexity_gate(gated, pm_uni, pm_bi, pm_vocab, pm_max)
    # exact rung: one representative per byte-identical content group
    grp = exact_groups(gated)
    reps = grp.filter(F.col("doc_id") == F.col("rep")).select("doc_id")
    kept = gated.join(reps, ["doc_id"], "left_semi")
    # near rung: pair graph → components → cluster minimum survives
    pairs = minhash_dedup(kept, threshold=jaccard_threshold, exact_first=False)
    clusters = dedup_clusters(pairs, all_ids=kept.select("doc_id"))
    keepers = clusters.filter(F.col("is_keeper")).select("doc_id")
    survivors = kept.join(keepers, ["doc_id"], "left_semi")
    if embeddings is not None:
        # semantic rung AFTER the lexical ladder: the lexical pass
        # already collapsed byte/shingle duplicates, so the
        # cluster-bounded cosine pass sees only lexically-distinct
        # survivors
        from ..operators.semdedup import semdedup_gate

        survivors = semdedup_gate(
            survivors, embeddings, eps=semdedup_eps
        )
    if benchmark is not None:
        from ..operators.pipeline import decontaminate

        survivors = decontaminate(survivors, benchmark, n=8)
    if substring_k is not None:
        from ..operators.substring import remove_duplicate_spans

        cleaned = remove_duplicate_spans(survivors, k=substring_k)
        survivors = cleaned.select(
            *[c for c in survivors.columns if c != "text"],
            F.col("clean_text").alias("text"),
        )
    if dsir_target is not None:
        # target-domain selection before mixture budgeting: pick the
        # dsir_k survivors whose hashed-ngram profile best matches
        # the target corpus (raw model = the survivors themselves)
        from ..operators.dsir import dsir_sample, feature_counts

        # raw_counts=None: the survivors double as the raw model and
        # the shared-explode path scans them once
        survivors = dsir_sample(
            survivors,
            feature_counts(dsir_target),
            None,
            k=int(dsir_k),
        ).drop("log_w")
    if mixture is not None:
        from ..operators.mixture import compose_mixture

        # output keeps the epoch column: upsampled repeats are real
        # rows of the final mix, and epoch is what distinguishes them
        survivors = compose_mixture(
            survivors,
            mixture,
            int(mixture_tokens),
            domain_col=domain_col,
        )
    out = train_val_test(survivors, "doc_id", weights)
    if redact:
        from ..operators.pipeline import redact_pii

        out = out.withColumn("text", redact_pii("text"))
    return out


def corpus_manifest(
    df: DataFrame, text_col: str = "text", domain_col: str = "source"
) -> dict:
    """Reproducibility manifest: per-(split, domain) doc and token
    counts plus an order-independent content checksum
    (partition-layout-proof, unlike a sum that depends on overflow
    wraparound order being benign). The checksum XORs the hash of
    (fingerprint, occurrence-index) rather than raw fingerprints:
    bit-XOR self-cancels even multiplicities, and compose_mixture's
    epoch replication makes duplicate docs ROUTINE — raw-fp XOR
    would rate two different upsampled corpora identical. The
    occurrence index (row_number within equal fingerprints) is a
    deterministic function of the multiset, so the checksum stays
    layout- and order-independent."""
    from pyspark.sql import Window

    from ..operators.dedup import hash60

    has_domain = domain_col in df.columns
    keys = ["split"] + ([domain_col] if has_domain else [])
    staged = df.select(
        *keys,
        T.token_count(text_col).alias("_tc"),
        T.fingerprint(text_col).alias("_fp"),
    )
    w = Window.partitionBy(*keys, "_fp").orderBy("_fp")
    staged = staged.withColumn(
        "_h",
        hash60(
            F.concat_ws(
                ":",
                F.col("_fp").cast("string"),
                F.row_number().over(w).cast("string"),
            )
        ),
    )
    rows = (
        staged.groupBy(*keys)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_tc").alias("n_tokens"),
            F.expr("bit_xor(_h)").alias("checksum"),
        )
        .collect()
    )
    strata = [r.asDict() for r in rows]
    total_checksum = 0
    for r in strata:
        total_checksum ^= int(r["checksum"])
    return {
        "strata": sorted(
            strata, key=lambda r: tuple(str(r[k]) for k in keys)
        ),
        "n_docs": sum(r["n_docs"] for r in strata),
        "n_tokens": sum(r["n_tokens"] for r in strata),
        "checksum": total_checksum,
    }


def write_corpus(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    manifest: bool = True,
    domain_col: str = "source",
) -> dict | None:
    """Partitioned-by-split sink: downstream training jobs scan only
    their split's directory (partition pruning), and each split's
    files are self-contained for export. With `manifest`, a
    `_MANIFEST.json` lands next to the data (counts + order-
    independent checksum per stratum) so downstream consumers can
    verify a re-run reproduced the identical corpus without reading
    it.

    The manifest is computed by READING BACK the parquet just
    written — one cheap scan — never by re-executing `df`'s lineage:
    a prepared corpus is the tail of a multi-shuffle pipeline
    (gates, dedup ladder, mixture), and manifesting from the lazy
    frame would run that whole pipeline a second time."""
    df.write.mode(mode).partitionBy("split").parquet(path)
    if not manifest:
        return None
    import json
    import os

    written = df.sparkSession.read.parquet(path)
    m = corpus_manifest(written, domain_col=domain_col)
    # PORTABILITY: the manifest lands via local open(); an
    # object-store deployment routes this one write through the
    # Hadoop FileSystem API.
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump(m, f, indent=1, default=str)
    return m


# plan composes worker-shipped operators; keep the foreign-cwd
# pickling contract uniform (CLAUDE.md invariant 2)
import sys  # noqa: E402

import pyspark  # noqa: E402

pyspark.cloudpickle.register_pickle_by_value(sys.modules[__name__])
