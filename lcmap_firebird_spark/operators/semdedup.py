"""Semantic deduplication — SemDeDup (Abbas et al. 2023,
arXiv:2303.09540) re-expressed as cluster-bounded DataFrame ops.

MinHash/SimHash (operators/dedup.py) catch lexical near-duplicates;
SemDeDup removes SEMANTIC duplicates — different words, same content
— using the embedding geometry directly. The reference repo has no
analog (its pipeline is per-pixel change detection); the public
recipe is:

1. k-means cluster the embeddings (the coarse quantizer bounds every
   later step — reuse `similarity.ivf_assign`, so clustering is one
   broadcast-assignment pass);
2. within each cluster, points closer than `eps` in cosine are
   duplicates (pairs via a cell equi-join — the quadratic is bounded
   by cell occupancy, never the corpus);
3. keep, per duplicate set, the point FARTHEST from its centroid
   (the paper's choice: keeps boundary/outlier examples, drops the
   redundant core). The paper's released rule is order-based: sort a
   cluster by centroid distance descending; a point is dropped iff
   it is within eps of ANY point earlier in that order. That rule is
   embarrassingly parallel (dropped(i) = ∃ j earlier with
   cos(i,j) ≥ 1−eps — no dependence on j's own kept status), so it
   maps to one within-cell pair join + one anti-join.

Scale design: the corpus is touched by (a) one broadcast centroid
assignment, (b) one cluster-sized window for the rank, (c) one
equi-join on cell whose fan-out is cell occupancy (derived cell
counts keep occupancy ~bounded as the corpus grows —
`similarity.derive_num_cells`). All similarity arithmetic uses the
quantized-integer cosine (`similarity.quantize`) so results are
deterministic across engines and layouts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .similarity import (
    cosine_pre,
    dot_q,
    ivf_assign,
    norm_q,
    quantize,
)


def semdedup(
    embeddings: DataFrame,
    eps: float = 0.05,
    num_cells: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cell, rk, is_keeper): SemDeDup labels over an
    embedding frame. `rk` is the within-cluster order (1 = farthest
    from centroid — always kept); a row is dropped iff some
    earlier-ranked row in its cluster has cosine ≥ 1 − eps with it.

    The cells come from deterministic seeds (`ivf_assign`) in place
    of the paper's KMeans centroids, which keeps tests/oracles
    portable. `num_cells=None` derives the cell count from the corpus
    size (bounded occupancy at any scale)."""
    assign = ivf_assign(embeddings, num_cells, id_col, vec_col)
    e = (
        embeddings.select(
            F.col(id_col).alias("vec_id"),
            quantize(vec_col).alias("qv"),
        )
        .withColumn("nrm", norm_q(F.col("qv")))
        .join(assign, "vec_id")
    )
    w = Window.partitionBy("cell").orderBy(
        F.col("dist").desc(), F.col("vec_id")
    )
    # multi-consumer (rank frame feeds both pair sides and the final
    # anti-join) — eager checkpoint per PLANS.md rule 15
    ranked = e.withColumn("rk", F.row_number().over(w)).localCheckpoint(
        eager=True
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.rk") < F.col("b.rk")),
        )
        .select(
            F.col("b.vec_id").alias("vec_id"),
            cosine_pre(
                dot_q(F.col("a.qv"), F.col("b.qv")),
                F.col("a.nrm"),
                F.col("b.nrm"),
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 1.0 - float(eps))
        .select("vec_id")
        .distinct()
    )
    return ranked.select("vec_id", "cell", "rk").join(
        dropped.withColumn("_d", F.lit(True)), "vec_id", "left"
    ).select(
        "vec_id",
        "cell",
        "rk",
        F.coalesce(~F.col("_d"), F.lit(True)).alias("is_keeper"),
    )


def semdedup_gate(
    docs: DataFrame,
    embeddings: DataFrame,
    eps: float = 0.05,
    num_cells: int | None = None,
    doc_id_col: str = "doc_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Filter `docs` to SemDeDup keepers (embeddings keyed by the
    same ids). Docs without an embedding pass the gate — no geometry
    is not negative evidence)."""
    labels = semdedup(embeddings, eps, num_cells, id_col, vec_col)
    dropped = labels.filter(~F.col("is_keeper")).select(
        F.col("vec_id").alias(doc_id_col)
    )
    return docs.join(dropped, doc_id_col, "left_anti")
