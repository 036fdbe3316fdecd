"""Similarity search over embedding columns (array<float>).

New surface beyond the reference (BASELINE.json north-star):
brute-force cosine top-k as the correctness baseline, and an
LSH-bucketed variant as the scale path.

Determinism design: raw float cosine is summation-order-dependent, so
engines (and even Spark stages) can disagree in the last ulp. Every
similarity here is computed on *quantized* embeddings — elements
scaled by 1e4 and rounded to BIGINT — so dot products and norms are
exact integer sums (order-independent), and the final cosine is one
double division + sqrt of exact integers: bit-identical on any
engine. At 1e-4 element precision the cosine error is ~1e-4 —
irrelevant for retrieval, decisive for reproducibility.

Everything is JVM-side `zip_with`/`aggregate` — no Python UDFs — so
the scans stay in codegen and the only shuffle is the top-k.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

QUANT = 10_000


def quantize(col: str | Column = "embedding") -> Column:
    """array<float> → array<bigint> at 1e-4 resolution (exact)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.transform(
        c, lambda x: F.round(x.cast("double") * QUANT).cast("bigint")
    )


def dot_q(a: Column, b: Column) -> Column:
    """Exact integer dot product of quantized vectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )


def norm_q(a: Column) -> Column:
    """sqrt of the exact integer self-dot — precompute this per VECTOR
    before any pairwise join: a cosine that re-derives both norms for
    every candidate pair does 3× the zip_with work (and, at k
    candidates/vector, k× redundant), while `dot/(norm_a·norm_b)` with
    precomputed norms does one array pass per pair."""
    return F.sqrt(dot_q(a, a).cast("double"))


def cosine_pre(dot: Column, norm_a: Column, norm_b: Column) -> Column:
    """Cosine from a pair dot product and precomputed per-vector
    norms (see `norm_q`). Zero-norm vectors (all-zero, or every
    |x| < half the quantization step) score 0.0 — under Spark 4's
    default ANSI mode a bare division would abort the job with
    DIVIDE_BY_ZERO on the first such row."""
    denom = norm_a * norm_b
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(
        dot.cast("double") / denom
    )


def knn_bruteforce(
    embeddings: DataFrame,
    queries: DataFrame,
    top_k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Plan shape: broadcast the (small) query set against the corpus
    scan — a map-side nested loop with no corpus shuffle — then one
    top-k window per query. At 100 TB the corpus never moves; cost is
    one full scan per query batch, which is what brute-force means.
    For standing workloads, switch to `lsh_buckets` candidates.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), quantize(vec_col).alias("q_vec")
    ).withColumn("q_nrm", norm_q(F.col("q_vec")))
    from .dedup import spread

    c = spread(embeddings, id_col).select(
        F.col(id_col).alias("n_id"), quantize(vec_col).alias("n_vec")
    ).withColumn("n_nrm", norm_q(F.col("n_vec")))
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn(
            "cosine",
            cosine_pre(
                dot_q(F.col("q_vec"), F.col("n_vec")),
                F.col("q_nrm"),
                F.col("n_nrm"),
            ),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("q_id", "n_id", "cosine", "rank")
    )


def _plane_component(plane: int, i: int, table: int = 0) -> int:
    """Deterministic pseudo-random hyperplane component in
    [-1000, 1000]: md5-derived, no RNG state. `table` salts
    independent plane sets for multi-table LSH (table 0 keeps the
    original salt so existing oracles stay valid).

    Computed driver-side with hashlib (bit-identical to the SQL
    `conv(substr(md5(...)))` recipe) and embedded as a literal, so
    the per-row plan does zero hashing — the oracle still derives
    the same values in SQL.
    """
    import hashlib

    salt = f"plane:{plane}:{i}" if table == 0 else f"plane:t{table}:{plane}:{i}"
    h = int(hashlib.md5(salt.encode()).hexdigest()[:15], 16)
    return h % 2001 - 1000


def derive_num_planes(
    n: int, target_bucket: int = 64, lo: int = 4, hi: int = 30
) -> int:
    """Plane count that keeps the expected bucket at ~`target_bucket`
    vectors: ceil(log2(n / target_bucket)), clamped. At n = 10^9 with
    the default target this yields 24 planes (~16M buckets) — the
    per-bucket quadratic stays bounded as the corpus grows, unlike a
    fixed 8-plane / 256-bucket layout."""
    import math

    if n <= target_bucket:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n / target_bucket))))


def lsh_buckets(
    embeddings: DataFrame,
    num_planes: int | None = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    table: int = 0,
) -> DataFrame:
    """Random-hyperplane (SimHash) LSH bucket id per vector.

    bucket bit j = sign(w_j · v) with w_j a deterministic md5-derived
    integer hyperplane; all arithmetic exact-integer. Vectors in the
    same bucket are ANN candidates — at scale, search joins on
    `bucket` instead of scanning the corpus.

    `num_planes=None` derives the width from the corpus count so the
    expected bucket holds ~64 vectors at any scale
    (`derive_num_planes`); `table` selects an independent plane set
    for multi-table recall (see `knn_lsh`'s num_tables).
    """
    from .dedup import spread

    if num_planes is None:
        num_planes = derive_num_planes(embeddings.count())
    # stage the quantized vector as a real column: the bucket
    # expression references it once per plane, and CollapseProject
    # keeps a multiply-referenced non-cheap projection output in its
    # own stage — without this the per-plane terms each re-inline
    # quantize(), costing num_planes array passes per corpus row on
    # the scan path (PLANS.md rule 14d)
    staged = spread(embeddings, id_col).select(
        F.col(id_col).alias("vec_id"), quantize(vec_col).alias("_qv")
    )
    # the bucket expression — num_planes hyperplane dot products over
    # num_planes × dim literal components — is rendered as ONE SQL
    # string parsed by a single F.expr: the Column-API form built
    # ~600 py4j round-trip nodes (64 lit().cast() calls per plane)
    # costing ~2.2 s of driver time per s3 attempt at r12; the parsed
    # tree (same zip_with/aggregate HOFs, same literal array, same
    # CASE reassembly) is identical, so results and codegen are
    # unchanged
    terms = ["CAST(0 AS BIGINT)"]
    for j in range(num_planes):
        # int() coercion (r12 ADVICE): interpolated into SQL text — a
        # non-int return must not inject malformed SQL
        comps = ", ".join(
            f"CAST({int(_plane_component(j, i, table))} AS BIGINT)"
            for i in range(dim)
        )
        proj = (
            f"aggregate(zip_with(_qv, array({comps}), (x, y) -> x * y),"
            f" CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )
        terms.append(
            f"CASE WHEN {proj} >= 0 THEN CAST({1 << j} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
        )
    bucket_sql = " + ".join(terms)
    return staged.select("vec_id", F.expr(f"({bucket_sql}) AS bucket"))


def derive_num_cells(
    n: int, target_cell: int = 64, lo: int = 8, hi: int = 65536
) -> int:
    """Cell count that keeps the expected IVF cell at ~`target_cell`
    vectors (the per-cell self-join in `knn_ivf` is quadratic in cell
    occupancy): ceil(n / target_cell), clamped. Same corpus-derived
    sizing rule as `derive_num_planes`/`derive_prefix_bits`."""
    import math

    return max(lo, min(hi, math.ceil(n / target_cell)))


def ivf_assign(
    embeddings: DataFrame,
    num_cells: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF coarse quantizer: assign each vector to its nearest seed
    centroid (exact quantized L2, ties → smallest seed id).

    The seeds are the `num_cells` lowest-id vectors — a deterministic
    stand-in for trained centroids that keeps the oracle portable. The
    seed set is broadcast, so assignment is one map-side pass over
    the corpus — the IVF property that makes standing ANN cheap at
    100 TB: search joins on `cell` and scans N/num_cells vectors.

    `num_cells=None` derives the cell count from the corpus size so
    expected occupancy stays ~64 at any scale (`derive_num_cells`).
    """
    return _ivf_ranked(embeddings, num_cells, id_col, vec_col).filter(
        F.col("rn") == 1
    ).select("vec_id", F.col("seed_id").alias("cell"), "dist")


def _ivf_ranked(
    embeddings: DataFrame,
    num_cells: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Shared core: every (vector, seed) distance, rank-windowed per
    vector (exact quantized L2, ties → smallest seed id)."""
    from .dedup import spread

    if num_cells is None:
        num_cells = derive_num_cells(embeddings.count())
    # the num_cells LOWEST ids — a TakeOrdered, not a filter on
    # `id < num_cells`, which assumes dense 0-based ids and silently
    # returns an EMPTY seed set (and thus zero output rows downstream)
    # for sparse/offset/hash-derived ids
    seeds = (
        embeddings.select(
            F.col(id_col).alias("seed_id"),
            quantize(vec_col).alias("seed_vec"),
        )
        .orderBy("seed_id")
        .limit(num_cells)
    )
    corpus = spread(embeddings, id_col).select(
        F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
    )
    # exact integer squared-L2: sum((a-b)^2) ≤ 64·(2·10^4)² < 2^36
    dist = F.aggregate(
        F.zip_with(F.col("qv"), F.col("seed_vec"), lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    scored = corpus.join(F.broadcast(seeds)).withColumn("dist", dist)
    w = Window.partitionBy("vec_id").orderBy(F.col("dist"), F.col("seed_id"))
    return scored.withColumn("rn", F.row_number().over(w))


def knn_ivf(
    embeddings: DataFrame,
    top_k: int = 5,
    num_cells: int | None = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """ANN: top-k within the query's `nprobe` nearest IVF cells.
    Same bucketed-join shape as knn_lsh, with a learned-ish coarse
    quantizer instead of random hyperplanes. `num_cells=None` sizes
    cells from the corpus count; `nprobe>1` unions candidates from
    several near cells for recall (a (q,n) pair can't duplicate:
    membership is unique per n, probed cells distinct per q)."""
    # One corpus×seeds ranking pass serves BOTH the cell assignment
    # (rn == 1) and the nprobe probe set (rn <= nprobe), so every
    # (vector, seed) pair is scored once. Eager localCheckpoint (not
    # cache): the two sides of the per-cell self-join sit in
    # concurrently launched stages, and a lazy cache lets both
    # recompute the ranking pipeline instead of one waiting for the
    # other.
    ranked = _ivf_ranked(embeddings, num_cells, id_col, vec_col)
    ranked = ranked.filter(F.col("rn") <= max(1, nprobe)).select(
        "vec_id", F.col("seed_id").alias("cell"), "rn"
    )
    if nprobe > 1:
        # two consumers (cell assignment + probe set) — materialize
        # once; at nprobe == 1 the frame has a single consumer and a
        # checkpoint would only add a job
        ranked = ranked.localCheckpoint(eager=True)
    cells = ranked.filter(F.col("rn") == 1)
    e = (
        embeddings.select(
            F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
        )
        .withColumn("nrm", norm_q(F.col("qv")))
        .join(cells.select("vec_id", "cell"), "vec_id")
        .localCheckpoint(eager=True)
    )
    if nprobe > 1:
        a = (
            e.drop("cell")
            .join(ranked.select("vec_id", "cell"), "vec_id")
            .alias("a")
        )
    else:
        a = e.alias("a")
    c = e.alias("c")
    scored = a.join(
        c,
        (F.col("a.cell") == F.col("c.cell"))
        & (F.col("a.vec_id") != F.col("c.vec_id")),
    ).select(
        F.col("a.vec_id").alias("q_id"),
        F.col("c.vec_id").alias("n_id"),
        cosine_pre(
            dot_q(F.col("a.qv"), F.col("c.qv")), F.col("a.nrm"), F.col("c.nrm")
        ).alias("cosine"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("q_id", "n_id", "cosine", "rank")
    )


def _bucket_pairs(
    embeddings: DataFrame,
    num_planes: int | None,
    dim: int,
    id_col: str,
    vec_col: str,
    num_tables: int,
    symmetric: bool,
    max_bucket: int | None = 100_000,
) -> DataFrame:
    """Candidate (a_id, b_id) pairs sharing a bucket in ANY of
    `num_tables` independent plane sets; multi-table unions are
    deduplicated. symmetric=True emits both directions (k-NN),
    False emits a_id < b_id once (dedup pairs).

    `max_bucket` bounds the hot-bucket quadratic exactly like
    lsh_candidates: a clustered corpus can legitimately co-hash far
    more vectors than derive_num_planes' uniform expectation, and an
    n-vector bucket would emit n² pairs in one task. Oversize
    buckets split into deterministic hash cells pairing internally —
    multi-table unions give a true neighbor num_tables chances to
    share a cell."""
    if num_planes is None:
        # derive ONCE: the count() job is identical for every table
        num_planes = derive_num_planes(embeddings.count())
    pairs: DataFrame | None = None
    for t in range(num_tables):
        # the bucket frame is self-joined; eager materialization keeps
        # the num_planes×dim projection arithmetic to one pass per
        # vector (concurrent scan stages would each recompute it)
        b = lsh_buckets(
            embeddings, num_planes, dim, id_col, vec_col, table=t
        ).localCheckpoint(eager=True)
        cell_cond = F.lit(True)
        if max_bucket is not None:
            # the shared over-cap-only broadcast cap (r7 — supersedes
            # r6's per-table driver-side probe action): see
            # dedup.cap_hot_buckets and dedup.lsh_candidates for the
            # design rationale and the measured probe-vs-broadcast
            # ladder. Row-identical to the uncapped plan whenever no
            # bucket exceeds the cap.
            from .dedup import cap_hot_buckets

            b = cap_hot_buckets(
                b, ("bucket",), "vec_id", f"vcell:{t}", max_bucket
            )
            cell_cond = F.col("a._cell") == F.col("c._cell")
        a = b.alias("a")
        c = b.alias("c")
        ident = (
            F.col("a.vec_id") != F.col("c.vec_id")
            if symmetric
            else F.col("a.vec_id") < F.col("c.vec_id")
        )
        p = a.join(
            c,
            (F.col("a.bucket") == F.col("c.bucket")) & cell_cond & ident,
        ).select(
            F.col("a.vec_id").alias("a_id"), F.col("c.vec_id").alias("b_id")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return pairs.distinct() if num_tables > 1 else pairs


def knn_lsh(
    embeddings: DataFrame,
    top_k: int = 5,
    num_planes: int | None = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_tables: int = 1,
) -> DataFrame:
    """ANN: top-k within LSH bucket (candidates share all planes).

    Recall < 1 by construction; the equi-join on bucket replaces the
    all-pairs product — the scale path for standing similarity jobs.
    `num_planes=None` sizes buckets from the corpus count;
    `num_tables>1` unions independent plane sets (classic multi-table
    LSH) to recover recall lost to narrower buckets.
    """
    cand = _bucket_pairs(
        embeddings, num_planes, dim, id_col, vec_col, num_tables, symmetric=True
    )
    # both the a_id and b_id attach joins read this frame
    e = embeddings.select(
        F.col(id_col).alias("vec_id"), quantize(vec_col).alias("qv")
    ).withColumn("nrm", norm_q(F.col("qv"))).localCheckpoint(eager=True)
    scored = (
        cand.join(
            e.select(
                F.col("vec_id").alias("a_id"),
                F.col("qv").alias("qa"),
                F.col("nrm").alias("na"),
            ),
            "a_id",
        )
        .join(
            e.select(
                F.col("vec_id").alias("b_id"),
                F.col("qv").alias("qb"),
                F.col("nrm").alias("nb"),
            ),
            "b_id",
        )
        .select(
            F.col("a_id").alias("q_id"),
            F.col("b_id").alias("n_id"),
            cosine_pre(
                dot_q(F.col("qa"), F.col("qb")), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cosine").desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("q_id", "n_id", "cosine", "rank")
    )
