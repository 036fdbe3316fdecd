"""Text retrieval over the corpus — TF-IDF / BM25 top-k.

No reference analog (the reference's tables are raster time series);
a training-data pipeline needs lexical retrieval for curation tasks:
pulling topical subsets, near-decontamination triage ("which corpus
docs score highest against this benchmark prompt"), and quality
auditing. Okapi BM25 is the standard public formula.

Spark-first shape — a distributed inverted index, no UDFs:

- postings: explode tokens once -> (doc_id, term, tf) via groupBy;
- document stats (length, avgdl, N) ride along as a 1-row broadcast;
- document frequency per term is a groupBy on the postings;
- the QUERY side (a handful of rows) is tokenized, exploded, and
  broadcast, so scoring is one equi-join on term against the
  postings — the corpus TEXT shuffles once to build postings and
  never again (the scoring join still carries the ~16-byte/doc
  length frame, metadata scale, not text);
- top-k per query is the standard rank-window over (query, score).

Scoring: score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1-b+b·|d|/avgdl))
with idf(t) = ln(1 + (N - df + 0.5)/(df + 0.5)) — the Robertson/
Sparck-Jones variant that stays positive.

At 100 TB the postings build is the dominant shuffle, but its
groupBy key is (doc_id, term) — doc_id spreads even a Zipf-hot term
across reducers, and salting the tf aggregate is structurally a
no-op anyway (duplicate tokens of one doc are IDENTICAL rows, and a
deterministic row-content salt maps identical rows to one bucket).
The aggregate Zipf skew actually hits is DOCUMENT FREQUENCY: one
hot term's posting list is a single group. `doc_frequency(salt=k)`
routes that through skew.salted_agg_count's two-level aggregate —
row-identical, plan-asserted in tests/test_skew.py — and
bm25_topk(salt_terms=k) opts the whole pipeline in; scoring traffic
stays bounded by |query terms| × their posting lists, the classic
inverted-index bound.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .text import tokens

K1 = 1.2
B = 0.75


def postings(
    corpus: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, term, tf) inverted index plus per-doc length dl."""
    toks = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    )
    return toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))


def doc_frequency(post: DataFrame, salt: int | None = None) -> DataFrame:
    """(term, df) from a (doc_id, term, tf) postings frame — postings
    hold one row per (doc, term), so a row count per term IS the
    document frequency.

    `salt=k` opts into skew.salted_agg_count's two-level aggregate
    for Zipf-hot terms: partial counts per (term, salt-of-row) spread
    one hot term's posting list over k reducers before the k-row
    merge. Row-identical to the plain aggregate (count is algebraic);
    the plain form already map-side-combines, so the salt only pays
    off where partial aggregation is defeated (high-cardinality
    accumulators, applyInPandas aggregates) or partials are disabled."""
    if salt is None:
        return post.groupBy("term").agg(F.count("*").alias("df"))
    from .skew import salted_agg_count

    return salted_agg_count(post, ["term"], salt=salt).withColumnRenamed(
        "n", "df"
    )


def bm25_quantized(
    df: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = K1,
    b: float = B,
    scale: int = 1_000_000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Oracle-exact BM25 against ONE pinned term set: input columns +
    `bm25_q` = Σ_{t ∈ query ∩ doc} round(w(t, d) · scale) as BIGINT
    and `n_hit_terms` (both NULL for docs hitting no query term —
    absence of evidence, not a zero score; empty/NULL text can never
    hit). Per-term quantization BEFORE the per-doc sum makes the
    score an order-independent exact integer, so a DuckDB twin
    replaying tokenize → tf/df/dl → idf → round reproduces it
    bit-for-bit — the t3/x4 recipe applied to the retrieval family
    (the production float top-k path stays in bm25_topk).

    w(t, d) = idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl)),
    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)); N counts ALL corpus
    rows (NULL-text docs are corpus members with no terms), avgdl
    averages dl over rows with tokenizable text. Every float constant
    the oracle needs is a deterministic function of these integers —
    sql_twin() below emits the matching fragment.

    Scale shape: the corpus explodes once and the very first operator
    after the explode is the pinned-term filter, so only matching
    tokens ever shuffle (bounded by |query terms| × their posting
    lists — the inverted-index bound); the stats/df frames are
    O(1)/O(|terms|) broadcasts."""
    toks = df.select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(text_col)).alias("term"),
    ).filter(F.col("term").isin(*query_terms))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    # one tf frame, two consumers (df-counts + scoring) — rule 15.
    # Measured-and-rejected (r13): dropping this checkpoint in favor
    # of in-plan exchange reuse does NOT work — the dfreq consumer
    # prunes the count aggregate out of its tf subtree, so the two
    # exchanges are canonically different and the tokenize explode
    # runs twice at exec (plan captured: two Generate nodes).
    tf = tf.localCheckpoint(eager=True)
    dfreq = doc_frequency(tf)

    # per-doc length is doc-count-sized metadata (8 bytes/doc) with
    # two consumers (stats action + scoring join): LAZY checkpoint —
    # the stats .first() right below is the materializing job (r13
    # fusion; one job persists + aggregates instead of two)
    dl = df.select(
        F.col(id_col).alias("doc_id"),
        F.when(
            F.col(text_col).isNotNull(), F.size(tokens(text_col))
        ).alias("dl"),
    ).localCheckpoint(eager=False)
    # corpus stats are a 2-value collect (the classifier-totals
    # precedent — metadata scale, avoids a 1-row nested-loop join);
    # explicit exact-int-sum / count division (NOT avg()) so the
    # oracle's arithmetic is the literally identical double op
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (
            F.coalesce(F.sum("dl"), F.lit(0)).cast("double")
            / F.count("dl").cast("double")
        ).alias("avgdl"),
    ).first()
    n_docs, avgdl = int(stats["n_docs"]), stats["avgdl"]

    idf = F.log(
        F.lit(1.0)
        + (F.lit(n_docs) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    w = (
        idf
        * (F.col("tf") * F.lit(float(k1 + 1)))
        / (
            F.col("tf")
            + F.lit(float(k1))
            * (
                F.lit(float(1 - b))
                + F.lit(float(b)) * F.col("dl") / F.lit(avgdl)
            )
        )
    )
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(dl, "doc_id")
        .select(
            "doc_id",
            F.round(w * F.lit(float(scale))).cast("bigint").alias("_wq"),
        )
        .groupBy("doc_id")
        .agg(
            F.sum("_wq").alias("bm25_q"),
            F.count("*").alias("n_hit_terms"),
        )
    )
    return df.join(
        scored.withColumnRenamed("doc_id", id_col), id_col, "left"
    ).select(*df.columns, "bm25_q", "n_hit_terms")


def bm25_sql_twin(
    query_terms: tuple[str, ...],
    k1: float = K1,
    b: float = B,
    scale: int = 1_000_000,
    table: str = "documents",
    id_col: str = "doc_id",
    tok_expr: str | None = None,
) -> str:
    """DuckDB CTE fragment reproducing bm25_quantized bit-for-bit:
    emits `bm25 AS (SELECT doc_id, bm25_q, n_hit_terms ...)` ready to
    LEFT JOIN on doc_id. Float constants are embedded via repr() and
    CAST(VARCHAR AS DOUBLE) — strtod is correctly rounded, so the
    oracle runs the same IEEE doubles Spark's lit() carries
    (functions/exact.sql_d2d rationale)."""
    tok = tok_expr or (
        r"list_filter(regexp_split_to_array(text, '\s+'), x -> x != '')"
    )
    terms = ", ".join(f"'{t}'" for t in query_terms)

    def d(x: float) -> str:
        return f"CAST('{x!r}' AS DOUBLE)"

    return f"""
        _toks AS (SELECT {id_col} AS doc_id,
                         CASE WHEN text IS NOT NULL THEN {tok} END AS t
                  FROM {table}),
        _stats AS (SELECT COUNT(*) AS n_docs,
                          CAST(coalesce(SUM(len(t)), 0) AS DOUBLE)
                              / CAST(COUNT(t) AS DOUBLE) AS avgdl
                   FROM _toks),
        _tf AS (SELECT doc_id, term, COUNT(*) AS tf
                FROM (SELECT doc_id, unnest(t) AS term FROM _toks)
                WHERE term IN ({terms})
                GROUP BY doc_id, term),
        _df AS (SELECT term, COUNT(*) AS df FROM _tf GROUP BY term),
        _dl AS (SELECT doc_id, len(t) AS dl FROM _toks),
        bm25 AS (
            SELECT doc_id,
                   CAST(SUM(CAST(round(
                       ln({d(1.0)} + (n_docs - df + {d(0.5)})
                                     / (df + {d(0.5)}))
                       * (tf * {d(float(k1 + 1))})
                       / (tf + {d(float(k1))}
                              * ({d(float(1 - b))}
                                 + {d(float(b))} * dl / avgdl))
                       * {d(float(scale))}) AS BIGINT))
                       AS BIGINT) AS bm25_q,
                   COUNT(*) AS n_hit_terms
            FROM _tf JOIN _df USING (term)
                     JOIN _dl USING (doc_id), _stats
            GROUP BY doc_id)
    """


def bm25_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k1: float = K1,
    b: float = B,
    id_col: str = "doc_id",
    text_col: str = "text",
    query_id_col: str = "query_id",
    query_text_col: str = "query",
    salt_terms: int | None = None,
) -> DataFrame:
    """Top-k corpus docs per query by BM25.

    Returns (query_id, doc_id, score, rank), rank 1-based, ties
    broken by doc_id (deterministic). Query terms are deduplicated
    (standard bag-of-words query model: each distinct query term
    contributes once). `salt_terms=k` routes the document-frequency
    aggregate through the two-level salted form (see doc_frequency)
    for Zipf-hot query terms — row-identical output."""
    # ONE tokenization pass: doc lengths and corpus stats derive
    # from the postings (sum of tf per doc == token count exactly),
    # not from re-running the tokenizer over the corpus two more
    # times. The left join from the id projection restores the
    # token-less docs the postings lack — empty text as dl=0 and
    # NULL text as dl=NULL, bit-identical to size(tokens(text)) —
    # so n_docs/avgdl (and therefore every idf and score) are
    # unchanged.
    post = postings(corpus, id_col, text_col).localCheckpoint(eager=True)
    sums = post.groupBy("doc_id").agg(F.sum("tf").alias("_dl"))
    ids = corpus.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).isNotNull().alias("_ht"),
    )
    dl = ids.join(sums, "doc_id", "left").select(
        "doc_id",
        F.coalesce(
            F.col("_dl"), F.when(F.col("_ht"), F.lit(0))
        ).alias("dl"),
    )
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )

    qterms = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(F.array_distinct(tokens(query_text_col))).alias("term"),
    )

    # restrict the postings to query terms FIRST (broadcast semi-
    # join), then materialize once: document frequency and scoring
    # both read this small frame (bounded by the query terms' posting
    # lists), so the corpus is exploded exactly once and the df
    # aggregate never shuffles the full postings table (scale fix —
    # and rule 15: two concurrent consumers of a lazy frame would
    # each recompute the explode).
    rel = post.join(
        F.broadcast(qterms.select("term").distinct()), "term", "left_semi"
    ).localCheckpoint(eager=True)
    dfreq = doc_frequency(rel, salt=salt_terms)

    scored = (
        rel.join(F.broadcast(qterms), "term")
        .join(dfreq, "term")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
            ),
        )
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("query_id", "doc_id")
        .agg(F.sum("w").alias("score"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "doc_id", "score", "rank")
    )
