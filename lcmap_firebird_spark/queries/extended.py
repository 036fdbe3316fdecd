"""Extended coverage registry — the SURVEY §2 rows not yet bound to
a query: array ops (P5/F3) + the densify/dedensify round-trip
(U1/U2), string/JSON/map scalar functions ([absent] §2.8), pivot +
grouping sets + percentiles ([absent] §2.4), as-of + range joins
([absent] §2.3), and the external-fetch source (S3) with a
deterministic fetch kernel.

Round-2 consolidation (driver records only 50 registry entries):
- u1_densify_roundtrip → p5_array_ops (same table, same grain)
- f6_json + f7_map     → f6_semistructured
- p5's array column is emitted via posexplode — the driver's
  canonicalizer cannot sort list-typed cells (round-1 p5 red).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import read_table, register_views
from ..functions.dates import micros
from ..functions.exact import dsum, sql_dsum
from ..operators.asof import asof_join_backward


# --- P5/F3 (+U1/U2-fold): array indexing / slicing + vector round-trip ------


def p5_array_ops(spark: SparkSession, sf: str) -> DataFrame:
    """Array indexing/slicing (P5/F3) + the densify→dedensify vector
    round-trip (U1/U2, ccdc/udfs.py:7-21 first-element compat). The
    head-3 slice is posexploded to (pos, head_val) rows — no top-level
    array column, so the driver's pandas canonicalizer can sort it."""
    from ..operators.vectors import dedensify, densify

    emb = read_table(spark, "embeddings", sf)
    dense = densify(emb, ["embedding", "label"], "features", compat=True)
    back = dedensify(dense, "features", "farr")
    return back.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("first_val"),
        F.element_at("embedding", -1).alias("last_val"),
        F.element_at("farr", 1).alias("f0"),
        F.element_at("farr", 2).alias("f1"),
        F.posexplode(F.slice("embedding", 1, 3)).alias("pos", "head_val"),
    )


# --- [absent §2.8] string functions ----------------------------------------


def f5_string_functions(spark: SparkSession, sf: str) -> DataFrame:
    cust = read_table(spark, "customer", sf)
    return cust.select(
        "c_custkey",
        F.lower("c_name").alias("lower_name"),
        F.upper("c_mktsegment").alias("upper_seg"),
        F.substring("c_name", 1, 8).alias("prefix8"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("|", "c_mktsegment", F.col("c_custkey").cast("string")).alias(
            "seg_key"
        ),
        F.regexp_replace("c_name", "[0-9]+", "#").alias("masked"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("padded_key"),
    )


# --- [absent §2.8] JSON + map functions (folds old f6/f7) -------------------


def f6_semistructured(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_table(spark, "events", sf)
    k_str = F.get_json_object("props", "$.k")
    parsed = F.from_json("props", "k INT")
    m = F.create_map(
        F.lit("et"), F.col("event_type"),
        F.lit("uid"), F.col("user_id").cast("string"),
    )
    return ev.select(
        "event_id",
        k_str.alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.element_at(m, "et").alias("et"),
        F.size(F.map_keys(m)).alias("n_keys"),
        # coalesce: with a NULL event_type, array_contains(values,
        # NULL) is NULL — define has_type as FALSE there (and the
        # oracle mirrors with event_type IS NOT NULL, which is the
        # same predicate since the map always carries the et entry)
        F.coalesce(
            F.array_contains(F.map_values(m), F.col("event_type")),
            F.lit(False),
        ).alias("has_type"),
    )


# --- [absent §2.4] pivot ----------------------------------------------------

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def a10_pivot(spark: SparkSession, sf: str) -> DataFrame:
    ev = read_table(spark, "events", sf)
    out = ev.groupBy("user_id").pivot("event_type", EVENT_TYPES).count()
    return out.select(
        "user_id", *[F.coalesce(t, F.lit(0)).alias(t) for t in EVENT_TYPES]
    )


# --- [absent §2.3] as-of join ----------------------------------------------


def j7_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """Backward as-of join with a deterministic (ts, event_id)
    tiebreak on the right side — duplicate signup timestamps resolve
    identically in Spark and the oracle."""
    ev = read_table(spark, "events", sf).withColumn(
        "t_us", micros("ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "t_us"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "event_id", "user_id", "t_us", F.col("value").alias("signup_value")
    )
    return asof_join_backward(
        errors, signups, by=["user_id"], ts_col="t_us",
        right_value_cols=["signup_value"], order_cols=["event_id"],
    ).select("event_id", "user_id", "signup_value")


# --- [absent §2.3] range (non-equi) join ------------------------------------


def j8_range_join(spark: SparkSession, sf: str) -> DataFrame:
    orders = read_table(spark, "orders", sf)
    li = read_table(spark, "lineitem", sf)
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_shipped_30d"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


# --- S3: external-fetch source (deterministic kernel) -----------------------


def s4_external_fetch(spark: SparkSession, sf: str) -> DataFrame:
    """The reference's executor-side fetch-and-explode (S3,
    ccdc/timeseries.py:92-126) with INPUT_PARTITIONS-style
    throttling; the fetch kernel is a deterministic arithmetic fake
    so the oracle can reproduce it (a real deployment swaps in an
    HTTP call — plan shape identical)."""
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    from ..sources.external import fetch_explode

    ids = read_table(spark, "nation", sf).select("n_nationkey")

    def fake_fetch(row: dict) -> list[dict]:
        k = row["n_nationkey"]
        return [
            {"n_nationkey": k, "i": i, "val": k * 100 + i} for i in range(4)
        ]

    schema = StructType(
        [
            StructField("n_nationkey", IntegerType(), False),
            StructField("i", IntegerType(), False),
            StructField("val", LongType(), False),
        ]
    )
    return fetch_explode(ids, fake_fetch, schema, max_concurrency=2)


# weights deliberately cover only 3 of the 5 corpus languages
# (missing domains DROP per mixture semantics) and the fixed token
# budget sits above the small-SF corpora (up-sampling: whole epochs +
# bucket-selected remainder) but below sf0.1's (down-sampling) — the
# one query exercises every regime of the operator across SFs.
MIX1_WEIGHTS = {"en": 0.5, "de": 0.3, "fr": 0.2}
MIX1_TOTAL_TOKENS = 30_000


def x3_mixture_split(spark: SparkSession, sf: str) -> DataFrame:
    """Training-mixture composition (operators/mixture.compose_mixture)
    + deterministic hash splits, consolidated (round-5: the mixture
    operator takes the old x3 slot, and x3's train/val/test hash-split
    coverage rides along as the `split` dimension — both remain fully
    oracle-verified). Per-domain token budgets = weight share of the
    total; upsampling emits whole epochs + a bucket-selected
    remainder; membership is a pure md5-derived function of doc_id at
    every step, so the DuckDB twin is exact integer arithmetic."""
    from ..operators.mixture import compose_mixture
    from ..operators.sampling import train_val_test
    from ..operators.text import token_count

    docs = read_table(spark, "documents", sf)
    mixed = compose_mixture(
        docs, MIX1_WEIGHTS, MIX1_TOTAL_TOKENS, domain_col="lang"
    )
    out = train_val_test(mixed, "doc_id", (0.8, 0.1, 0.1))
    return out.groupBy(
        F.col("lang").alias("domain"),
        F.col("epoch").cast("bigint").alias("epoch"),
        "split",
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("n_tokens"),
        F.min("doc_id").alias("min_id"),
    )


X4_FRACTIONS = {"en": 0.5, "de": 0.25, "es": 0.25, "fr": 0.1, "zh": 0.1}
X4_DSIR_K = 120  # top-k of 500 docs: exercises a real selection boundary


def x4_dsir_stratified(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic sampling, two operator families in one slot
    (round-5 consolidation, same pattern as x3_mixture_split):

    - `strat` rows: per-stratum hash sampling with DIFFERENT fractions
      per language (`stratified_hash_sample` — membership a pure
      function of doc_id; the seeded `sampleBy` twin remains in
      operators/sampling.py as the documented exploration path, which
      is partition-layout dependent and can never earn an oracle).
    - `dsir` rows: DSIR importance resampling (Xie et al. 2023) in the
      oracle-exact quantized mode — hashed unigram+bigram models
      (target = the 'en' slice, raw = whole corpus), per-bucket log
      ratios and Gumbel noise rounded to integers at DSIR_QUANT, so
      the per-doc score is an order-independent integer sum and the
      Gumbel top-k ranks identical bigints on both engines. `skey` is
      the selection key itself, so the oracle verifies the weights,
      not just the membership."""
    from ..operators.dsir import DSIR_QUANT, dsir_sample, gumbel_key_q
    from ..operators.sampling import stratified_hash_sample

    docs = read_table(spark, "documents", sf)
    strat = stratified_hash_sample(docs, "lang", "doc_id", X4_FRACTIONS).select(
        F.lit("strat").alias("method"),
        "doc_id",
        "lang",
        F.lit(None).cast("bigint").alias("skey"),
    )
    # target_pred: the target model is the 'en' slice of the raw
    # corpus, so ONE checkpointed gram explode feeds the raw model,
    # the target model, and the scoring (operator-proven identical to
    # explicit feature_counts frames)
    sel = dsir_sample(
        docs, None, None, k=X4_DSIR_K, quantize_scale=DSIR_QUANT,
        target_pred=F.col("lang") == "en",
    )
    dsir = sel.select(
        F.lit("dsir").alias("method"),
        "doc_id",
        "lang",
        (F.col("log_w") + gumbel_key_q("doc_id")).alias("skey"),
    )
    return strat.unionByName(dsir)


def j9_parts_suppliers(spark: SparkSession, sf: str) -> DataFrame:
    """Three-way fact⋈dim⋈dim join over the remaining catalog tables
    (part, supplier): revenue by brand × supplier with both dims
    broadcast."""
    li = read_table(spark, "lineitem", sf)
    part = read_table(spark, "part", sf)
    supp = read_table(spark, "supplier", sf)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .groupBy("p_brand", "s_name")
        .agg(
            F.count("*").alias("n_items"),
            dsum("l_quantity").alias("sum_qty"),
            dsum("l_extendedprice").alias("sum_price"),
        )
    )


def x5_upsert(spark: SparkSession, sf: str) -> DataFrame:
    """MERGE INTO through the TRANSACTIONAL path: the customer
    projection becomes a native LakeTable (ordered commit log,
    immutable parquet files), the updates batch lands via
    `LakeTable.merge` — copy-on-write restricted to key-stat-pruned
    files, ONE atomic read-dependent commit — and the result is the
    post-merge snapshot read back through the commit log. 'Update'
    every BUILDING customer's balance to 0, 'insert' two synthetic
    customers; output the merged table. This registry row certifies
    the ACID MERGE implementation itself."""
    import tempfile

    from ..lakehouse import LakeTable

    cust = read_table(spark, "customer", sf).select(
        "c_custkey", "c_name", "c_mktsegment", "c_acctbal"
    )
    updates = (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .withColumn("c_acctbal", F.lit(0.0))
        .unionByName(
            spark.createDataFrame(
                [
                    (1_000_001, "NEW Customer#1", "BUILDING", 1.0),
                    (1_000_002, "NEW Customer#2", "MACHINERY", 2.0),
                ],
                ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"],
            )
        )
    )
    # a fresh table root per invocation: the snapshot below is a LAZY
    # parquet scan over the committed files, so the dir must outlive
    # this call — but not the process (repeated bench/driver rounds
    # would otherwise accumulate table copies in /tmp forever)
    import atexit
    import shutil

    root = tempfile.mkdtemp(prefix="x5_lake_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    table = LakeTable.create(spark, root, cust, key_cols=["c_custkey"])
    table.merge(updates)
    return table.snapshot()


def sql2_correlated_subquery(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated scalar subquery — Catalyst decorrelates it into a
    join+aggregate (§4 'join reordering / subquery decorrelation'
    row); the oracle runs the identical correlated form."""
    register_views(spark, sf, only=("customer", "orders"))
    return spark.sql(
        """
        SELECT c_custkey,
               (SELECT MAX(o_totalprice) FROM orders
                WHERE o_custkey = c_custkey) AS max_order,
               (SELECT COUNT(*) FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT') AS n_urgent
        FROM customer
        """
    )


def z1_zorder(spark: SparkSession, sf: str) -> DataFrame:
    """Z-order (Morton) clustering key over (l_partkey, l_suppkey):
    the multi-dimensional sort key `LakeTable.cluster`
    clusters files by, exposed as a query so the interleave math is
    oracle-checked; zbucket (top bits) is the coarse cluster id a
    reader prunes on."""
    from ..operators.zorder import zvalue

    li = read_table(spark, "lineitem", sf)
    z = zvalue(["l_partkey", "l_suppkey"], bits=16)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        z.alias("zval"),
        F.shiftright(z, 24).alias("zbucket"),
    )


def sql1_tpch_q3(spark: SparkSession, sf: str) -> DataFrame:
    """The raw-SQL front door: TPC-H Q3 (shipping priority) through
    spark.sql over the registered views — same text the oracle runs,
    modulo the decimal-exact revenue recipe."""
    register_views(spark, sf, only=("customer", "orders", "lineitem"))
    return spark.sql(
        """
        SELECT l_orderkey,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS DOUBLE)
                   AS revenue,
               o_orderdate, o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP_NTZ '1997-01-01'
          AND l_shipdate > TIMESTAMP_NTZ '1997-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
        """
    )


QUERIES = {
    "j9_parts_suppliers": j9_parts_suppliers,
    "x5_upsert": x5_upsert,
    "sql1_tpch_q3": sql1_tpch_q3,
    "sql2_correlated_subquery": sql2_correlated_subquery,
    "x3_mixture_split": x3_mixture_split,
    "x4_dsir_stratified": x4_dsir_stratified,
    "p5_array_ops": p5_array_ops,
    "f5_string_functions": f5_string_functions,
    "f6_semistructured": f6_semistructured,
    "a10_pivot": a10_pivot,
    "j7_asof_join": j7_asof_join,
    "j8_range_join": j8_range_join,
    "s4_external_fetch": s4_external_fetch,
    "z1_zorder": z1_zorder,
}

from ..operators.sampling import bucket_threshold  # noqa: E402

# thresholds MUST come from the shared helper — the Spark side
# filters on the identical integers, so truncation rules can never
# diverge between the query and its oracle
_X4_CASE = " ".join(
    f"WHEN '{s}' THEN {bucket_threshold(f)}" for s, f in X4_FRACTIONS.items()
)


def _x4_oracle() -> str:
    """DuckDB twin of x4_dsir_stratified: identical tokenizer →
    unigram+bigram hash60 % B buckets → add-1 smoothed log ratios
    quantized at DSIR_QUANT → integer per-doc sums → quantized
    deterministic Gumbel top-k. The only doubles are per-bucket
    ln()/÷ with fixed operand order before quantization; model
    totals are exact integers computed in-SQL (Spark computes them
    as 1-row driver aggregates — same values)."""
    from ..operators.dsir import DSIR_BUCKETS, DSIR_QUANT
    from .text import TOK

    h = "CAST(('0x' || substr(md5({e}), 1, 15)) AS BIGINT)"
    B = DSIR_BUCKETS
    S = f"{DSIR_QUANT}.0"
    gum_u = (
        f"(CAST({h.format(e=chr(39) + 'dsir' + chr(39) + ' || CAST(d.doc_id AS VARCHAR)')} "
        f"AS DOUBLE) + 0.5) / {1 << 60}.0"
    )
    floor_diff = (
        f"CAST(round((ln(1.0 / (tot_t + {B}.0)) - ln(1.0 / (tot_r + {B}.0)))"
        f" * {S}) AS BIGINT)"
    )
    return f"""
        WITH toks AS (SELECT doc_id, lang, {TOK} AS t FROM documents),
        gr AS (SELECT doc_id, lang,
                      CASE WHEN t IS NULL THEN NULL
                           ELSE t || CASE WHEN len(t) >= 2
                                 THEN list_transform(
                                     generate_series(1, len(t) - 1),
                                     i -> concat_ws(' ', t[i], t[i+1]))
                                 ELSE [] END
                      END AS g
               FROM toks),
        occ AS (SELECT doc_id, lang,
                       unnest(list_transform(g, x -> {h.format(e='x')} % {B}))
                           AS bucket
                FROM gr),
        tgt AS (SELECT bucket, COUNT(*) AS n FROM occ
                WHERE lang = 'en' GROUP BY bucket),
        raw AS (SELECT bucket, COUNT(*) AS n FROM occ GROUP BY bucket),
        tots AS (SELECT (SELECT COALESCE(SUM(n), 0) FROM tgt) AS tot_t,
                        (SELECT COALESCE(SUM(n), 0) FROM raw) AS tot_r),
        ratio AS (SELECT COALESCE(t.bucket, r.bucket) AS bucket,
                         CAST(round((
                             COALESCE(ln((t.n + 1.0) / (tot_t + {B}.0)),
                                      ln(1.0 / (tot_t + {B}.0)))
                           - COALESCE(ln((r.n + 1.0) / (tot_r + {B}.0)),
                                      ln(1.0 / (tot_r + {B}.0)))
                         ) * {S}) AS BIGINT) AS rq
                  FROM tgt t FULL JOIN raw r ON t.bucket = r.bucket, tots),
        docw AS (SELECT occ.doc_id,
                        CAST(SUM(COALESCE(ratio.rq, {floor_diff}))
                             AS BIGINT) AS wq
                 FROM occ LEFT JOIN ratio USING (bucket), tots
                 GROUP BY occ.doc_id),
        keyed AS (SELECT d.doc_id, d.lang,
                         COALESCE(w.wq, 0)
                         + CAST(round(-ln(-ln({gum_u})) * {S}) AS BIGINT)
                             AS skey
                  FROM documents d LEFT JOIN docw w ON w.doc_id = d.doc_id),
        sel AS (SELECT doc_id, lang, skey FROM keyed
                ORDER BY skey DESC, doc_id LIMIT {X4_DSIR_K})
        SELECT 'strat' AS method, doc_id, lang, CAST(NULL AS BIGINT) AS skey
        FROM documents
        WHERE CAST(('0x' || substr(md5('strata' || CAST(doc_id AS VARCHAR)),
                   1, 15)) AS BIGINT) % 10000
              < CASE lang {_X4_CASE} ELSE 0 END
        UNION ALL
        SELECT 'dsir' AS method, doc_id, lang, skey FROM sel
    """


ORACLES = {
    "x4_dsir_stratified": _x4_oracle(),
    "j9_parts_suppliers": f"""
        SELECT p_brand, s_name,
               COUNT(*) AS n_items,
               {sql_dsum('l_quantity')} AS sum_qty,
               {sql_dsum('l_extendedprice')} AS sum_price
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        GROUP BY p_brand, s_name
    """,
    "x5_upsert": """
        WITH updates AS (
            SELECT c_custkey, c_name, c_mktsegment, 0.0 AS c_acctbal
            FROM customer WHERE c_mktsegment = 'BUILDING'
            UNION ALL
            SELECT * FROM (VALUES
                (1000001, 'NEW Customer#1', 'BUILDING', 1.0),
                (1000002, 'NEW Customer#2', 'MACHINERY', 2.0))
                t(c_custkey, c_name, c_mktsegment, c_acctbal)
        )
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal
        FROM customer
        WHERE c_custkey NOT IN (SELECT c_custkey FROM updates)
        UNION ALL
        SELECT c_custkey, c_name, c_mktsegment, c_acctbal FROM updates
    """,
    "sql2_correlated_subquery": """
        SELECT c_custkey,
               (SELECT MAX(o_totalprice) FROM orders
                WHERE o_custkey = c_custkey) AS max_order,
               (SELECT COUNT(*) FROM orders
                WHERE o_custkey = c_custkey
                  AND o_orderpriority = '1-URGENT') AS n_urgent
        FROM customer
    """,
    "sql1_tpch_q3": """
        SELECT l_orderkey,
               CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                        * (1 - CAST(l_discount AS DECIMAL(18,4)))) AS VARCHAR)
                    AS DOUBLE) AS revenue,
               o_orderdate, o_orderpriority
        FROM customer JOIN orders ON c_custkey = o_custkey
                      JOIN lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01'
          AND l_shipdate > TIMESTAMP '1997-01-01'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderdate, l_orderkey
        LIMIT 10
    """,
    "p5_array_ops": """
        SELECT vec_id,
               CAST(len(embedding) AS INT) AS dim,
               embedding[1] AS first_val,
               embedding[len(embedding)] AS last_val,
               CAST(embedding[1] AS DOUBLE) AS f0,
               CAST(label AS DOUBLE) AS f1,
               CAST(i - 1 AS INT) AS pos,
               embedding[CAST(i AS INT)] AS head_val
        FROM embeddings, generate_series(1, 3) t(i)
    """,
    "f5_string_functions": """
        SELECT c_custkey,
               lower(c_name) AS lower_name,
               upper(c_mktsegment) AS upper_seg,
               substr(c_name, 1, 8) AS prefix8,
               CAST(length(c_name) AS INT) AS name_len,
               concat_ws('|', c_mktsegment, CAST(c_custkey AS VARCHAR)) AS seg_key,
               regexp_replace(c_name, '[0-9]+', '#', 'g') AS masked,
               lpad(CAST(c_custkey AS VARCHAR), 8, '0') AS padded_key
        FROM customer
    """,
    "f6_semistructured": """
        SELECT event_id,
               json_extract_string(props, '$.k') AS k_str,
               -- mirror from_json's strictness exactly: only an
               -- INTEGRAL k parses (Spark yields NULL for 3.5 or
               -- 'notanint'; a bare DuckDB CAST would error on text
               -- and ROUND 3.5 to 4)
               CASE WHEN regexp_matches(
                        json_extract_string(props, '$.k'), '^-?[0-9]+$')
                    THEN TRY_CAST(json_extract_string(props, '$.k') AS INT)
                    END AS k_int,
               event_type AS et,
               2 AS n_keys,
               (event_type IS NOT NULL) AS has_type
        FROM events
    """,
    "a10_pivot": """
        SELECT user_id,
               COUNT(*) FILTER (WHERE event_type = 'click') AS click,
               COUNT(*) FILTER (WHERE event_type = 'error') AS error,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
               COUNT(*) FILTER (WHERE event_type = 'view') AS view
        FROM events GROUP BY user_id
    """,
    "j7_asof_join": """
        SELECT e.event_id, e.user_id,
               (SELECT s.value FROM events s
                WHERE s.user_id = e.user_id
                  AND s.event_type = 'signup'
                  AND s.ts <= e.ts
                ORDER BY s.ts DESC, s.event_id DESC LIMIT 1) AS signup_value
        FROM events e WHERE e.event_type = 'error'
    """,
    "j8_range_join": f"""
        SELECT o_orderpriority,
               COUNT(*) AS n_shipped_30d,
               {sql_dsum('l_extendedprice')} AS sum_price
        FROM lineitem JOIN orders
          ON l_orderkey = o_orderkey
         AND l_shipdate >= o_orderdate
         AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        GROUP BY o_orderpriority
    """,
    "s4_external_fetch": """
        SELECT n_nationkey,
               CAST(i AS INT) AS i,
               CAST(n_nationkey * 100 + i AS BIGINT) AS val
        FROM nation, generate_series(0, 3) t(i)
    """,
}


def _z1_oracle() -> str:
    from ..operators.zorder import sql_zvalue

    z = sql_zvalue(["l_partkey", "l_suppkey"], bits=16)
    return f"""
        SELECT l_orderkey, l_linenumber,
               {z} AS zval,
               ({z} >> 24) AS zbucket
        FROM lineitem
    """


ORACLES["z1_zorder"] = _z1_oracle()


def _mix1_oracle() -> str:
    """Exact DuckDB twin of compose_mixture + train_val_test: the
    per-domain budgets are the SAME Python constants the Spark side
    derives (int(w/Σw · total)); everything data-dependent — domain
    token totals, epoch counts, remainder bucket thresholds — is pure
    integer arithmetic replayed in SQL (md5-derived buckets, floor
    division, cumulative sums), so values hash-match with no
    quantization."""
    from .text import TOK

    wsum = float(sum(MIX1_WEIGHTS.values()))
    vals = ", ".join(
        f"('{d}', {int(w / wsum * MIX1_TOTAL_TOKENS)})"
        for d, w in MIX1_WEIGHTS.items()
    )
    mix_bkt = (
        "CAST(('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)),"
        " 1, 15)) AS BIGINT) % 4096"
    )
    split_bkt = (
        "CAST(('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)),"
        " 1, 15)) AS BIGINT) % 10000"
    )
    return f"""
        WITH toks AS (
            SELECT doc_id, lang,
                   CAST(len({TOK}) AS BIGINT) AS tok,
                   {mix_bkt} AS bkt,
                   {split_bkt} AS sb
            FROM documents),
        budgets AS (SELECT * FROM (VALUES {vals}) b(lang, budget)),
        dom AS (SELECT lang, SUM(tok) AS dom_tok FROM toks GROUP BY lang),
        eps AS (SELECT b.lang, b.budget,
                       CASE WHEN COALESCE(dom_tok, 0) > 0
                            THEN b.budget // dom_tok ELSE 0 END AS epochs,
                       b.budget
                         - (CASE WHEN COALESCE(dom_tok, 0) > 0
                                 THEN b.budget // dom_tok ELSE 0 END)
                           * COALESCE(dom_tok, 0) AS rem
                FROM budgets b LEFT JOIN dom USING (lang)),
        cum AS (SELECT lang, bkt,
                       SUM(btok) OVER (PARTITION BY lang ORDER BY bkt) AS cum_tok
                FROM (SELECT lang, bkt, SUM(tok) AS btok
                      FROM toks GROUP BY lang, bkt)),
        thr AS (SELECT c.lang, MAX(bkt) + 1 AS thr
                FROM cum c JOIN eps e ON e.lang = c.lang
                WHERE c.cum_tok <= e.rem
                GROUP BY c.lang),
        sel AS (SELECT t.doc_id, t.lang, t.tok, t.bkt, t.sb,
                       e.epochs, COALESCE(h.thr, 0) AS thr
                FROM toks t
                JOIN eps e ON e.lang = t.lang
                LEFT JOIN thr h ON h.lang = t.lang),
        cop AS (SELECT *,
                       epochs + CASE WHEN bkt < thr THEN 1 ELSE 0 END
                           AS n_copies
                FROM sel),
        expl AS (SELECT doc_id, lang, tok, sb,
                        UNNEST(generate_series(
                            CAST(0 AS BIGINT),
                            CAST(n_copies - 1 AS BIGINT))) AS epoch
                 FROM cop WHERE n_copies > 0)
        SELECT lang AS domain,
               CAST(epoch AS BIGINT) AS epoch,
               CASE WHEN sb < 8000 THEN 'train'
                    WHEN sb < 9000 THEN 'val'
                    ELSE 'test' END AS split,
               COUNT(*) AS n_docs,
               CAST(SUM(tok) AS BIGINT) AS n_tokens,
               MIN(doc_id) AS min_id
        FROM expl
        GROUP BY 1, 2, 3
    """


ORACLES["x3_mixture_split"] = _mix1_oracle()
