"""Scalar function families: string, date/time, math, JSON, array, map.

One query per family, each exercising several built-ins. Everything is
JVM-side column algebra (no Python UDFs) — these all inline into
whole-stage codegen and cost ~nothing at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcap_to_parquet_spark.functions.text import WHITESPACE_TOKENS_SQL, whitespace_tokens
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_table


@query(
    "q_string_funcs",
    r"""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           LENGTH(c_name) AS name_len,
           c_name || '/' || c_mktsegment AS name_seg,
           REPLACE(c_name, 'Customer', 'Cust') AS name_short,
           (c_name LIKE '%1%') AS has_one,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits,
           TRIM('  x  ') AS trimmed,
           LPAD(CAST(c_custkey AS VARCHAR), 8, '0') AS key_padded,
           SPLIT_PART(c_mktsegment, 'I', 1) AS seg_head
    FROM customer
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.concat_ws("/", "c_name", "c_mktsegment").alias("name_seg"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias("name_short"),
        F.col("c_name").like("%1%").alias("has_one"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_digits"),
        F.trim(F.lit("  x  ")).alias("trimmed"),
        F.lpad(F.col("c_custkey").cast("string"), 8, "0").alias("key_padded"),
        F.split_part(F.col("c_mktsegment"), F.lit("I"), F.lit(1)).alias("seg_head"),
    )


@query(
    "q_date_funcs",
    r"""
    SELECT o_orderkey,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS INT) AS order_year,
           CAST(EXTRACT(MONTH FROM o_orderdate) AS INT) AS order_month,
           CAST(EXTRACT(DAY FROM o_orderdate) AS INT) AS order_day,
           STRFTIME(DATE_TRUNC('month', o_orderdate), '%Y-%m-%d') AS month_start,
           STRFTIME(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d %H:%M:%S')
               AS due_ts,
           CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '1998-12-31') AS INT)
               AS days_to_eoy,
           STRFTIME(o_orderdate, '%Y-%m-%d') AS order_iso
    FROM orders
    """,
)
def date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("order_year"),
        F.month("o_orderdate").alias("order_month"),
        F.dayofmonth("o_orderdate").alias("order_day"),
        # timestamp outputs are projected to strings on BOTH sides: Spark's
        # toPandas always lands datetime64[ns] while DuckDB lands [us], and
        # the driver's value hash is representation-sensitive (r1 lesson).
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd").alias("month_start"),
        F.date_format(
            F.date_add(F.col("o_orderdate").cast("date"), 30).cast("timestamp"),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("due_ts"),
        F.datediff(F.lit("1998-12-31").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_eoy"
        ),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_iso"),
    )


@query(
    "q_math_funcs",
    r"""
    SELECT p_partkey,
           ROUND(p_retailprice, 1) AS price_round,
           CAST(ABS(p_size - 25) AS INT) AS size_dev,
           ROUND(LN(p_retailprice), 6) AS price_ln,
           ROUND(LOG10(p_retailprice), 6) AS price_log10,
           ROUND(SQRT(p_retailprice), 6) AS price_sqrt,
           ROUND(POWER(p_size, 2), 1) AS size_sq,
           p_size % 7 AS size_mod,
           CAST(CEIL(p_retailprice) AS BIGINT) AS price_ceil,
           CAST(FLOOR(p_retailprice) AS BIGINT) AS price_floor,
           CAST(SIGN(p_size - 25) AS INT) AS size_sign,
           GREATEST(p_size, 10) AS size_floor10,
           LEAST(p_size, 40) AS size_cap40
    FROM part
    """,
)
def math_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.round("p_retailprice", 1).alias("price_round"),
        F.abs(F.col("p_size") - 25).alias("size_dev"),
        F.round(F.log(F.col("p_retailprice")), 6).alias("price_ln"),
        F.round(F.log10("p_retailprice"), 6).alias("price_log10"),
        F.round(F.sqrt("p_retailprice"), 6).alias("price_sqrt"),
        F.round(F.pow(F.col("p_size"), 2), 1).alias("size_sq"),
        (F.col("p_size") % 7).alias("size_mod"),
        F.ceil("p_retailprice").alias("price_ceil"),
        F.floor("p_retailprice").alias("price_floor"),
        F.signum(F.col("p_size") - 25).cast("int").alias("size_sign"),
        F.greatest(F.col("p_size"), F.lit(10)).cast("bigint").alias("size_floor10"),
        F.least(F.col("p_size"), F.lit(40)).cast("bigint").alias("size_cap40"),
    )


@query(
    "q_json_funcs",
    r"""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_num,
           (json_extract_string(props, '$.missing') IS NULL) AS missing_is_null
    FROM events
    """,
)
def json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction from the events.props JSON-text column."""
    e = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("bigint").alias("k_num"),
        F.get_json_object("props", "$.missing").isNull().alias("missing_is_null"),
    )


@query(
    "q_array_funcs",
    r"""
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(CAST(embedding[1] AS DOUBLE), 6) AS first_elem,
           ROUND(CAST(list_aggregate(embedding, 'sum') AS DOUBLE), 4) AS vec_sum,
           ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vec_max,
           len(list_filter(embedding, x -> x > 0)) AS n_positive,
           list_contains([0, 1, 2], label) AS label_small
    FROM embeddings
    """,
)
def array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array construct/inspect/filter/aggregate with higher-order functions."""
    em = load_table(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return em.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_elem"),
        F.round(
            F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x), 4
        ).alias("vec_sum"),
        F.round(F.array_max("embedding").cast("double"), 6).alias("vec_max"),
        F.size(F.filter("embedding", lambda x: x > 0)).cast("bigint").alias("n_positive"),
        F.array_contains(F.array(F.lit(0), F.lit(1), F.lit(2)), F.col("label")).alias(
            "label_small"
        ),
    )


@query(
    "q_explode",
    rf"""
    SELECT doc_id, t.token
    FROM documents, UNNEST({WHITESPACE_TOKENS_SQL}) AS t(token)
    WHERE doc_id < 50 AND t.token <> ''
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral expansion (explode / UNNEST): one row per token.

    Tokenizes on \\s+ via whitespace_tokens — the same tokenizer the
    rest of the engine uses and the exact match for the oracle's
    regexp_split_to_array (a literal-space split silently diverges on
    tabs/newlines)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") < 50)
        .select("doc_id", F.explode(whitespace_tokens("text")).alias("token"))
        .filter(F.col("token") != "")
    )


@query(
    "q_map_funcs",
    r"""
    SELECT event_type, k, v
    FROM (
        SELECT event_type,
               UNNEST(['count', 'total']) AS k,
               UNNEST([CAST(COUNT(*) AS DOUBLE), ROUND(SUM(value), 4)]) AS v
        FROM events
        GROUP BY event_type
    )
    """,
)
def map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map construct + explode to sorted k/v rows (DuckDB-comparable form)."""
    e = load_table(spark, sf_dir, "events")
    agg = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("cnt"),
        F.round(F.sum("value"), 4).alias("total"),
    )
    m = F.create_map(
        F.lit("count"), F.col("cnt"), F.lit("total"), F.col("total")
    )
    return agg.select("event_type", F.explode(m).alias("k", "v"))


@query(
    "q_hash_funcs",
    r"""
    SELECT doc_id,
           md5(text) AS h_md5,
           sha256(text) AS h_sha256,
           length(md5(text)) AS md5_len
    FROM documents
    """,
)
def hash_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cryptographic digest family (content addressing / dedup keys);
    both engines agree byte-for-byte on md5/sha256 of UTF-8 text."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("h_md5"),
        F.sha2("text", 256).alias("h_sha256"),
        F.length(F.md5("text")).cast("bigint").alias("md5_len"),
    )


# ---------------------------------------------------------------------------
# VARIANT: binary semi-structured values (Spark 4), not string re-parsing

VARIANT_ORACLE = r"""
SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_bucket,
       COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
           AS k_total
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) >= 10
GROUP BY 1
"""


@query("q_variant_shred", VARIANT_ORACLE)
def variant_shred(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured processing on the VARIANT type (Spark 4):
    ``try_parse_json`` decodes each props document ONCE into the
    binary variant encoding, and every downstream access
    (``variant_get`` with a typed path) reads the decoded form —
    the structural difference from ``get_json_object``, which
    re-parses the JSON text per extraction (q_json_funcs shows that
    path). On a 100 TB semi-structured column, parse-once plus typed
    shredded access is the difference between a CPU-bound scan and a
    string-parsing bottleneck; malformed documents degrade to NULL
    (try_), never to a failed job."""
    e = load_table(spark, sf_dir, "events")
    k = F.expr("variant_get(try_parse_json(props), '$.k', 'long')")
    return (
        e.select(k.alias("k"))
        .filter(F.col("k") >= 10)
        .groupBy(F.expr("k div 10").alias("k_bucket"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("k").alias("k_total"))
    )


# ---------------------------------------------------------------------------
# ANSI-safe arithmetic: try_* null-on-error semantics

TRY_ARITHMETIC_ORACLE = """
SELECT user_id % 5 AS cohort,
       COUNT(*) AS n_events,
       ROUND(SUM(CASE WHEN user_id % 5 = 0 THEN NULL
                      ELSE value / (user_id % 5) END), 4) AS safe_ratio_sum,
       COUNT(CASE WHEN user_id % 5 = 0 THEN NULL ELSE 1 END) AS n_divisible,
       COUNT(*) - COUNT(CASE WHEN user_id % 5 = 0 THEN NULL ELSE 1 END)
           AS n_null_division
FROM events
GROUP BY cohort
ORDER BY cohort
"""


@query("q_try_arithmetic", TRY_ARITHMETIC_ORACLE)
def try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe arithmetic: Spark 4 runs in ANSI mode, where a
    division by zero is a query-killing error — on a 100 TB run one
    bad row torches hours of cluster time. ``try_divide`` (and the
    try_* family) turns the error into NULL, which then flows through
    aggregation with standard NULL semantics; the oracle states the
    same contract as an explicit CASE. The n_null_division column
    makes the quarantined rows countable instead of silent — the same
    every-row-lands-somewhere discipline as q_permissive_ingest."""
    from pcap_to_parquet_spark.sources import load_table

    e = load_table(spark, sf_dir, "events")
    cohort = (F.col("user_id") % 5).alias("cohort")
    ratio = F.try_divide("value", F.col("user_id") % 5)
    return (
        e.select(cohort, ratio.alias("r"))
        .groupBy("cohort")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("r"), 4).alias("safe_ratio_sum"),
            F.count("r").alias("n_divisible"),
            (F.count(F.lit(1)) - F.count("r")).alias("n_null_division"),
        )
        .orderBy("cohort")
    )
