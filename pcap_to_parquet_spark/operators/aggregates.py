"""Aggregation operators: hash agg, filtered agg, statistics,
approximate distinct, rollup / cube / grouping sets.

All groupBy aggregates get map-side partial aggregation for free; the
shuffle moves one row per (partition, group), not per input row — the
property that makes these plans survive 100 TB. Double-typed aggregates
are rounded identically on both engines because float summation order
is partition-dependent (SURVEY §5.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_table


@query(
    "q_hash_agg",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(AVG(l_discount), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def hash_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the canonical partial+final hash aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "sum_disc_price"
            ),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "q_agg_filter",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_clicks,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           ROUND(COALESCE(SUM(value) FILTER (WHERE event_type = 'purchase'), 0.0), 4)
               AS purchase_value
    FROM events
    GROUP BY user_id
    """,
)
def agg_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered aggregation (FILTER/count_if) via count/sum over CASE."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        F.count_if(F.col("event_type") == "error").alias("n_errors"),
        F.round(
            F.coalesce(
                F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), F.lit(0.0)
            ),
            4,
        ).alias("purchase_value"),
    )


@query(
    "q_stats_agg",
    """
    SELECT c_mktsegment,
           ROUND(STDDEV_SAMP(c_acctbal), 4) AS bal_stddev,
           ROUND(VAR_SAMP(c_acctbal), 4) AS bal_var,
           ROUND(MEDIAN(c_acctbal), 4) AS bal_median,
           ROUND(MIN(c_acctbal), 2) AS bal_min,
           ROUND(MAX(c_acctbal), 2) AS bal_max
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def stats_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates: stddev/variance/exact median (median is a
    sort-based agg — fine per-group; the group count is bounded)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.round(F.stddev_samp("c_acctbal"), 4).alias("bal_stddev"),
        F.round(F.var_samp("c_acctbal"), 4).alias("bal_var"),
        F.round(F.median("c_acctbal"), 4).alias("bal_median"),
        F.round(F.min("c_acctbal"), 2).alias("bal_min"),
        F.round(F.max("c_acctbal"), 2).alias("bal_max"),
    )


@query("q_approx_distinct")  # approximate → rows-only check (no oracle)
def approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate count-distinct — THE count-distinct at
    100 TB (exact countDistinct needs a full shuffle of the keys; HLL
    ships a constant-size sketch per partition)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("approx_orderkeys"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@query(
    "q_count_distinct",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orderkeys,
           COUNT(DISTINCT l_suppkey) AS n_suppkeys
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column count-distinct (Spark expands to two-phase agg)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orderkeys"),
        F.countDistinct("l_suppkey").alias("n_suppkeys"),
    )


@query(
    "q_rollup",
    """
    SELECT r_name, n_name, COUNT(*) AS n_customers,
           ROUND(SUM(c_acctbal), 2) AS total_bal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY ROLLUP (r_name, n_name)
    """,
)
def rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    joined = c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).join(
        F.broadcast(r), n.n_regionkey == r.r_regionkey
    )
    return joined.rollup("r_name", "n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


@query(
    "q_cube",
    """
    SELECT c_mktsegment, o_orderstatus, COUNT(*) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY CUBE (c_mktsegment, o_orderstatus)
    """,
)
def cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .cube("c_mktsegment", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "q_grouping_sets",
    """
    SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_customers
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    """,
)
def grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    c.createOrReplaceTempView("pq_customer_gs")
    return spark.sql(
        """
        SELECT c_mktsegment, c_nationkey, COUNT(*) AS n_customers
        FROM pq_customer_gs
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        """
    )


# ---------------------------------------------------------------------------
# correlation / covariance statistics

CORR_ORACLE = """
SELECT l_returnflag,
       ROUND(CORR(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       ROUND(COVAR_SAMP(l_quantity, l_extendedprice), 4) AS qty_price_cov,
       ROUND(REGR_SLOPE(l_extendedprice, l_quantity), 4) AS price_per_qty
FROM lineitem
GROUP BY l_returnflag
"""


@query("q_corr_stats", CORR_ORACLE)
def corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group (correlation, sample covariance,
    regression slope) — single-pass partial+final aggregation: each
    statistic reduces to sums/products carried map-side, so the shuffle
    moves one small state per (group, stat), never rows."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_extendedprice"), 4).alias("qty_price_cov"),
        F.round(F.regr_slope("l_extendedprice", "l_quantity"), 4).alias("price_per_qty"),
    )


# ---------------------------------------------------------------------------
# deterministic ordered list aggregation

LIST_AGG_ORACLE = """
SELECT user_id,
       string_agg(event_type, ',' ORDER BY ts, event_id) AS path,
       COUNT(*) AS n_events
FROM events
GROUP BY user_id
"""


@query("q_list_agg", LIST_AGG_ORACLE)
def list_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ordered list aggregation: each user's event-type
    journey as a comma-joined path string — the session-path /
    user-journey primitive (and the feature-vector assembly shape for
    sequence models).

    collect_list's order is partition-arrival nondeterministic, so the
    elements carry their (ts, event_id) sort key through the
    aggregation: array_sort on the struct ORDERS BY ts then event_id
    (unique tiebreak → deterministic), then the key is projected away.
    One partial+final aggregation; the state is each user's own events,
    which is user-bounded, not corpus-bounded."""
    e = load_table(spark, sf_dir, "events")
    item = F.struct("ts", "event_id", "event_type")
    return (
        e.groupBy("user_id")
        .agg(F.array_sort(F.collect_list(item)).alias("items"))
        .select(
            "user_id",
            F.array_join(
                F.transform("items", lambda x: x["event_type"]), ","
            ).alias("path"),
            F.size("items").cast("bigint").alias("n_events"),
        )
    )


# ---------------------------------------------------------------------------
# winsorized robust mean: clip to exact per-group percentiles, then average

WINSOR_ORACLE = """
WITH q AS (
    SELECT l_returnflag,
           quantile_cont(l_extendedprice, 0.01) AS lo,
           quantile_cont(l_extendedprice, 0.99) AS hi
    FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       COUNT(*) AS n,
       ROUND(AVG(l.l_extendedprice), 4) AS raw_mean,
       ROUND(AVG(LEAST(GREATEST(l.l_extendedprice, q.lo), q.hi)), 4) AS winsor_mean
FROM lineitem l JOIN q ON q.l_returnflag = l.l_returnflag
GROUP BY l.l_returnflag
ORDER BY l.l_returnflag
"""


@query("q_winsorized_mean", WINSOR_ORACLE)
def winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (p01/p99-clipped) group means — the robust-statistics
    gate for metrics that a handful of outliers would otherwise own.
    Two passes by necessity (the clip bounds are exact per-group
    percentiles of the same data): pass one computes the tiny
    per-group bound table, pass two broadcasts it back and averages
    the clipped values — never a per-row rank, never a global sort.
    Spark's exact `percentile` and DuckDB's `quantile_cont` share the
    (n-1)*p interpolation definition, so the bounds agree."""
    li = load_table(spark, sf_dir, "lineitem")
    q = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.01)").alias("lo"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("hi"),
    )
    clipped = li.join(F.broadcast(q), "l_returnflag").select(
        "l_returnflag",
        "l_extendedprice",
        F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi")).alias(
            "w"
        ),
    )
    return (
        clipped.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("l_extendedprice"), 4).alias("raw_mean"),
            F.round(F.avg("w"), 4).alias("winsor_mean"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# equi-width numeric histogram (width_bucket semantics, plain arithmetic)

_HIST_BUCKETS = 20
_HIST_LO, _HIST_HI = 900.0, 105000.0

_HIST_BUCKET_SQL = (
    f"CASE WHEN l_extendedprice < {_HIST_LO} THEN 0 "
    f"WHEN l_extendedprice >= {_HIST_HI} THEN {_HIST_BUCKETS + 1} "
    f"ELSE CAST(FLOOR((l_extendedprice - {_HIST_LO}) / ({_HIST_HI} - {_HIST_LO})"
    f" * {_HIST_BUCKETS}) AS BIGINT) + 1 END"
)

NUMERIC_HIST_ORACLE = f"""
SELECT CAST({_HIST_BUCKET_SQL} AS BIGINT) AS bucket,
       COUNT(*) AS n,
       ROUND(MIN(l_extendedprice), 2) AS lo,
       ROUND(MAX(l_extendedprice), 2) AS hi
FROM lineitem
GROUP BY bucket
ORDER BY bucket
"""


@query("q_numeric_histogram", NUMERIC_HIST_ORACLE)
def numeric_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of a measure — the profiling primitive
    behind every distribution dashboard — with width_bucket semantics
    spelled as plain arithmetic (DuckDB has no width_bucket): bucket 0
    and n+1 are the underflow/overflow bins, interior bucket =
    floor((x-lo)/(hi-lo)*n)+1, bit-identical IEEE on both engines. One partial+final aggregation; the
    per-bucket observed [min, max] rides along to expose empty-range
    buckets. At 100 TB this is the one-scan alternative to sorting
    for quantiles when fixed bins suffice."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.expr(f"CAST({_HIST_BUCKET_SQL} AS BIGINT)").alias("bucket"),
            "l_extendedprice",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("lo"),
            F.round(F.max("l_extendedprice"), 2).alias("hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# median-absolute-deviation outlier census (robust twin of z-score)


MAD_ORACLE = """
WITH med AS (
    SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
    FROM lineitem GROUP BY l_returnflag
),
dev AS (
    SELECT l.l_returnflag, l.l_extendedprice, ABS(l.l_extendedprice - med.m) AS d, med.m
    FROM lineitem l JOIN med ON med.l_returnflag = l.l_returnflag
),
mad AS (
    SELECT l_returnflag, quantile_cont(d, 0.5) AS mad, ANY_VALUE(m) AS m
    FROM dev GROUP BY l_returnflag
)
SELECT d.l_returnflag,
       ROUND(ANY_VALUE(mad.m), 2) AS median_price,
       ROUND(ANY_VALUE(mad.mad), 2) AS mad,
       CAST(SUM(CASE WHEN d.d > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
       COUNT(*) AS n
FROM dev d JOIN mad ON mad.l_returnflag = d.l_returnflag
GROUP BY d.l_returnflag
ORDER BY d.l_returnflag
"""


@query("q_mad_outliers", MAD_ORACLE)
def mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median-absolute-deviation outlier census — the robust twin of
    q_anomaly_zscore: median and MAD are immune to the very outliers
    being hunted (a single 1e9 row drags a mean/stddev threshold but
    moves neither median). Two exact-percentile passes (group medians,
    then medians of absolute deviations) with the tiny per-group stats
    broadcast back — the same two-pass broadcast shape as
    q_winsorized_mean, never a per-row rank."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_extendedprice, 0.5)").alias("m")
    )
    dev = li.join(F.broadcast(med), "l_returnflag").select(
        "l_returnflag",
        F.abs(F.col("l_extendedprice") - F.col("m")).alias("d"),
        "m",
    )
    mad = dev.groupBy("l_returnflag").agg(
        F.expr("percentile(d, 0.5)").alias("mad"), F.first("m").alias("m")
    )
    return (
        dev.join(F.broadcast(mad.select("l_returnflag", "mad")), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.first("m"), 2).alias("median_price"),
            F.round(F.first("mad"), 2).alias("mad"),
            F.sum(F.when(F.col("d") > 3 * F.col("mad"), 1).otherwise(0))
            .cast("long")
            .alias("n_outliers"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("l_returnflag")
    )


# ---------------------------------------------------------------------------
# grouped multiple regression: closed-form normal equations per group

_MULTI_REG_DET_EPS = 1e-9

MULTI_REGRESSION_ORACLE = """
WITH f AS (
    SELECT event_type,
           CAST(hour(ts) AS DOUBLE) AS x1,
           CAST(day(ts) AS DOUBLE) AS x2,
           value AS y
    FROM events
),
s AS (
    SELECT event_type, COUNT(*) AS n,
           SUM(x1) AS sx1, SUM(x2) AS sx2, SUM(y) AS sy,
           SUM(x1 * x1) AS sx1x1, SUM(x1 * x2) AS sx1x2,
           SUM(x2 * x2) AS sx2x2, SUM(x1 * y) AS sx1y, SUM(x2 * y) AS sx2y
    FROM f GROUP BY event_type
),
c AS (
    SELECT event_type, n,
           sx1x1 - sx1 * sx1 / n AS a11,
           sx1x2 - sx1 * sx2 / n AS a12,
           sx2x2 - sx2 * sx2 / n AS a22,
           sx1y - sx1 * sy / n AS c1,
           sx2y - sx2 * sy / n AS c2,
           sx1 / n AS mx1, sx2 / n AS mx2, sy / n AS my
    FROM s
),
g AS (
    -- singular-design guard: NULL when |det| ~ 0 (same gate as Spark)
    SELECT *, CASE WHEN abs(a11 * a22 - a12 * a12) > 1e-9
                   THEN a11 * a22 - a12 * a12 END AS det
    FROM c
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       ROUND((a22 * c1 - a12 * c2) / det, 4) AS hour_slope,
       ROUND((a11 * c2 - a12 * c1) / det, 4) AS day_slope,
       ROUND(my - (a22 * c1 - a12 * c2) / det * mx1
                - (a11 * c2 - a12 * c1) / det * mx2,
             4) AS intercept
FROM g
"""


@query("q_multi_regression", MULTI_REGRESSION_ORACLE)
def multi_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-feature OLS per group (value ~ hour-of-day + day-of-month)
    solved in closed form from ONE aggregation pass: the nine normal-
    equation sums reduce map-side like any partial aggregate, the 2×2
    system inverts in plain column algebra (centered cross-moments for
    conditioning), and no row ever moves except into the groupBy —
    multiple regression at 100 TB for the cost of a hash aggregate.
    The single-feature special case is the built-in regr_slope
    (q_corr_stats); this is the shape you use the moment the model
    grows a second feature and the built-ins stop."""
    e = load_table(spark, sf_dir, "events")
    f = e.select(
        "event_type",
        F.hour("ts").cast("double").alias("x1"),
        F.dayofmonth("ts").cast("double").alias("x2"),
        F.col("value").alias("y"),
    )
    s = f.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x1").alias("sx1"),
        F.sum("x2").alias("sx2"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).alias("sx1x1"),
        F.sum(F.col("x1") * F.col("x2")).alias("sx1x2"),
        F.sum(F.col("x2") * F.col("x2")).alias("sx2x2"),
        F.sum(F.col("x1") * F.col("y")).alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).alias("sx2y"),
    )
    n = F.col("n")
    a11 = F.col("sx1x1") - F.col("sx1") * F.col("sx1") / n
    a12 = F.col("sx1x2") - F.col("sx1") * F.col("sx2") / n
    a22 = F.col("sx2x2") - F.col("sx2") * F.col("sx2") / n
    c1 = F.col("sx1y") - F.col("sx1") * F.col("sy") / n
    c2 = F.col("sx2y") - F.col("sx2") * F.col("sy") / n
    det = a11 * a22 - a12 * a12
    # singular-design guard: a group whose hour/day features are
    # constant or collinear has |det| ~ 0; emit NULL instead of the
    # IEEE inf/NaN both engines would otherwise produce (NaN-vs-NULL
    # comparator semantics diverge). Same literal gate in the oracle.
    det_ok = F.abs(det) > F.lit(_MULTI_REG_DET_EPS)
    b1 = F.when(det_ok, (a22 * c1 - a12 * c2) / det)
    b2 = F.when(det_ok, (a11 * c2 - a12 * c1) / det)
    intercept = F.col("sy") / n - b1 * F.col("sx1") / n - b2 * F.col("sx2") / n
    return s.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(b1, 4).alias("hour_slope"),
        F.round(b2, 4).alias("day_slope"),
        F.round(intercept, 4).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# shared exact-quantile kernel + fulfillment-latency census


def exact_grid_quantiles(
    df: DataFrame, key: str, col: str, p50_name: str, p90_name: str
) -> DataFrame:
    """EXACT per-key p50/p90 of an integer-valued column, histogram
    style: group to (key, value) counts first, run the cum/tot rank
    windows over the histogram-sized frame (|keys| x |distinct
    values|), never over the data-scale rows — the q_window_dist
    lesson. All rank arithmetic is integer ((n+1) div 2 and
    (9n+9) div 10 ceils), immune to percentile-interpolation
    divergence between engines. Shared by q_session_quality's census
    and q_fulfillment_latency."""
    from pyspark.sql import Window

    h = df.groupBy(key, col).agg(F.count(F.lit(1)).alias("cnt"))
    c = h.withColumn(
        "cum", F.sum("cnt").over(Window.partitionBy(key).orderBy(col))
    ).withColumn("tot", F.sum("cnt").over(Window.partitionBy(key)))
    return c.groupBy(key).agg(
        F.min(F.when(F.expr("cum >= (tot + 1) div 2"), F.col(col)))
        .cast("long")
        .alias(p50_name),
        F.min(F.when(F.expr("cum >= (9 * tot + 9) div 10"), F.col(col)))
        .cast("long")
        .alias(p90_name),
    )


_SLA_DAYS = 90

FULFILLMENT_ORACLE = f"""
WITH j AS (
    SELECT o.o_orderpriority AS priority,
           CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
base AS (
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN lat_days > {_SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           ROUND(SUM(lat_days) * 1.0 / COUNT(*), 6) AS mean_latency_days,
           CAST(MIN(lat_days) AS BIGINT) AS min_latency_days,
           CAST(MAX(lat_days) AS BIGINT) AS max_latency_days
    FROM j GROUP BY priority
),
h AS (SELECT priority, lat_days, COUNT(*) AS cnt FROM j GROUP BY priority, lat_days),
c AS (SELECT priority, lat_days,
             SUM(cnt) OVER (PARTITION BY priority ORDER BY lat_days) AS cum,
             SUM(cnt) OVER (PARTITION BY priority) AS tot
      FROM h),
p AS (SELECT priority,
             CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN lat_days END) AS BIGINT)
                 AS p50_latency_days,
             CAST(MIN(CASE WHEN cum >= (9 * tot + 9) // 10 THEN lat_days END) AS BIGINT)
                 AS p90_latency_days
      FROM c GROUP BY priority)
SELECT base.priority, n_items, n_late,
       ROUND(n_late * 1.0 / n_items, 6) AS late_share,
       mean_latency_days, min_latency_days, max_latency_days,
       p50_latency_days, p90_latency_days
FROM base JOIN p ON base.priority = p.priority
"""


@query("q_fulfillment_latency", FULFILLMENT_ORACLE)
def fulfillment_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship FULFILLMENT LATENCY census per order priority —
    the supply-chain decision table behind TPC-H Q12's late-lineitem
    count: per priority class, item counts, the share shipping past a
    {sla}-day SLA, and the full latency distribution (mean/min/max +
    EXACT p50/p90 days via the shared histogram-quantile kernel).
    [engine — not in reference]

    Scale design: lineitem ⋈ orders is THE canonical big-big equi-join
    — both sides corpus-scale, so it is deliberately UNHINTED (AQE
    broadcasts orders at bench scale; at 100 TB both sides shuffle on
    orderkey, and a lake bucketed on orderkey makes it co-located and
    shuffle-free). Only (orderkey, orderdate, priority) and
    (orderkey, shipdate) survive column pruning into the join. The
    census is one partial+final aggregate per branch and the quantile
    windows run over the (priority, day) histogram (|priorities| x
    |distinct latencies| rows), never the join output — the
    exact_grid_quantiles discipline shared with q_session_quality.
    Latency is integer days end to end (both engines diff calendar
    DATEs); day-level means are exact-integer sums divided once."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("lat_days"),
    )
    base = j.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.when(F.col("lat_days") > _SLA_DAYS, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.round(F.sum("lat_days") * 1.0 / F.count(F.lit(1)), 6).alias(
            "mean_latency_days"
        ),
        F.min("lat_days").cast("long").alias("min_latency_days"),
        F.max("lat_days").cast("long").alias("max_latency_days"),
    )
    q = exact_grid_quantiles(j, "priority", "lat_days", "p50_latency_days", "p90_latency_days")
    return base.join(q, "priority").select(
        "priority",
        "n_items",
        "n_late",
        F.round(F.col("n_late") * 1.0 / F.col("n_items"), 6).alias("late_share"),
        "mean_latency_days",
        "min_latency_days",
        "max_latency_days",
        "p50_latency_days",
        "p90_latency_days",
    )


fulfillment_latency.__doc__ = fulfillment_latency.__doc__.format(sla=_SLA_DAYS)


# supplier-side twin of the fulfillment census
SUPPLIER_FULFILLMENT_ORACLE = f"""
WITH j AS (
    SELECT l.l_suppkey,
           CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
j2 AS (
    SELECT n.n_name AS nation, j.l_suppkey, j.lat_days
    FROM j JOIN supplier s ON j.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
),
base AS (
    SELECT nation,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(CASE WHEN lat_days > {_SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
               AS n_late,
           ROUND(SUM(lat_days) * 1.0 / COUNT(*), 6) AS mean_latency_days,
           CAST(MIN(lat_days) AS BIGINT) AS min_latency_days,
           CAST(MAX(lat_days) AS BIGINT) AS max_latency_days
    FROM j2 GROUP BY nation
),
h AS (SELECT nation, lat_days, COUNT(*) AS cnt FROM j2 GROUP BY nation, lat_days),
c AS (SELECT nation, lat_days,
             SUM(cnt) OVER (PARTITION BY nation ORDER BY lat_days) AS cum,
             SUM(cnt) OVER (PARTITION BY nation) AS tot
      FROM h),
p AS (SELECT nation,
             CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN lat_days END) AS BIGINT)
                 AS p50_latency_days,
             CAST(MIN(CASE WHEN cum >= (9 * tot + 9) // 10 THEN lat_days END) AS BIGINT)
                 AS p90_latency_days
      FROM c GROUP BY nation)
SELECT base.nation, n_suppliers, n_items, n_late,
       ROUND(n_late * 1.0 / n_items, 6) AS late_share,
       mean_latency_days, min_latency_days, max_latency_days,
       p50_latency_days, p90_latency_days
FROM base JOIN p ON base.nation = p.nation
"""


@query("q_supplier_fulfillment", SUPPLIER_FULFILLMENT_ORACLE)
def supplier_fulfillment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier-side FULFILLMENT census — q_fulfillment_latency's twin
    cut by SUPPLIER NATION instead of order priority: per nation, the
    active supplier count, item volume, share shipping past the
    {sla}-day SLA, and the full order-to-ship latency distribution
    (mean/min/max + EXACT p50/p90 via the shared exact_grid_quantiles
    kernel). The sourcing decision table: a nation whose p90 latency
    blows the SLA needs supplier diversification before the next
    quarter, not after. [engine — not in reference]

    Scale design: this plan chains BOTH canonical big-big join shapes
    — lineitem ⋈ orders on orderkey (the lake's bucketing key), then
    the result ⋈ supplier on suppkey (the partsupp-like SECOND key,
    which no orderkey bucketing co-locates: at 100 TB this is the join
    that decides whether the supplier dimension is worth bucketing
    separately or small enough for a broadcast — here it is keyed and
    UNHINTED so AQE decides at runtime; nation is the only hinted
    broadcast, a true bounded dim). COUNT(DISTINCT suppkey) rides the
    census aggregate (Spark expands it to a two-phase exact distinct
    on the |nations|-bounded group set). Quantiles run over the
    (nation, day) histogram, never the join output — the
    exact_grid_quantiles discipline. Latency stays integer days end
    to end."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("lat_days"),
    )
    j2 = (
        j.join(s, j.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "l_suppkey", "lat_days")
    )
    base = j2.groupBy("nation").agg(
        F.countDistinct("l_suppkey").cast("long").alias("n_suppliers"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum(F.when(F.col("lat_days") > _SLA_DAYS, 1).otherwise(0))
        .cast("long")
        .alias("n_late"),
        F.round(F.sum("lat_days") * 1.0 / F.count(F.lit(1)), 6).alias(
            "mean_latency_days"
        ),
        F.min("lat_days").cast("long").alias("min_latency_days"),
        F.max("lat_days").cast("long").alias("max_latency_days"),
    )
    q = exact_grid_quantiles(
        j2, "nation", "lat_days", "p50_latency_days", "p90_latency_days"
    )
    return base.join(q, "nation").select(
        "nation",
        "n_suppliers",
        "n_items",
        "n_late",
        F.round(F.col("n_late") * 1.0 / F.col("n_items"), 6).alias("late_share"),
        "mean_latency_days",
        "min_latency_days",
        "max_latency_days",
        "p50_latency_days",
        "p90_latency_days",
    )


supplier_fulfillment.__doc__ = supplier_fulfillment.__doc__.format(sla=_SLA_DAYS)


# two-axis fulfillment matrix (supplier nation × priority)
FULFILLMENT_MATRIX_ORACLE = f"""
WITH j AS (
    SELECT o.o_orderpriority AS priority, l.l_suppkey,
           CAST(datediff('day', CAST(o.o_orderdate AS DATE),
                         CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lat_days
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
j2 AS (
    SELECT n.n_name AS nation, j.priority, j.lat_days
    FROM j JOIN supplier s ON j.l_suppkey = s.s_suppkey
           JOIN nation n ON s.s_nationkey = n.n_nationkey
)
SELECT nation, priority,
       CAST(GROUPING(nation) * 2 + GROUPING(priority) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       CAST(SUM(CASE WHEN lat_days > {_SLA_DAYS} THEN 1 ELSE 0 END) AS BIGINT)
           AS n_late,
       ROUND(SUM(CASE WHEN lat_days > {_SLA_DAYS} THEN 1 ELSE 0 END) * 1.0
             / COUNT(*), 6) AS late_share,
       ROUND(SUM(lat_days) * 1.0 / COUNT(*), 6) AS mean_latency_days,
       CAST(MAX(lat_days) AS BIGINT) AS max_latency_days
FROM j2
GROUP BY CUBE (nation, priority)
HAVING COUNT(*) > 0
"""
# ^ the HAVING is a no-op on real data (every materialized grouping
# carries >= 1 row) but aligns the engines on EMPTY input: DuckDB's
# CUBE emits the () grand-total row with COUNT 0 there, Spark's Expand
# emits nothing — found by the empty-inputs gate.


@query("q_fulfillment_matrix", FULFILLMENT_MATRIX_ORACLE)
def fulfillment_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-axis fulfillment MATRIX — CUBE(supplier nation, order
    priority) over the shared latency frame: every (nation, priority)
    cell plus both margins and the grand total, each with item count,
    SLA-late share, mean and max latency. The drill-down table behind
    q_fulfillment_latency (priority axis) and q_supplier_fulfillment
    (nation axis): a cell whose late_share beats BOTH its margins is
    a localized problem (one nation's suppliers failing one priority
    class), not a systemic one — the matrix separates those in one
    scan where the two single-axis censuses can't. gid disambiguates
    margin rows from data rows (nation/priority are never NULL in the
    data; gid = GROUPING(nation)·2 + GROUPING(priority), identical
    bit layout in Spark's grouping_id() and DuckDB's GROUPING()).
    [engine — not in reference]

    Scale design: the same two unhinted big-big joins as
    q_supplier_fulfillment (orderkey then suppkey; nation broadcast),
    then ONE cube aggregate — Spark expands CUBE into a single
    Expand + hash aggregate, so all four grouping sets ride one
    shuffle (4× the census rows, not 4× the corpus). Exact p50/p90
    live in the single-axis censuses (the histogram kernel per
    grouping set would quadruple the histogram frames for margin
    rows the drill-down reads rarely — deliberate scope cut,
    documented)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        "l_suppkey",
        F.datediff(F.to_date("l_shipdate"), F.to_date("o_orderdate"))
        .cast("long")
        .alias("lat_days"),
    )
    j2 = (
        j.join(s, j.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select(F.col("n_name").alias("nation"), "priority", "lat_days")
    )
    late = F.sum(F.when(F.col("lat_days") > _SLA_DAYS, 1).otherwise(0))
    return j2.cube("nation", "priority").agg(
        F.grouping_id().cast("long").alias("gid"),
        F.count(F.lit(1)).cast("long").alias("n_items"),
        late.cast("long").alias("n_late"),
        F.round(late * 1.0 / F.count(F.lit(1)), 6).alias("late_share"),
        F.round(F.sum("lat_days") * 1.0 / F.count(F.lit(1)), 6).alias(
            "mean_latency_days"
        ),
        F.max("lat_days").cast("long").alias("max_latency_days"),
    ).select(
        "nation", "priority", "gid", "n_items", "n_late", "late_share",
        "mean_latency_days", "max_latency_days",
    )


# ---------------------------------------------------------------------------
# customer repeat-order cadence census

REPEAT_CADENCE_ORACLE = """
WITH g AS (
    SELECT o_custkey,
           CAST(datediff('day',
                CAST(LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                            ORDER BY o_orderdate, o_orderkey) AS DATE),
                CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
    FROM orders
),
cust AS (
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey
),
dim AS (
    SELECT c.c_custkey, n.n_name AS nation
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
cb AS (
    SELECT dim.nation,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(CASE WHEN cust.n_orders >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_repeat
    FROM cust JOIN dim ON cust.o_custkey = dim.c_custkey
    GROUP BY dim.nation
),
jg AS (
    SELECT dim.nation, g.gap_days
    FROM g JOIN dim ON g.o_custkey = dim.c_custkey
    WHERE g.gap_days IS NOT NULL
),
base AS (
    SELECT nation, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(SUM(gap_days) * 1.0 / COUNT(*), 6) AS mean_gap_days,
           CAST(MIN(gap_days) AS BIGINT) AS min_gap_days,
           CAST(MAX(gap_days) AS BIGINT) AS max_gap_days
    FROM jg GROUP BY nation
),
h AS (SELECT nation, gap_days, COUNT(*) AS cnt FROM jg GROUP BY nation, gap_days),
c AS (SELECT nation, gap_days,
             SUM(cnt) OVER (PARTITION BY nation ORDER BY gap_days) AS cum,
             SUM(cnt) OVER (PARTITION BY nation) AS tot
      FROM h),
p AS (SELECT nation,
             CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN gap_days END) AS BIGINT)
                 AS p50_gap_days,
             CAST(MIN(CASE WHEN cum >= (9 * tot + 9) // 10 THEN gap_days END) AS BIGINT)
                 AS p90_gap_days
      FROM c GROUP BY nation)
SELECT cb.nation, n_customers, n_repeat,
       ROUND(n_repeat * 1.0 / n_customers, 6) AS repeat_rate,
       CAST(COALESCE(base.n_gaps, 0) AS BIGINT) AS n_gaps,
       base.mean_gap_days, base.min_gap_days, base.max_gap_days,
       p.p50_gap_days, p.p90_gap_days
FROM cb LEFT JOIN base ON cb.nation = base.nation
        LEFT JOIN p ON cb.nation = p.nation
"""


@query("q_repeat_cadence", REPEAT_CADENCE_ORACLE)
def repeat_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer REPEAT-ORDER CADENCE census per nation — the retention
    decision table behind reorder forecasting and churn windows: per
    nation, ordering customers, the share who ever reorder, and the
    full inter-order gap distribution (mean/min/max + EXACT p50/p90
    days between consecutive orders from the same customer). A nation
    whose p90 cadence is 400 days needs a 400-day attribution window
    before anyone is labeled churned. [engine — not in reference]

    Scale design: the self-history lag window shuffles orders ONCE on
    o_custkey, and the per-customer order count groups on the same key
    (subset rule — no second exchange); nation is a true bounded dim
    (broadcast-hinted), while the customer dimension join is keyed and
    UNHINTED (corpus-scale at 100 TB; AQE broadcasts at bench scale).
    The census is |nations|-bounded and the gap quantiles ride the
    shared exact_grid_quantiles histogram kernel, never a data-scale
    rank window. Nations with no repeat customer keep NULL gap
    features (n_gaps coalesced to 0) — a LEFT-join census, nothing
    silently vanishes. Gap arithmetic is integer calendar days end to
    end."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.withColumn(
        "gap_days",
        F.datediff(
            F.to_date("o_orderdate"), F.to_date(F.lag("o_orderdate").over(w))
        ).cast("long"),
    )
    cust = g.groupBy("o_custkey").agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
    nation = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", F.col("n_name").alias("nation")
    )
    dim = (
        load_table(spark, sf_dir, "customer")
        .select("c_custkey", "c_nationkey")
        .join(F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey"))
        .select("c_custkey", "nation")
    )
    cb = (
        cust.join(dim, cust.o_custkey == dim.c_custkey)
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.sum(F.when(F.col("n_orders") >= 2, 1).otherwise(0))
            .cast("long")
            .alias("n_repeat"),
        )
    )
    jg = (
        g.where(F.col("gap_days").isNotNull())
        .join(dim, g.o_custkey == dim.c_custkey)
        .select("nation", "gap_days")
    )
    base = jg.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_gaps"),
        F.round(F.sum("gap_days") * 1.0 / F.count(F.lit(1)), 6).alias("mean_gap_days"),
        F.min("gap_days").cast("long").alias("min_gap_days"),
        F.max("gap_days").cast("long").alias("max_gap_days"),
    )
    q = exact_grid_quantiles(jg, "nation", "gap_days", "p50_gap_days", "p90_gap_days")
    return (
        cb.join(base, "nation", "left")
        .join(q, "nation", "left")
        .select(
            "nation",
            "n_customers",
            "n_repeat",
            F.round(F.col("n_repeat") * 1.0 / F.col("n_customers"), 6).alias(
                "repeat_rate"
            ),
            F.coalesce(F.col("n_gaps"), F.lit(0)).cast("long").alias("n_gaps"),
            "mean_gap_days",
            "min_gap_days",
            "max_gap_days",
            "p50_gap_days",
            "p90_gap_days",
        )
    )
