"""Mergeable sketches (Apache DataSketches via Spark SQL built-ins):
HLL distinct counting, KLL quantiles, Theta set algebra.

THE 100 TB aggregation pattern: sketch each partition/day/shard cheaply
(bounded memory, one pass), persist the small sketch blobs, and MERGE
them for any rollup — re-aggregating a year of distincts/quantiles
touches 365 sketches, not 100 TB of raw rows. Exact re-computation
cannot do this (distinct and quantiles don't decompose); sketches make
the rollup associative at a known, bounded error.

All three queries are rows-only for the driver (DuckDB's estimators
are different implementations, so values can't hash-match); their
error CONTRACTS are asserted against exact answers in
tests/test_sketches.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcap_to_parquet_spark.functions.text import WHITESPACE_TOKENS_SQL
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_table

_US_PER_DAY = 86_400_000_000


@query("q_hll_rollup")  # rows-only: estimator-specific values
def hll_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per day AND overall from ONE pass: daily HLL
    sketches, then `hll_union_agg` merges the daily blobs into the
    total — the distinct-counting rollup that never revisits raw data.
    Output: one row per day plus a 'total' row whose estimate comes
    from merging the daily sketches (not from re-scanning)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros("ts") / _US_PER_DAY).cast("bigint").alias("day")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    per_day = daily.select(
        F.col("day").cast("string").alias("key"),
        F.hll_sketch_estimate("sk").alias("est_distinct"),
    )
    total = daily.agg(F.hll_union_agg("sk").alias("sk")).select(
        F.lit("total").alias("key"),
        F.hll_sketch_estimate("sk").alias("est_distinct"),
    )
    return per_day.unionByName(total)


@query("q_kll_quantiles")  # rows-only: estimator-specific values
def kll_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles from merged KLL sketches: sketch l_extendedprice per
    return-flag group, merge the group sketches, and read p50/p90/p99
    off both the groups and the merged total. The merge step is what
    approx_percentile hides — here the intermediate sketch is a value
    you can persist per partition/day and roll up later."""
    li = load_table(spark, sf_dir, "lineitem")
    grp = li.groupBy("l_returnflag").agg(
        F.kll_sketch_agg_double("l_extendedprice").alias("sk")
    )
    per_group = grp.select(
        F.col("l_returnflag").alias("key"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 2).alias("p50"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.9)), 2).alias("p90"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.99)), 2).alias("p99"),
    )
    total = grp.agg(F.kll_merge_agg_double("sk").alias("sk")).select(
        F.lit("total").alias("key"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.5)), 2).alias("p50"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.9)), 2).alias("p90"),
        F.round(F.kll_sketch_get_quantile_double("sk", F.lit(0.99)), 2).alias("p99"),
    )
    return per_group.unionByName(total)


@query("q_theta_audience_overlap")  # rows-only: estimator-specific values
def theta_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience set algebra WITHOUT materializing the sets: theta
    sketches of the viewer and purchaser user sets support union,
    intersection, and difference on the sketch blobs — |viewers|,
    |purchasers|, |both|, |viewers only|, |either| from two small
    sketches. The exact equivalent is a self-join per question; at
    100 TB the sketches are per-segment metadata you combine freely."""
    e = load_table(spark, sf_dir, "events")
    sk = e.groupBy().agg(
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "view", F.col("user_id"))
        ).alias("viewers"),
        F.theta_sketch_agg(
            F.when(F.col("event_type") == "purchase", F.col("user_id"))
        ).alias("purchasers"),
    )
    return sk.select(
        F.round(F.theta_sketch_estimate("viewers"), 1).alias("viewers"),
        F.round(F.theta_sketch_estimate("purchasers"), 1).alias("purchasers"),
        F.round(
            F.theta_sketch_estimate(F.theta_intersection("viewers", "purchasers")), 1
        ).alias("both"),
        F.round(
            F.theta_sketch_estimate(F.theta_difference("viewers", "purchasers")), 1
        ).alias("viewers_only"),
        F.round(
            F.theta_sketch_estimate(F.theta_union("viewers", "purchasers")), 1
        ).alias("either"),
    )


# ---------------------------------------------------------------------------
# count-min sketch, cross-engine EXACT oracle (md5-derived hash rows)

_CM_D = 4  # hash rows
_CM_W = 1024  # counters per row

COUNTMIN_ORACLE = f"""
WITH tok AS (SELECT unnest({WHITESPACE_TOKENS_SQL}) AS t FROM documents),
pos AS (
    -- ONE md5 per occurrence; row i's hash is hex slice [8i, 8i+8) of
    -- the 32-hex digest (independent-enough rows, 4x less hashing)
    SELECT t, i,
           ('0x' || substr(md5(t), 8 * i + 1, 8))::BIGINT % {_CM_W} AS p
    FROM tok, UNNEST(range({_CM_D})) AS r(i)
),
sk AS (SELECT i, p, COUNT(*) AS c FROM pos GROUP BY i, p),
probe AS (SELECT DISTINCT t, i, p FROM pos),
est AS (
    SELECT probe.t AS token, MIN(sk.c) AS est_n
    FROM probe JOIN sk USING (i, p)
    GROUP BY probe.t
)
SELECT token, est_n FROM est ORDER BY est_n DESC, token LIMIT 20
"""


@query("q_countmin_topk", COUNTMIN_ORACLE)
def countmin_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch token frequencies, top-20 by estimate — with an
    EXACT cross-engine oracle: the d={d} hash rows are md5-derived
    (identical bytes in Spark and DuckDB), so the full sketch —
    build, merge, probe — value-matches, not just error-bounds. The
    classic sketch guarantees hold and are separately pinned in
    tests/test_sketches.py: estimates never undercount, and overcount
    is bounded by collisions in a w={w} row.

    This is the mergeable-summary shape expressed as pure relational
    algebra: the "sketch" IS the (i, p, c) relation of {d}x{w}
    counters. Partial aggregation builds each partition's local sketch
    (bounded at d*w rows however big the partition), the final
    aggregate merges — Catalyst's partial+final is exactly the sketch
    merge, no UDAF needed. Probing re-derives each DISTINCT token's
    positions map-side and takes min-of-d over a join against the
    d*w-row sketch (broadcastable at any corpus size). Swap md5 for
    xxhash64 in production (cheaper; cross-engine parity is what md5
    buys here)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        F.explode(F.filter(F.split("text", r"\s+"), lambda t: t != "")).alias("t")
    )
    rows = F.array(*[F.lit(i) for i in range(_CM_D)])
    pos = tok.select("t", F.md5("t").alias("h")).select(
        "t",
        F.explode(rows).alias("i"),
        "h",
    ).select(
        "t",
        "i",
        (
            F.conv(F.substring("h", F.col("i") * 8 + 1, 8), 16, 10).cast("long")
            % _CM_W
        ).alias("p"),
    )
    sk = pos.groupBy("i", "p").agg(F.count(F.lit(1)).alias("c"))
    probe = pos.select("t", "i", "p").distinct()
    est = (
        probe.join(F.broadcast(sk), ["i", "p"])
        .groupBy(F.col("t").alias("token"))
        .agg(F.min("c").alias("est_n"))
    )
    return est.orderBy(F.col("est_n").desc(), "token").limit(20)


countmin_topk.__doc__ = countmin_topk.__doc__.format(d=_CM_D, w=_CM_W)


# ---------------------------------------------------------------------------
# bitmap-exact distinct: mergeable like a sketch, exact like COUNT(DISTINCT)

BITMAP_DISTINCT_ORACLE = """
SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
       COUNT(DISTINCT user_id) AS n_users
FROM events
GROUP BY day
UNION ALL
SELECT -1 AS day, COUNT(DISTINCT user_id) FROM events
ORDER BY day
"""


@query("q_bitmap_distinct", BITMAP_DISTINCT_ORACLE)
def bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT mergeable distinct counting via bitmap aggregates
    (Spark 3.5+): each (day, bucket) gets a 4KB bitmap of the ids it
    saw (``bitmap_construct_agg`` over ``bitmap_bit_position``), daily
    counts sum ``bitmap_count`` over buckets, and the all-time count
    ORs the daily bitmaps first (``bitmap_or_agg``) — re-aggregation
    without revisiting raw data, like the HLL rollup (q_hll_rollup)
    but EXACT, which is why the oracle is plain COUNT(DISTINCT).

    The scale contract: state per group is ceil(id_range/32768)
    bitmaps x 4KB regardless of row count, buckets merge
    associatively (partial aggregation works), and the shuffle carries
    bitmap blobs, not ids. The day -1 row is the merged total."""
    e = load_table(spark, sf_dir, "events")
    day = F.floor(F.unix_micros("ts") / _US_PER_DAY).cast("bigint").alias("day")
    per_bucket = (
        e.select(day, F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
                 F.expr("bitmap_bit_position(user_id)").alias("pos"))
        .groupBy("day", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    daily = per_bucket.groupBy("day").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_users")
    )
    total = (
        per_bucket.groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        # coalesce: SUM over zero buckets is NULL, but the count of an
        # empty table is 0 (what COUNT(DISTINCT) and the oracle say)
        .agg(F.coalesce(F.sum(F.expr("bitmap_count(bm)")), F.lit(0)).alias("n_users"))
        .select(F.lit(-1).cast("bigint").alias("day"), "n_users")
    )
    return daily.unionByName(total).orderBy("day")


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct rollup: the mergeable-sketch pattern
# with a deterministic, oracle-checkable estimator

_KMV_K = 64
_KMV_NUM = float((_KMV_K - 1) * 4294967296)  # (K-1) * 2^32, exact in double

KMV_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS uh
    FROM events
),
rk AS (
    SELECT event_type, uh,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY uh) AS rn
    FROM h
),
sk AS (SELECT * FROM rk WHERE rn <= {_KMV_K}),
per AS (
    SELECT event_type, MAX(rn) AS k_used,
           MAX(CASE WHEN rn = {_KMV_K} THEN uh END) AS kth
    FROM sk GROUP BY event_type
),
exact AS (SELECT event_type, COUNT(*) AS exact_distinct FROM h GROUP BY event_type),
muh AS (SELECT DISTINCT uh FROM sk),
mrk AS (SELECT uh, ROW_NUMBER() OVER (ORDER BY uh) AS rn FROM muh),
msk AS (SELECT * FROM mrk WHERE rn <= {_KMV_K}),
mper AS (
    SELECT MAX(rn) AS k_used, MAX(CASE WHEN rn = {_KMV_K} THEN uh END) AS kth
    FROM msk
),
mexact AS (SELECT COUNT(DISTINCT uh) AS exact_distinct FROM h)
SELECT p.event_type AS key,
       CASE WHEN p.k_used < {_KMV_K} THEN CAST(p.k_used AS DOUBLE)
            ELSE ROUND({_KMV_NUM} / p.kth, 2) END AS est_distinct,
       x.exact_distinct
FROM per p JOIN exact x USING (event_type)
UNION ALL
SELECT '__merged__',
       CASE WHEN m.k_used < {_KMV_K} THEN CAST(m.k_used AS DOUBLE)
            ELSE ROUND({_KMV_NUM} / m.kth, 2) END,
       mx.exact_distinct
FROM mper m, mexact mx
"""


@query("q_kmv_distinct", KMV_ORACLE)
def kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-count rollup — the EXACT-ORACLE
    twin of q_hll_rollup: a group's sketch is its {k} smallest distinct
    32-bit md5 hashes; the estimator is (k-1)/theta with theta the k-th
    minimum normalized hash, and a sketch that never filled is exact by
    construction. Unlike HLL (whose estimator is implementation-
    specific), every step here is plain integer/double algebra, so the
    DuckDB oracle reproduces the estimates bit-for-bit.

    The MERGEABILITY is the point: the '__merged__' row estimates the
    global distinct count from the union of the per-group sketches
    alone (k smallest of the union of k-smallest sets — KMV's merge is
    associative), never re-scanning the raw table. At 100 TB: sketch
    each day/partition (bottom-k is a partial aggregate; the
    per-group rank window reads only the group's distinct hashes and
    the merged window reads <= k x n_groups presorted rows), persist
    the k-value blobs, and answer any rollup from sketches.
    Output: (key, est_distinct, exact_distinct) — the exact column is
    computed alongside to expose the sketch error; at real scale you
    would drop it."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    uh = F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10).cast(
        "long"
    )
    h = e.select("event_type", uh.alias("uh")).distinct()
    w = Window.partitionBy("event_type").orderBy("uh")
    sk = h.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= _KMV_K)

    def est() -> "F.Column":  # lazy: Column lives on pyspark.sql, not functions
        return F.when(
            F.col("k_used") < _KMV_K, F.col("k_used").cast("double")
        ).otherwise(F.round(F.lit(_KMV_NUM) / F.col("kth"), 2))

    per = sk.groupBy("event_type").agg(
        F.max("rn").alias("k_used"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("uh"))).alias("kth"),
    )
    exact = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_distinct"))
    per_rows = per.join(exact, "event_type").select(
        F.col("event_type").alias("key"), est().alias("est_distinct"), "exact_distinct"
    )
    # merged sketch: bounded input (<= K rows per group), so the global
    # rank window is a single tiny task by construction, not a scale risk
    muh = sk.select("uh").distinct()
    mrk = muh.withColumn("rn", F.row_number().over(Window.orderBy("uh"))).filter(
        F.col("rn") <= _KMV_K
    )
    mper = mrk.agg(
        F.max("rn").alias("k_used"),
        F.max(F.when(F.col("rn") == _KMV_K, F.col("uh"))).alias("kth"),
    )
    mexact = h.select("uh").distinct().agg(F.count(F.lit(1)).alias("exact_distinct"))
    merged_row = mper.crossJoin(mexact).select(
        F.lit("__merged__").alias("key"), est().alias("est_distinct"), "exact_distinct"
    )
    return per_rows.unionByName(merged_row)


kmv_distinct.__doc__ = kmv_distinct.__doc__.format(k=_KMV_K)


# ---------------------------------------------------------------------------
# KMV over sliding time windows: sketch once per day, answer any window

_KMVW_K = 64
_KMVW_NUM = float((_KMVW_K - 1) * 4294967296)
_KMVW_DAYS = 7

KMV_WINDOW_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT
           CAST(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS BIGINT) AS day,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS uh
    FROM events
),
rk AS (
    SELECT day, uh, ROW_NUMBER() OVER (PARTITION BY day ORDER BY uh) AS rn
    FROM h
),
daily AS (SELECT day, uh FROM rk WHERE rn <= {_KMVW_K}),
days AS (SELECT DISTINCT day FROM daily),
win AS (
    SELECT d.day, x.uh
    FROM days d
    JOIN daily x ON x.day BETWEEN d.day - {_KMVW_DAYS - 1} AND d.day
    GROUP BY d.day, x.uh
),
wrk AS (
    SELECT day, uh, ROW_NUMBER() OVER (PARTITION BY day ORDER BY uh) AS rn
    FROM win
),
wsk AS (SELECT day, uh, rn FROM wrk WHERE rn <= {_KMVW_K}),
per AS (
    SELECT day, MAX(rn) AS k_used,
           MAX(CASE WHEN rn = {_KMVW_K} THEN uh END) AS kth
    FROM wsk GROUP BY day
)
SELECT day,
       CASE WHEN k_used < {_KMVW_K} THEN CAST(k_used AS DOUBLE)
            ELSE ROUND({_KMVW_NUM} / kth, 2) END AS est_distinct_7d
FROM per
"""


@query("q_kmv_window", KMV_WINDOW_ORACLE)
def kmv_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window distinct counting from MERGED DAILY SKETCHES —
    the query that justifies sketching at all: a 7-day distinct-user
    estimate for EVERY day, computed purely by merging that week's
    per-day KMV sketches (union the k-min sets, re-take the k
    smallest). The raw table is touched exactly once, to build the
    daily sketches; every window after that reads <= 7k tiny sketch
    rows. Exact COUNT DISTINCT cannot do this — distinct does not
    decompose over windows, which at 100 TB means either re-scanning
    a week of raw data per day or storing per-user state; sketch
    merge replaces both with an O(days x k) join.

    The estimator is deterministic KMV (as q_kmv_distinct), so every
    estimate value-hashes against the SQL oracle."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    uh = F.conv(
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10
    ).cast("long")
    h = e.select(
        F.floor(F.unix_micros(F.date_trunc("day", "ts")) / _US_PER_DAY)
        .cast("bigint")
        .alias("day"),
        uh.alias("uh"),
    ).distinct()
    daily = (
        h.withColumn(
            "rn", F.row_number().over(Window.partitionBy("day").orderBy("uh"))
        )
        .filter(F.col("rn") <= _KMVW_K)
        .select("day", "uh")
    )
    days = daily.select("day").distinct()
    win = (
        days.alias("d")
        .join(
            daily.alias("x"),
            F.col("x.day").between(F.col("d.day") - (_KMVW_DAYS - 1), F.col("d.day")),
        )
        .select(F.col("d.day").alias("day"), "x.uh")
        .distinct()
    )
    wsk = win.withColumn(
        "rn", F.row_number().over(Window.partitionBy("day").orderBy("uh"))
    ).filter(F.col("rn") <= _KMVW_K)
    per = wsk.groupBy("day").agg(
        F.max("rn").alias("k_used"),
        F.max(F.when(F.col("rn") == _KMVW_K, F.col("uh"))).alias("kth"),
    )
    return per.select(
        "day",
        F.when(F.col("k_used") < _KMVW_K, F.col("k_used").cast("double"))
        .otherwise(F.round(F.lit(_KMVW_NUM) / F.col("kth"), 2))
        .alias("est_distinct_7d"),
    )
