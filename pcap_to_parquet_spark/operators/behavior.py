"""User-behavior analytics: ordered funnels, cohort retention, rolling
medians, heavy-hitter admission. [engine — not in reference; the
reference delegates all querying downstream, README.md:20-40]

The product-analytics family every event warehouse runs daily. Scale
discipline, per operator:

- the funnel is a chain of groupBy-min + equi-joins, ALL keyed on
  user_id — one partitioning reused end-to-end, no corpus-wide state;
- retention is two user_id aggregates joined on user_id, then a
  grouped count whose output is |cohorts| × |weeks| — tiny at any
  corpus size;
- rolling median stays in pure column algebra (sorted-array window),
  never a Python UDF: the frame is O(1) rows, so collect_list per row
  is bounded work inside whole-stage codegen;
- heavy hitters bounds the shuffle by per-partition admission: only
  candidate tokens (≤ capacity × partitions rows) reach the exchange,
  not the full vocabulary — the point of the pattern at 100 TB, where
  the distinct-token set itself is shuffle-hostile.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pcap_to_parquet_spark.functions.text import WHITESPACE_TOKENS_SQL, whitespace_tokens
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.session import broadcast_threshold_bytes, observed_checkpoint
from pcap_to_parquet_spark.sources import fan_out, load_table

# ---------------------------------------------------------------------------
# ordered funnel: view -> click -> purchase, strictly increasing ts

FUNNEL_ORACLE = """
WITH v AS (
    SELECT user_id, MIN(ts) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t
    WHERE e.event_type = 'click' GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(e.ts) AS t
    FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t
    WHERE e.event_type = 'purchase' GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
UNION ALL
SELECT 2 AS stage_idx, 'click' AS stage, (SELECT COUNT(*) FROM c) AS n_users
UNION ALL
SELECT 3 AS stage_idx, 'purchase' AS stage, (SELECT COUNT(*) FROM p) AS n_users
"""


@query("q_funnel", FUNNEL_ORACLE)
def funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users who viewed, then clicked
    strictly after their first view, then purchased strictly after
    that click. The strict-ordering semantics (each stage anchored at
    the previous stage's FIRST qualifying event) is what separates a
    funnel from three independent filters.

    Every stage is groupBy(user_id).min + an equi-join on user_id with
    the ordering predicate as the join residual — the hash join Spark
    plans for this carries one row per converted user, and all three
    stages reuse the user_id partitioning. Nothing here is
    corpus-sized: stage frames are |users| rows."""
    e = load_table(spark, sf_dir, "events")

    def first_after(prev: DataFrame, etype: str) -> DataFrame:
        s = e.filter(F.col("event_type") == etype).alias("s")
        p = prev.alias("p")
        return (
            s.join(p, (F.col("s.user_id") == F.col("p.user_id")) & (F.col("s.ts") > F.col("p.t")))
            .groupBy(F.col("s.user_id").alias("user_id"))
            .agg(F.min("s.ts").alias("t"))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t"))
    )
    c = first_after(v, "click")
    p = first_after(c, "purchase")

    def stage_row(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_users"
        )

    return stage_row(v, 1, "view").unionAll(stage_row(c, 2, "click")).unionAll(
        stage_row(p, 3, "purchase")
    )


# ---------------------------------------------------------------------------
# cohort retention: first-seen week x activity-week offset

_US_PER_WEEK = 7 * 86_400_000_000

RETENTION_ORACLE = f"""
WITH f AS (
    SELECT user_id, MIN(epoch_us(ts)) // {_US_PER_WEEK} AS cohort_week
    FROM events GROUP BY user_id
),
a AS (
    SELECT DISTINCT user_id, epoch_us(ts) // {_US_PER_WEEK} AS week
    FROM events
)
SELECT f.cohort_week, a.week - f.cohort_week AS week_offset,
       COUNT(*) AS n_users
FROM a JOIN f ON a.user_id = f.user_id
GROUP BY f.cohort_week, a.week - f.cohort_week
"""


@query("q_retention_cohort", RETENTION_ORACLE)
def retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week
    (the cohort), counted in each later week they were active. The
    week is all-integer epoch arithmetic (µs div week-µs) — identical
    floor division in both engines, no calendar/ISO-week semantics to
    disagree on.

    Two aggregates and a join, all keyed on user_id (one partitioning
    chain); the final groupBy's key space is |cohorts| × |offsets| —
    tens of rows regardless of corpus size."""
    e = load_table(spark, sf_dir, "events")
    wk = F.expr(f"unix_micros(ts) div {_US_PER_WEEK}")
    f = e.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    a = e.select("user_id", wk.alias("week")).distinct()
    return (
        a.join(f, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("week_offset"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


# ---------------------------------------------------------------------------
# rolling median: order-statistic over a bounded row frame

ROLLING_MEDIAN_ORACLE = """
SELECT user_id, event_id,
       ROUND(median(value) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
       ), 4) AS roll_med
FROM events
"""


@query("q_rolling_median", ROLLING_MEDIAN_ORACLE)
def rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-row median per user — the robust-trend primitive
    moving averages can't give you. Spark has no median window
    function; the engine composes one from column algebra:
    ``array_sort(collect_list(value))`` over the frame, middle element
    (odd) or mean of the two middles (even, matching DuckDB's
    interpolating median).

    Stays entirely in whole-stage codegen — no Python UDF. The frame
    is a bounded 7 rows, so per-row work is O(frame log frame) and the
    only data movement is the one Exchange on user_id. An UNBOUNDED
    frame would make this quadratic — bounded frames are the contract
    for sorted-array windows."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    lo = F.element_at(arr, (n / 2).cast("int"))
    hi = F.element_at(arr, (n / 2 + 1).cast("int"))
    odd = F.element_at(arr, ((n + 1) / 2).cast("int"))
    # n == 0 (all-null frame): element_at(…, 0) is an ANSI error, and
    # the median of nothing is NULL — same as DuckDB
    med = (
        F.when(n == 0, F.lit(None).cast("double"))
        .when(n % 2 == 1, odd)
        .otherwise((lo + hi) / 2.0)
    )
    return e.select("user_id", "event_id", F.round(med, 4).alias("roll_med"))


# ---------------------------------------------------------------------------
# heavy hitters: per-partition admission -> exact recount of candidates

_HH_K = 20
_HH_CAPACITY = 4096

HEAVY_HITTERS_ORACLE = rf"""
WITH tok AS (
    SELECT unnest({WHITESPACE_TOKENS_SQL}) AS token FROM documents
),
counts AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token)
SELECT token, n FROM counts
ORDER BY n DESC, token
LIMIT {_HH_K}
"""


@query("q_heavy_hitters", HEAVY_HITTERS_ORACLE)
def heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-k frequent tokens via bounded-shuffle admission: each
    partition emits only its ``capacity`` most frequent tokens
    (vectorized pandas value_counts — the deterministic-recall variant
    of a Misra-Gries summary), the candidate union is exactly
    recounted, and top-k is taken from the recount.

    Recall guarantee (why the oracle comparison is exact): fewer than
    ``capacity`` tokens can exceed count n_p/capacity within a
    partition of n_p tokens, so every token with GLOBAL count >
    n/capacity survives admission in at least one partition — with the
    k-th count above that bar (asserted in tests), the candidate set
    provably contains the true top-k whatever the partitioning.

    At 100 TB the difference vs a naive groupBy is the exchange: the
    full vocabulary (billions of distinct tokens × partitions) never
    shuffles — only ≤ capacity × partitions candidate rows do, and the
    recount join broadcasts the candidate set."""
    import pandas as pd

    d = load_table(spark, sf_dir, "documents")
    tok = fan_out(d).select(F.explode(whitespace_tokens("text")).alias("token"))

    def admit(batches):
        # accumulate exact counts across ALL Arrow batches of the
        # partition before admitting, so the candidate bound really is
        # capacity x partitions (not capacity x batches) and the
        # admission bar is n_partition/capacity as documented. The
        # accumulator holds the partition's distinct tokens — for strict
        # O(capacity) memory swap in Misra-Gries decrements; exact
        # accumulation keeps the recall proof one line.
        acc = None
        for pdf in batches:
            vc = pdf["token"].value_counts()
            acc = vc if acc is None else acc.add(vc, fill_value=0)
        if acc is not None:
            top = acc.sort_values(ascending=False).head(_HH_CAPACITY)
            yield pd.DataFrame({"token": top.index.astype(str)})

    candidates = tok.mapInPandas(admit, "token string").distinct()
    # exact recount of candidates only; the candidate set is small by
    # construction, so it broadcasts and the shuffle carries one row
    # per (partition, candidate) partial count
    recount = (
        tok.join(F.broadcast(candidates), "token")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return recount.orderBy(F.col("n").desc(), "token").limit(_HH_K)


# ---------------------------------------------------------------------------
# rolling distinct users: the 7-day-active (WAU) metric

_US_PER_DAY = 86_400_000_000

ROLLING_DISTINCT_ORACLE = f"""
WITH ud AS (
    SELECT DISTINCT user_id, epoch_us(ts) // {_US_PER_DAY} AS day FROM events
),
days AS (SELECT DISTINCT day FROM ud),
expanded AS (
    SELECT d.day, u.user_id
    FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
)
SELECT day, COUNT(DISTINCT user_id) AS wau FROM expanded GROUP BY day
"""


@query("q_rolling_distinct", ROLLING_DISTINCT_ORACLE)
def rolling_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day distinct actives per day (the WAU curve). Distinct
    counts don't decompose over sliding windows, so the exact shape is
    replicate-then-distinct: each (user, active-day) row fans out to
    the ≤7 report days it supports (map-side ``explode(sequence)``,
    no join), then a two-phase distinct count per report day.

    The fan-out factor is the window length — bounded, known, and far
    cheaper at scale than per-day full-history distincts. Report days
    are clipped to days that actually occur (broadcast semi-join with
    the tiny day dimension), matching the oracle's day set."""
    e = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(ts) div {_US_PER_DAY}")
    ud = e.select("user_id", day.alias("day")).distinct()
    days = ud.select("day").distinct()
    fanned = ud.select(
        "user_id", F.explode(F.sequence("day", F.col("day") + 6)).alias("rday")
    )
    return (
        fanned.join(F.broadcast(days), fanned.rday == days.day, "left_semi")
        .groupBy(F.col("rday").alias("day"))
        .agg(F.countDistinct("user_id").alias("wau"))
    )


# ---------------------------------------------------------------------------
# peak concurrency: sweep-line max of overlapping activity intervals

_HOLD_US = 300_000_000  # each event holds its resource for 5 minutes

PEAK_CONCURRENCY_ORACLE = f"""
WITH pts AS (
    SELECT epoch_us(ts) AS t, 1 AS delta FROM events
    UNION ALL
    SELECT epoch_us(ts) + {_HOLD_US} AS t, -1 AS delta FROM events
),
sweep AS (
    SELECT t // {_US_PER_DAY} AS day,
           SUM(delta) OVER (PARTITION BY t // {_US_PER_DAY} ORDER BY t, delta)
               AS running
    FROM pts
)
SELECT day, CAST(MAX(running) AS BIGINT) AS peak FROM sweep GROUP BY day
"""


@query("q_peak_concurrency", PEAK_CONCURRENCY_ORACLE)
def peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak simultaneous activity intervals per day — the sweep line:
    every interval contributes a +1 at its start and a −1 at its end,
    the running sum orders by (t, delta) so ends precede starts at the
    same instant (half-open intervals), and the per-day max of the
    running sum is the peak. Day partitioning resets the sweep at
    midnight (documented boundary convention, identical in the
    oracle), which is what keeps the window PARTITIONED — the
    unpartitioned global sweep is the single-sort trap q_window_dist
    demonstrates the escape from.

    Default RANGE window frames on both engines make tie groups
    deterministic: all rows of an equal (t, delta) key see the same
    running value, and group maxima are permutation-invariant."""
    e = load_table(spark, sf_dir, "events")
    t = F.unix_micros("ts")
    starts = e.select(t.alias("t"), F.lit(1).alias("delta"))
    ends = e.select((t + _HOLD_US).alias("t"), F.lit(-1).alias("delta"))
    pts = starts.unionAll(ends).withColumn("day", F.expr(f"t div {_US_PER_DAY}"))
    w = Window.partitionBy("day").orderBy("t", "delta")
    return (
        pts.withColumn("running", F.sum("delta").over(w))
        .groupBy("day")
        .agg(F.max("running").alias("peak"))
    )


# ---------------------------------------------------------------------------
# CDC apply: latest-wins with delete tombstones, as one aggregate

CDC_APPLY_ORACLE = """
WITH cdc AS (
    SELECT user_id, ts, event_id, value,
           CASE event_type WHEN 'signup' THEN 'I'
                           WHEN 'error' THEN 'D'
                           ELSE 'U' END AS op
    FROM events
),
latest AS (
    SELECT user_id, op, value,
           ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
           ) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n_ops
    FROM cdc
)
SELECT user_id, ROUND(value, 4) AS last_value, n_ops
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@query("q_cdc_apply", CDC_APPLY_ORACLE)
def cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-capture apply: collapse a keyed op log
    (insert/update/delete) to its final state — latest op wins, a
    trailing delete tombstones the key. The op column is derived from
    event_type (signup=I, error=D, else U) to give the events table
    CDC semantics.

    Implemented as ONE hash aggregate with ``max_by(struct(op, value),
    struct(ts, event_id))`` rather than the row_number window the
    oracle uses: the aggregate partial-combines map-side, so the
    shuffle carries one row per (partition, key) instead of the full
    history, and nothing is sorted — the asymptotic difference between
    compacting a 100 TB CDC log (agg) and re-sorting it (window)."""
    e = load_table(spark, sf_dir, "events")
    op = (
        F.when(F.col("event_type") == "signup", "I")
        .when(F.col("event_type") == "error", "D")
        .otherwise("U")
    )
    latest = (
        e.select("user_id", "ts", "event_id", "value", op.alias("op"))
        .groupBy("user_id")
        .agg(
            F.max_by(F.struct("op", "value"), F.struct("ts", "event_id")).alias("last"),
            F.count(F.lit(1)).alias("n_ops"),
        )
    )
    return latest.filter(F.col("last.op") != "D").select(
        "user_id", F.round("last.value", 4).alias("last_value"), "n_ops"
    )


# ---------------------------------------------------------------------------
# Markov transitions: event-type bigram matrix with row-normalized P

MARKOV_ORACLE = """
WITH seq AS (
    SELECT user_id, event_type,
           LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
           ) AS prev
    FROM events
)
SELECT prev AS prev_state, event_type AS next_state, COUNT(*) AS n,
       ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY prev), 4) AS p
FROM seq WHERE prev IS NOT NULL
GROUP BY prev, event_type
"""


@query("q_markov_transitions", MARKOV_ORACLE)
def markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order behavior model: the event-type transition matrix
    (bigram counts per user timeline, row-normalized to probabilities).
    What \"what do users do after an error?\" queries and
    next-action-prediction baselines are built from.

    The lag window shuffles once on user_id; the transition aggregate
    then reduces to |states|² rows, so the row-normalizing window runs
    over a 25-row frame — the tiny-aggregate case where a broadcast-
    size window is the right call, not a scale hazard."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNotNull()
    )
    counts = seq.groupBy(
        F.col("prev").alias("prev_state"), F.col("event_type").alias("next_state")
    ).agg(F.count(F.lit(1)).alias("n"))
    wp = Window.partitionBy("prev_state")
    return counts.select(
        "prev_state",
        "next_state",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 4).alias("p"),
    )


# ---------------------------------------------------------------------------
# market-basket affinity: part pairs co-ordered, top-k

_BASKET_K = 20

BASKET_ORACLE = f"""
WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)
SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS n_orders
FROM items a
JOIN items b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b
LIMIT {_BASKET_K}
"""


@query("q_basket_pairs", BASKET_ORACLE)
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the part pairs most often ordered
    together (the affinity/recommendation primitive). Distinct
    (order, part), self-join on the order key with ``part_a < part_b``
    to emit each unordered pair once, count, exact top-k.

    The self-join is EQUI on l_orderkey, so both sides co-partition on
    the same key — one shuffle each, never a cartesian; per-order
    fan-out is C(items,2) with basket-sized items, which is the
    bounded blow-up this query is priced at (the same hot-key argument
    as ngram_jaccard's DF cap: a pathological mega-order would need a
    basket-size cap, noted here for 100 TB honesty). Top-k is
    TakeOrderedAndProject with a full (n, part_a, part_b) tiebreak —
    deterministic, no global sort."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.alias("a")
    b = items.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_partkey") < F.col("b.l_partkey")),
    ).select(
        F.col("a.l_partkey").alias("part_a"), F.col("b.l_partkey").alias("part_b")
    )
    counts = pairs.groupBy("part_a", "part_b").agg(F.count(F.lit(1)).alias("n_orders"))
    return counts.orderBy(F.col("n_orders").desc(), "part_a", "part_b").limit(_BASKET_K)


# ---------------------------------------------------------------------------
# A/B comparison: Welch t-statistic per event_type between user halves

AB_TTEST_ORACLE = """
WITH s AS (
    SELECT event_type, user_id % 2 AS grp,
           COUNT(*) AS n, AVG(value) AS m, VAR_SAMP(value) AS v
    FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.n AS n_a, b.n AS n_b,
       ROUND(a.m - b.m, 4) AS mean_diff,
       ROUND((a.m - b.m) / sqrt(a.v / a.n + b.v / b.n), 4) AS t_stat
FROM s a JOIN s b ON a.event_type = b.event_type
WHERE a.grp = 0 AND b.grp = 1
"""


@query("q_ab_ttest", AB_TTEST_ORACLE)
def ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample experiment readout: Welch's t-statistic per event
    type between the user_id-parity halves (the deterministic stand-in
    for an assignment column). One grouped aggregate computes
    count/mean/variance for every (metric, arm) — map-side combinable
    — and the t-stat assembles from the |metrics|×2 summary, so the
    corpus is read once and nothing but the summary shuffles.

    sqrt is IEEE-correctly-rounded everywhere (unlike ln — the tfidf
    lesson), so cross-engine parity holds at full precision before the
    display rounding."""
    e = load_table(spark, sf_dir, "events")
    s = e.groupBy("event_type", (F.col("user_id") % 2).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("value").alias("m"),
        F.var_samp("value").alias("v"),
    )
    a = s.filter(F.col("grp") == 0).alias("a")
    b = s.filter(F.col("grp") == 1).alias("b")
    return a.join(b, F.col("a.event_type") == F.col("b.event_type")).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
        F.round(F.col("a.m") - F.col("b.m"), 4).alias("mean_diff"),
        F.round(
            (F.col("a.m") - F.col("b.m"))
            / F.sqrt(F.col("a.v") / F.col("a.n") + F.col("b.v") / F.col("b.n")),
            4,
        ).alias("t_stat"),
    )


# ---------------------------------------------------------------------------
# period-over-period: daily revenue with percent change

PCT_CHANGE_ORACLE = f"""
WITH daily AS (
    SELECT epoch_us(ts) // {_US_PER_DAY} AS day, SUM(value) AS revenue
    FROM events GROUP BY 1
)
SELECT day, ROUND(revenue, 4) AS revenue,
       ROUND((revenue - LAG(revenue) OVER (ORDER BY day))
             / LAG(revenue) OVER (ORDER BY day), 4) AS pct_change
FROM daily
"""


@query("q_pct_change", PCT_CHANGE_ORACLE)
def pct_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-over-day revenue change — the dashboard staple. The
    aggregate reduces the corpus to one row per day FIRST; the
    unpartitioned lag window then runs over that |days|-sized series,
    which is the documented tiny-aggregate exception to the
    no-global-window rule (same argument as q_vocab_build's rank)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.expr(f"unix_micros(ts) div {_US_PER_DAY}").alias("day")
    ).agg(F.sum("value").alias("revenue"))
    w = Window.orderBy("day")
    prev = F.lag("revenue").over(w)
    return daily.select(
        "day",
        F.round("revenue", 4).alias("revenue"),
        F.round((F.col("revenue") - prev) / prev, 4).alias("pct_change"),
    )


# ---------------------------------------------------------------------------
# triangle counting on the co-order graph (degree-ordered, the
# distributed graph kernel that bounds wedge explosion)

TRIANGLE_ORACLE = """
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
    ) GROUP BY node
),
oriented AS (
    SELECT CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.u ELSE p.v END AS s,
           CASE WHEN (du.d, p.u) < (dv.d, p.v) THEN p.v ELSE p.u END AS t
    FROM pairs p
    JOIN deg du ON du.node = p.u
    JOIN deg dv ON dv.node = p.v
),
wedges AS (
    -- canonical (min, max) wedge endpoints: the closing probe is then
    -- ONE equi-join against the canonical edge set, never an OR join
    SELECT LEAST(e1.t, e2.t) AS v, GREATEST(e1.t, e2.t) AS w
    FROM oriented e1 JOIN oriented e2
      ON e1.s = e2.s AND e1.t < e2.t
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM wedges wd
    JOIN pairs e ON e.u = wd.v AND e.v = wd.w
)
SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
       (SELECT COUNT(*) FROM wedges) AS n_wedges,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


@query("q_triangle_count", TRIANGLE_ORACLE)
def triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting over the parts-bought-together graph — the
    graph kernel behind clustering coefficients and community
    strength, and the OTHER fundamental distributed-graph shape next
    to q_dedup_clusters' components loop.

    The load-bearing trick is DEGREE ORIENTATION: each undirected edge
    points from its (degree, id)-smaller endpoint, so every wedge is
    enumerated at its lowest-degree vertex — total wedge count drops
    from sum(d²) over raw degrees (hub-explosive) to the arboricity
    bound, the difference between melting on the first celebrity node
    and scaling. Three shuffles total: degree count, wedge self-join
    on the source, wedge-closing edge probe. The distinct edge list
    and the oriented edge list are localCheckpointed ONCE and reused
    (same lineage discipline as q_pagerank's edge set — without it
    every downstream consumer re-runs the co-purchase self-join), and
    the wedge count rides the closing probe as a left join so wedges
    are enumerated exactly once."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)  # |E|-bounded; reused by 3 stages
    )
    deg = (
        pairs.select(F.col("u").alias("node"))
        .unionAll(pairs.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    du, dv = deg.alias("du"), deg.alias("dv")
    p = pairs.alias("p")
    first_is_smaller = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("p.u") < F.col("p.v"))
    )
    oriented = (
        p.join(du, F.col("du.node") == F.col("p.u"))
        .join(dv, F.col("dv.node") == F.col("p.v"))
        .select(
            F.when(first_is_smaller, F.col("p.u")).otherwise(F.col("p.v")).alias("s"),
            F.when(first_is_smaller, F.col("p.v")).otherwise(F.col("p.u")).alias("t"),
        )
        .localCheckpoint(eager=True)  # |E|-bounded; wedge self-join input
    )
    # |E| is needed as an output scalar anyway; read it off the
    # checkpointed RDD (one cheap count) and use it to pick the join
    # strategy for the two wedge-side joins. AQE cannot make this call
    # itself: a localCheckpoint scan reports unknown stats, so both
    # joins would SMJ — shuffling AND sorting the multi-million-row
    # WEDGE STREAM to meet the |E|-row edge set. When the edge set fits
    # the session's broadcast threshold the wedge stream instead probes
    # two broadcast hash maps and never shuffles at all; above the
    # threshold (the 100-TB regime) the plan is exactly the old
    # shuffled one. Scale-adaptive via the conf, not a constant.
    n_edges = pairs.count()
    # 48 B/row prices the BroadcastHashJoin's built HashedRelation (a
    # 2-long UnsafeRow is 24 B; LongToUnsafeRowMap adds ~2x in page and
    # slot overhead), not the 16 B of column data: the serialized-row
    # estimate understates the in-memory footprint. Two such relations
    # (oriented + pairs) are live at once, so worst case is ~2x the
    # threshold; the threshold is parsed unit-aware (external sessions
    # carry '10MB'-style values) and an unparseable/disabled value falls
    # back to the shuffled plan.
    bcast_ok = n_edges * 48 < broadcast_threshold_bytes(spark)
    # fan_out the PROBE side when broadcasting: the checkpoint froze the
    # AQE-coalesced partitioning (3-10 partitions at sf0.1), and without
    # the SMJ exchange to re-spread it, the wedge enumeration — the
    # CPU-heavy part — would run on that handful of cores
    e1 = (fan_out(oriented) if bcast_ok else oriented).alias("e1")
    e2 = (F.broadcast(oriented) if bcast_ok else oriented).alias("e2")
    # canonical (min, max) endpoints so the closing probe is one
    # equi-join against the canonical edge set (an OR of orientations
    # would plan as a nested loop)
    # the join condition already orders the endpoints (e1.t < e2.t),
    # so the canonical (min, max) wedge is a direct projection — no
    # least/greatest per wedge row
    wedges = e1.join(
        e2,
        (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t")),
    ).select(F.col("e1.t").alias("v"), F.col("e2.t").alias("w"))
    e = (F.broadcast(pairs) if bcast_ok else pairs).alias("e")
    # wedge count + closing probe in ONE pass over the wedge stream:
    # pairs is distinct, so the left join matches at most one edge per
    # wedge — count(*) is the wedge count, count(e.u) the triangles
    closed = (
        wedges.alias("wd")
        .join(
            e,
            (F.col("e.u") == F.col("wd.v")) & (F.col("e.v") == F.col("wd.w")),
            "left",
        )
        .agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.count("e.u").alias("n_triangles"),
        )
    )
    return closed.select(
        F.lit(n_edges).cast("long").alias("n_edges"), "n_wedges", "n_triangles"
    )


# ---------------------------------------------------------------------------
# time-bounded funnel: conversion only counts within the window

_FUNNEL_WINDOW_US = 24 * 3600 * 1_000_000  # 24 h per step

FUNNEL_BOUNDED_ORACLE = f"""
WITH v AS (
    SELECT user_id, MIN(epoch_us(ts)) AS t FROM events
    WHERE event_type = 'view' GROUP BY user_id
),
c AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
    FROM events e JOIN v ON e.user_id = v.user_id
    WHERE e.event_type = 'click'
      AND epoch_us(e.ts) > v.t
      AND epoch_us(e.ts) <= v.t + {_FUNNEL_WINDOW_US}
    GROUP BY e.user_id
),
p AS (
    SELECT e.user_id, MIN(epoch_us(e.ts)) AS t
    FROM events e JOIN c ON e.user_id = c.user_id
    WHERE e.event_type = 'purchase'
      AND epoch_us(e.ts) > c.t
      AND epoch_us(e.ts) <= c.t + {_FUNNEL_WINDOW_US}
    GROUP BY e.user_id
)
SELECT 1 AS stage_idx, 'view' AS stage, (SELECT COUNT(*) FROM v) AS n_users
UNION ALL
SELECT 2, 'click_24h', (SELECT COUNT(*) FROM c)
UNION ALL
SELECT 3, 'purchase_24h', (SELECT COUNT(*) FROM p)
"""


@query("q_funnel_bounded", FUNNEL_BOUNDED_ORACLE)
def funnel_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: each stage must happen within
    24 h of the previous stage's first qualifying event — the product
    metric the unbounded funnel (q_funnel) overstates (a purchase six
    months after the view is not a conversion). Same plan shape: one
    groupBy-min + equi-join per stage, all keyed on user_id with the
    ordering AND the deadline as join-side residuals, one partitioning
    reused end-to-end."""
    e = load_table(spark, sf_dir, "events")
    uts = F.unix_micros("ts")

    def first_within(prev: DataFrame, etype: str) -> DataFrame:
        s = e.filter(F.col("event_type") == etype).select(
            "user_id", uts.alias("et")
        ).alias("s")
        p = prev.alias("p")
        return (
            s.join(
                p,
                (F.col("s.user_id") == F.col("p.user_id"))
                & (F.col("s.et") > F.col("p.t"))
                & (F.col("s.et") <= F.col("p.t") + _FUNNEL_WINDOW_US),
            )
            .groupBy(F.col("s.user_id").alias("user_id"))
            .agg(F.min("s.et").alias("t"))
        )

    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(uts).alias("t"))
    )
    c = first_within(v, "click")
    p = first_within(c, "purchase")

    def stage_row(df: DataFrame, idx: int, name: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(idx).alias("stage_idx"), F.lit(name).alias("stage"), "n_users"
        )

    return (
        stage_row(v, 1, "view")
        .unionAll(stage_row(c, 2, "click_24h"))
        .unionAll(stage_row(p, 3, "purchase_24h"))
    )


# ---------------------------------------------------------------------------
# PageRank over the customer-supplier trade graph, in FIXED-POINT integer
# arithmetic so five iterations are bit-reproducible in any engine

_PR_SCALE = 1_000_000_000  # pr stored as BIGINT x 1e9
_PR_ITERS = 5
_PR_BASE = 150_000_000  # 0.15 x scale

_PR_ITER_SQL = """
it{n} AS (
    SELECT e.dst AS node,
           {base} + (85 * CAST(SUM(p.pr // d.deg) AS BIGINT)) // 100 AS pr
    FROM edges e
    JOIN it{prev} p ON p.node = e.src
    JOIN deg d ON d.src = e.src
    GROUP BY e.dst
)"""

PAGERANK_ORACLE = (
    """
WITH eraw AS (
    SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS s
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
),
edges AS (SELECT c AS src, s AS dst FROM eraw UNION ALL SELECT s, c FROM eraw),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
it0 AS (SELECT src AS node, CAST("""
    + str(_PR_SCALE)
    + """ AS BIGINT) AS pr FROM deg),"""
    + ",".join(
        _PR_ITER_SQL.format(n=i, prev=i - 1, base=_PR_BASE)
        for i in range(1, _PR_ITERS + 1)
    )
    + f"""
SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END AS node_type,
       node // 2 AS node_key,
       pr AS pr_scaled
FROM it{_PR_ITERS}
ORDER BY pr DESC, node
LIMIT 20
"""
)


@query("q_pagerank", PAGERANK_ORACLE)
def pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the customer-supplier trade graph (undirected:
    each distinct trading pair contributes both directed edges), five
    iterations, damping 0.85 — the influence-propagation kernel next
    to q_dedup_clusters (components) and q_triangle_count (closure).

    The reproducibility trick is FIXED-POINT INTEGER arithmetic: rank
    is a BIGINT scaled by 1e9, each round is
    ``base + (85 * sum(pr div deg)) div 100`` in pure integer ops, so
    parallel summation order cannot perturb a single bit — float
    PageRank can't be value-hashed across engines, this can. The sum
    is CAST back to BIGINT in the oracle because DuckDB widens SUM to
    int128 (the round-1 curation lesson).

    Scale shape: per-iteration cost is one hash join of the edge list
    against the rank vector plus one groupBy on the destination — the
    same co-partitionable shuffle pair every distributed PageRank
    does. Degrees and edges are static, computed once and
    checkpointed; only the K x 1e9-scaled rank vector changes per
    round. No driver-side state ever holds more than the final top-20."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    eraw = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("c"),
            (F.col("l_suppkey") * 2 + 1).alias("s"),
        )
        .distinct()
    )
    edges = (
        eraw.select(F.col("c").alias("src"), F.col("s").alias("dst"))
        .unionAll(eraw.select(F.col("s").alias("src"), F.col("c").alias("dst")))
        .localCheckpoint(eager=True)  # static across iterations
    )
    pr = pagerank_iterations(edges, _PR_ITERS)
    return (
        pr.select(
            F.when(F.col("node") % 2 == 0, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("node_type"),
            F.expr("node div 2").alias("node_key"),
            F.col("pr").alias("pr_scaled"),
            F.col("node"),
        )
        .orderBy(F.col("pr_scaled").desc(), "node")
        .limit(20)
        .drop("node")
    )


def pagerank_iterations(edges: DataFrame, iters: int) -> DataFrame:
    """Fixed-point PageRank kernel over a DIRECTED edge list (columns
    src, dst; callers pass both directions for undirected graphs):
    rank scaled by 1e9 in BIGINT, `base + (85 * sum(pr div deg)) div
    100` per round. Factored out of q_pagerank so random graphs can
    fuzz it against a pure-Python integer reference."""
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .localCheckpoint(eager=True)  # |V|-bounded; reused by ewd + init
    )
    # |V| read off the materialized degree table (a near-free count over
    # checkpointed blocks) picks the per-iteration join strategy: the
    # rank vector is O(|V|) rows of two longs, so when it fits the
    # session's broadcast threshold (48 B/row ~ the built HashedRelation
    # footprint, as in q_triangle_count) every iteration joins the
    # static |E|-row edge table against a BROADCAST rank map — the edge
    # table is never exchanged or sorted again, and the only shuffle per
    # iteration carries the map-side-partially-aggregated contribution
    # sums (O(|V|) rows per partition). The plan without it re-exchanged AND
    # re-sorted the checkpointed edge table in all 5 iterations (a
    # localCheckpoint scan reports UnknownPartitioning, so AQE could
    # never reuse its layout). Above the threshold — the 100 TB regime,
    # where the rank vector itself is cluster-sized — the plan is
    # exactly the old shuffled one. Scale-adaptive via the conf, not a
    # local[32] constant.
    n_nodes = deg.count()
    bcast_ok = n_nodes * 48 < broadcast_threshold_bytes(edges.sparkSession)
    ewd = edges.join(
        F.broadcast(deg) if bcast_ok else deg, "src"
    ).localCheckpoint(eager=True)
    pr = deg.select(F.col("src").alias("node"), F.lit(_PR_SCALE).cast("long").alias("pr"))
    for _ in range(iters):
        rhs = F.broadcast(pr) if bcast_ok else pr
        msgs = ewd.join(rhs, ewd.src == rhs.node).select(
            "dst", F.expr("pr div deg").alias("contrib")
        )
        pr = (
            msgs.groupBy("dst")
            .agg(F.sum("contrib").alias("s"))
            .select(
                F.col("dst").alias("node"),
                (F.lit(_PR_BASE) + F.expr("(85 * s) div 100")).cast("long").alias("pr"),
            )
        )
    return pr


# ---------------------------------------------------------------------------
# degree-capped triangle count: the power-law-safe variant

_TRI_DEG_CAP = 32

TRIANGLE_CAP_ORACLE = f"""
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
    ) GROUP BY node
),
hubs AS (SELECT node FROM deg WHERE d > {_TRI_DEG_CAP}),
kept AS (
    SELECT p.u, p.v FROM pairs p
    ANTI JOIN hubs hu ON hu.node = p.u
    ANTI JOIN hubs hv ON hv.node = p.v
),
kdeg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM kept UNION ALL SELECT v FROM kept
    ) GROUP BY node
),
oriented AS (
    SELECT CASE WHEN (du.d, k.u) < (dv.d, k.v) THEN k.u ELSE k.v END AS s,
           CASE WHEN (du.d, k.u) < (dv.d, k.v) THEN k.v ELSE k.u END AS t
    FROM kept k
    JOIN kdeg du ON du.node = k.u
    JOIN kdeg dv ON dv.node = k.v
),
wedges AS (
    SELECT LEAST(e1.t, e2.t) AS v, GREATEST(e1.t, e2.t) AS w
    FROM oriented e1 JOIN oriented e2
      ON e1.s = e2.s AND e1.t < e2.t
),
tri AS (
    SELECT COUNT(*) AS n_triangles
    FROM wedges wd JOIN kept e ON e.u = wd.v AND e.v = wd.w
)
SELECT (SELECT COUNT(*) FROM hubs) AS n_capped_nodes,
       (SELECT COUNT(*) FROM kept) AS n_edges_kept,
       (SELECT COUNT(*) FROM pairs) AS n_edges_total,
       (SELECT n_triangles FROM tri) AS n_triangles
"""


@query("q_triangle_cap", TRIANGLE_CAP_ORACLE)
def triangle_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-capped triangle counting — the power-law survival mode of
    q_triangle_count: vertices with degree > {cap} (the celebrity
    hubs) are removed BEFORE wedge enumeration, bounding per-vertex
    wedge fan-out at {cap}^2 regardless of how skewed the degree
    distribution gets. Degree orientation alone caps wedges at the
    arboricity bound, which is still hub-quadratic on a celebrity
    graph; the hard cap trades hub triangles (reported via
    n_capped_nodes so the loss is visible) for a worst-case-bounded
    shuffle. This is how production graph pipelines survive the
    @barackobama node. The residual graph is re-degreed and then runs
    the exact same oriented wedge-join kernel."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)  # feeds degree count, hub filter, closure probe
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )

    # the hub set grows with the graph (every node whose degree tops
    # the cap), so the anti-joins are UNHINTED — AQE broadcasts while
    # the set fits, falls back to a keyed shuffle when it doesn't
    # (the round-12 de-hint discipline)
    hubs = degrees(pairs).filter(F.col("d") > _TRI_DEG_CAP).select("node")
    kept = (
        pairs.join(hubs.withColumnRenamed("node", "u"), "u", "left_anti")
        .join(hubs.withColumnRenamed("node", "v"), "v", "left_anti")
        .select("u", "v")
    )
    kdeg = degrees(kept)
    du, dv = kdeg.alias("du"), kdeg.alias("dv")
    k = kept.alias("k")
    first_is_smaller = (F.col("du.d") < F.col("dv.d")) | (
        (F.col("du.d") == F.col("dv.d")) & (F.col("k.u") < F.col("k.v"))
    )
    oriented = (
        k.join(du, F.col("du.node") == F.col("k.u"))
        .join(dv, F.col("dv.node") == F.col("k.v"))
        .select(
            F.when(first_is_smaller, F.col("k.u")).otherwise(F.col("k.v")).alias("s"),
            F.when(first_is_smaller, F.col("k.v")).otherwise(F.col("k.u")).alias("t"),
        )
    )
    e1, e2 = oriented.alias("e1"), oriented.alias("e2")
    wedges = e1.join(
        e2, (F.col("e1.s") == F.col("e2.s")) & (F.col("e1.t") < F.col("e2.t"))
    ).select(F.least("e1.t", "e2.t").alias("v"), F.greatest("e1.t", "e2.t").alias("w"))
    e = kept.alias("e")
    tri = wedges.alias("wd").join(
        e, (F.col("e.u") == F.col("wd.v")) & (F.col("e.v") == F.col("wd.w"))
    )
    return (
        hubs.agg(F.count(F.lit(1)).alias("n_capped_nodes"))
        .crossJoin(kept.agg(F.count(F.lit(1)).alias("n_edges_kept")))
        .crossJoin(pairs.agg(F.count(F.lit(1)).alias("n_edges_total")))
        .crossJoin(tri.agg(F.count(F.lit(1)).alias("n_triangles")))
    )


triangle_cap.__doc__ = triangle_cap.__doc__.format(cap=_TRI_DEG_CAP)


# ---------------------------------------------------------------------------
# linear multi-touch attribution: split purchase value across the
# touchpoints that preceded it

ATTRIBUTION_ORACLE = """
WITH purch AS (
    SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
),
touch AS (
    SELECT user_id, ts, event_type FROM events
    WHERE event_type IN ('view', 'click')
),
m AS (
    SELECT p.event_id, p.value, t.event_type,
           COUNT(*) OVER (PARTITION BY p.event_id) AS n_touch
    FROM purch p
    JOIN touch t ON t.user_id = p.user_id
     AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY
),
credited AS (SELECT event_type, value / n_touch AS credit FROM m),
direct AS (
    SELECT 'direct' AS event_type, p.value AS credit FROM purch p
    WHERE NOT EXISTS (
        SELECT 1 FROM touch t WHERE t.user_id = p.user_id
          AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 7 DAY
    )
)
SELECT event_type AS channel, COUNT(*) AS n_credits,
       ROUND(SUM(credit), 4) AS attributed_value
FROM (SELECT * FROM credited UNION ALL SELECT * FROM direct)
GROUP BY event_type
"""


@query("q_attribution", ATTRIBUTION_ORACLE)
def attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution — the marketing-analytics join:
    every purchase's value splits EQUALLY across that user's view/click
    touchpoints in the prior 7 days; untouched purchases credit a
    'direct' channel, so total attributed value equals total purchase
    value (conservation pinned in tests).

    Plan shape: one equi-join on user_id with a range residual (never
    a pure interval cross join), one per-purchase window count to
    learn the split denominator on the SAME partitioning the join
    produced, one final channel aggregate. At 100 TB both sides
    shuffle once on user_id and the window rides the join's exchange."""
    e = load_table(spark, sf_dir, "events")
    purch = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts"), "value"
    )
    touch = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"), F.col("ts").alias("t_ts"), "event_type"
    )
    joined = purch.join(
        touch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("interval 7 days")),
    )
    m = joined.withColumn(
        "n_touch", F.count(F.lit(1)).over(Window.partitionBy("event_id"))
    )
    credited = m.select("event_type", (F.col("value") / F.col("n_touch")).alias("credit"))
    direct = purch.join(
        touch,
        (F.col("t_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("interval 7 days")),
        "left_anti",
    ).select(F.lit("direct").alias("event_type"), F.col("value").alias("credit"))
    return (
        credited.unionByName(direct)
        .groupBy(F.col("event_type").alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_credits"),
            F.round(F.sum("credit"), 4).alias("attributed_value"),
        )
    )


# ---------------------------------------------------------------------------
# forecasting baseline + backtest: seasonal-naive with MASE scoring

FORECAST_ORACLE = """
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS BIGINT) AS day,
           COUNT(*) AS n
    FROM events GROUP BY 1, 2
),
lagged AS (
    SELECT event_type, day, n,
           LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) AS pred,
           ABS(n - LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day)) AS naive_err
    FROM daily
)
SELECT event_type,
       COUNT(pred) AS n_scored,
       ROUND(AVG(ABS(n - pred)), 4) AS mae,
       ROUND(AVG(ABS(n - pred)) / NULLIF(AVG(naive_err), 0), 4) AS mase
FROM lagged
GROUP BY event_type
"""


@query("q_forecast_eval", FORECAST_ORACLE)
def forecast_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast backtesting — the evaluation half of every demand/load
    forecasting pipeline: score the SEASONAL-NAIVE baseline (predict
    today = same weekday last week) per event type with MAE and MASE
    (MAE scaled by the one-step naive error, the standard
    scale-free forecast metric; MASE < 1 beats naive). Any real model
    must clear this baseline — computing it IS the first step of
    forecasting at scale, and it is two window lags plus one aggregate:
    per-key daily rollup, lag-7 prediction and lag-1 scale on the SAME
    (event_type, day) sort, one shuffle total."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        "n",
        F.lag("n", 7).over(w).alias("pred"),
        F.abs(F.col("n") - F.lag("n", 1).over(w)).alias("naive_err"),
    )
    return lagged.groupBy("event_type").agg(
        F.count("pred").alias("n_scored"),
        F.round(F.avg(F.abs(F.col("n") - F.col("pred"))), 4).alias("mae"),
        F.round(
            F.avg(F.abs(F.col("n") - F.col("pred")))
            / F.nullif(F.avg("naive_err"), F.lit(0)),
            4,
        ).alias("mase"),
    )


# ---------------------------------------------------------------------------
# k-anonymity audit: quasi-identifier group sizes before data release

_KANON_K = 5

K_ANONYMITY_ORACLE = f"""
WITH g AS (
    SELECT event_type,
           CAST(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS BIGINT) AS day,
           COUNT(*) AS n,
           COUNT(DISTINCT user_id) AS users
    FROM events GROUP BY 1, 2
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN users < {_KANON_K} THEN 1 ELSE 0 END) AS BIGINT) AS small_groups,
       CAST(SUM(CASE WHEN users < {_KANON_K} THEN n ELSE 0 END) AS BIGINT) AS rows_at_risk
FROM g
"""


@query("q_k_anonymity", K_ANONYMITY_ORACLE)
def k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit — the pre-release privacy gate on a training
    dataset: group rows by their quasi-identifier tuple (here:
    event type x day) and flag groups backed by fewer than {k}
    distinct users; rows in such groups are re-identification risks
    and must be suppressed or generalized before the data ships.
    One aggregation to build the group census, one to summarize it —
    both partial+final; the audit cost is a single scan regardless of
    table size. Integer SUMs are CAST to BIGINT on both engines (the
    DuckDB HUGEINT widening lesson)."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("user_id").alias("users"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("users") < _KANON_K, 1).otherwise(0))
        .cast("long")
        .alias("small_groups"),
        F.sum(F.when(F.col("users") < _KANON_K, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


k_anonymity.__doc__ = k_anonymity.__doc__.format(k=_KANON_K)


# ---------------------------------------------------------------------------
# community detection: synchronous label propagation, fixed rounds

_LPA_ROUNDS = 3

_LPA_ROUND_SQL = """
c{n} AS (
    SELECT e.dst AS node, l.lab, COUNT(*) AS cnt
    FROM edges e JOIN l{prev} l ON l.node = e.src
    GROUP BY e.dst, l.lab
),
l{n} AS (
    SELECT node, lab FROM (
        SELECT node, lab,
               ROW_NUMBER() OVER (PARTITION BY node ORDER BY cnt DESC, lab) AS rn
        FROM c{n}
    ) WHERE rn = 1
)"""

LPA_ORACLE = (
    """
WITH pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
    JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (SELECT u AS src, v AS dst FROM pairs UNION ALL SELECT v, u FROM pairs),
l0 AS (SELECT DISTINCT src AS node, src AS lab FROM edges),"""
    + ",".join(
        _LPA_ROUND_SQL.format(n=i, prev=i - 1) for i in range(1, _LPA_ROUNDS + 1)
    )
    + f"""
SELECT lab AS community, COUNT(*) AS n_members
FROM l{_LPA_ROUNDS}
GROUP BY lab
HAVING COUNT(*) >= 3
ORDER BY n_members DESC, community
"""
)


@query("q_lpa_communities", LPA_ORACLE)
def lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation over the
    parts-bought-together graph: every node adopts its neighborhood's
    most frequent label each round (ties to the smallest label — the
    determinism LPA normally lacks), three rounds, then communities
    of ≥3 members are reported. Distinct from connected components
    (q_components_star finds reachability; LPA finds DENSE regions —
    a bridge edge joins components but rarely flips a majority vote).

    Per round: one join of the edge list against the label vector,
    one (node, label) count, one per-node arg-max via max_by on a
    (count, -label) struct — all partial-aggregable, the same
    co-partitioned shuffle pair as PageRank. Fixed rounds keep it
    oracle-expressible (unrolled CTEs, as q_pagerank)."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
    )
    edges = (
        pairs.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionAll(pairs.select(F.col("v").alias("src"), F.col("u").alias("dst")))
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("lab")
    )
    for _ in range(_LPA_ROUNDS):
        cnt = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("nd"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        labels = cnt.groupBy(F.col("nd").alias("node")).agg(
            F.max_by("lab", F.struct(F.col("cnt"), (-F.col("lab")).alias("neg"))).alias(
                "lab"
            )
        )
    return (
        labels.groupBy(F.col("lab").alias("community"))
        .agg(F.count(F.lit(1)).alias("n_members"))
        .filter(F.col("n_members") >= 3)
        .orderBy(F.col("n_members").desc(), "community")
    )


# ---------------------------------------------------------------------------
# drift detection: cumulative-deviation (CUSUM-style) flags per series

CUSUM_ORACLE = """
WITH daily AS (
    SELECT event_type,
           CAST(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS BIGINT) AS day,
           AVG(value) AS x
    FROM events GROUP BY 1, 2
),
g AS (
    SELECT event_type, AVG(x) AS mu, STDDEV_SAMP(x) AS sd
    FROM daily GROUP BY event_type
),
c AS (
    SELECT d.event_type, d.day, d.x,
           SUM(d.x - g.mu) OVER (PARTITION BY d.event_type ORDER BY d.day) AS cdev,
           g.sd
    FROM daily d JOIN g ON g.event_type = d.event_type
)
SELECT event_type, day, ROUND(x, 4) AS day_mean,
       ROUND(cdev, 4) + 0 AS cum_dev,
       ABS(cdev) > 2 * sd AS is_drift
FROM c
"""


@query("q_cusum_drift", CUSUM_ORACLE)
def cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metric-drift detection, CUSUM-style: per event type, the running
    sum of each day's deviation from the series mean; days where the
    cumulative deviation exceeds 2 sigma of the daily means flag a
    sustained shift that no single-day threshold would catch (the
    point of cumulative charts — many small same-sign deviations
    accumulate).

    Scale shape: the running sum is a window PARTITIONED BY the series
    key — thousands of monitored metrics parallelize across
    partitions, and each series' window is bounded by its day count
    (the anti-pattern is the global unpartitioned cumsum). The series
    stats join back as a tiny broadcast."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.floor(F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
    ).agg(F.avg("value").alias("x"))
    g = daily.groupBy("event_type").agg(
        F.avg("x").alias("mu"), F.stddev_samp("x").alias("sd")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    c = daily.join(F.broadcast(g), "event_type").select(
        "event_type",
        "day",
        "x",
        F.sum(F.col("x") - F.col("mu")).over(w).alias("cdev"),
        "sd",
    )
    return c.select(
        "event_type",
        "day",
        F.round("x", 4).alias("day_mean"),
        # + 0 canonicalizes IEEE -0.0 (the full-series cumsum rounds to
        # zero with engine-dependent sign) — without it the value hash
        # sees '-0.0' vs '0.0'
        (F.round("cdev", 4) + F.lit(0)).alias("cum_dev"),
        (F.abs(F.col("cdev")) > 2 * F.col("sd")).alias("is_drift"),
    )


# ---------------------------------------------------------------------------
# RFM segmentation: recency/frequency/monetary quintile labels per user

_RFM_ASOF_DAY = 11600  # fixed "today" (epoch days) so recency is deterministic


RFM_ORACLE = f"""
WITH base AS (
    SELECT user_id,
           {_RFM_ASOF_DAY} - MAX(CAST(epoch_us(ts) // 86400000000 AS BIGINT)) AS recency_d,
           COUNT(*) AS frequency,
           ROUND(SUM(value), 4) AS monetary
    FROM events WHERE event_type = 'purchase'
    GROUP BY user_id
),
n AS (SELECT COUNT(*) AS n FROM base),
rk AS (
    SELECT b.*,
           ROW_NUMBER() OVER (ORDER BY recency_d, user_id) AS rr,
           ROW_NUMBER() OVER (ORDER BY frequency DESC, user_id) AS rf,
           ROW_NUMBER() OVER (ORDER BY monetary DESC, user_id) AS rm,
           n.n
    FROM base b, n
),
scored AS (
    SELECT user_id, recency_d, frequency, monetary,
           CAST(5 - ((rr - 1) * 5) // n AS BIGINT) AS r_score,
           CAST(5 - ((rf - 1) * 5) // n AS BIGINT) AS f_score,
           CAST(5 - ((rm - 1) * 5) // n AS BIGINT) AS m_score
    FROM rk
)
SELECT r_score, f_score, m_score,
       COUNT(*) AS n_users,
       ROUND(SUM(monetary), 4) AS segment_value
FROM scored
GROUP BY r_score, f_score, m_score
"""


@query("q_rfm_segments", RFM_ORACLE)
def rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation — the marketing-analytics workhorse: each
    purchasing user scored 1-5 on Recency, Frequency and Monetary
    value (5 = best quintile), then the 125 possible segments sized
    and valued. Quintiles via ROW_NUMBER with an explicit user_id
    tiebreak and integer arithmetic (never ntile over a float order —
    ties would make the buckets engine-dependent); 'today' is a fixed
    epoch day so recency is reproducible.

    The per-metric ranks are global windows over the USER aggregate
    (one row per purchaser — orders of magnitude smaller than the
    event log); at larger-than-memory user counts swap each rank for
    the two-phase prefix-sum shape of q_sequence_pack. The heavy
    input, events, is touched once."""
    e = load_table(spark, sf_dir, "events")
    base = (
        e.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            (
                F.lit(_RFM_ASOF_DAY)
                - F.max(F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint"))
            ).alias("recency_d"),
            F.count(F.lit(1)).alias("frequency"),
            F.round(F.sum("value"), 4).alias("monetary"),
        )
    )
    from pyspark.sql import Window

    n = base.agg(F.count(F.lit(1)).alias("n"))
    rk = (
        base.crossJoin(F.broadcast(n))
        .withColumn("rr", F.row_number().over(Window.orderBy("recency_d", "user_id")))
        .withColumn(
            "rf", F.row_number().over(Window.orderBy(F.col("frequency").desc(), "user_id"))
        )
        .withColumn(
            "rm", F.row_number().over(Window.orderBy(F.col("monetary").desc(), "user_id"))
        )
    )
    scored = rk.select(
        "monetary",
        F.expr("CAST(5 - ((rr - 1) * 5) div n AS BIGINT)").alias("r_score"),
        F.expr("CAST(5 - ((rf - 1) * 5) div n AS BIGINT)").alias("f_score"),
        F.expr("CAST(5 - ((rm - 1) * 5) div n AS BIGINT)").alias("m_score"),
    )
    return scored.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.round(F.sum("monetary"), 4).alias("segment_value"),
    )


# ---------------------------------------------------------------------------
# Gini coefficient: revenue concentration across customers

GINI_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey, SUM(o_totalprice) AS v
    FROM orders GROUP BY o_custkey
),
rk AS (
    SELECT v, ROW_NUMBER() OVER (ORDER BY v, o_custkey) AS i,
           COUNT(*) OVER () AS n, SUM(v) OVER () AS tot
    FROM per_cust
)
SELECT CAST(COALESCE(MAX(n), 0) AS BIGINT) AS n_customers,
       ROUND(MAX(tot), 2) AS total_revenue,
       ROUND((2.0 * SUM(i * v) / (MAX(n) * MAX(tot))) - (MAX(n) + 1.0) / MAX(n), 6)
           AS gini
FROM rk
"""


@query("q_gini", GINI_ORACLE)
def gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration — the inequality
    metric behind 'do 20% of customers drive 80% of revenue':
    G = 2*Σ(i*v_i)/(n*Σv) - (n+1)/n over values sorted ascending
    (deterministic tiebreak on the customer key). One aggregate, one
    rank window over the customer-level rollup (tiny next to orders),
    one final reduction. Concentration metrics like this decide
    sampling and mixing weights in data curation, and skew-handling
    strategy in the engine itself — a high Gini on a join key is the
    salting signal."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("v"))
    from pyspark.sql import Window

    rk = (
        per_cust.withColumn(
            "i", F.row_number().over(Window.orderBy("v", "o_custkey")).cast("long")
        )
        .crossJoin(
            F.broadcast(
                per_cust.agg(
                    F.count(F.lit(1)).alias("n"), F.sum("v").alias("tot")
                )
            )
        )
    )
    return rk.agg(
        F.coalesce(F.max("n"), F.lit(0)).cast("long").alias("n_customers"),
        F.round(F.max("tot"), 2).alias("total_revenue"),
        F.round(
            (2.0 * F.sum(F.col("i") * F.col("v")))
            / (F.max("n") * F.max("tot"))
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# rolling correlation between two metric series

_RCORR_W = 14

ROLLING_CORR_ORACLE = f"""
WITH daily AS (
    SELECT CAST(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS BIGINT) AS day,
           SUM(CASE WHEN event_type = 'view' THEN value ELSE 0 END) AS x,
           SUM(CASE WHEN event_type = 'purchase' THEN value ELSE 0 END) AS y
    FROM events GROUP BY 1
),
w AS (
    SELECT day,
           COUNT(*) OVER win AS n,
           SUM(x) OVER win AS sx, SUM(y) OVER win AS sy,
           SUM(x * y) OVER win AS sxy,
           SUM(x * x) OVER win AS sxx, SUM(y * y) OVER win AS syy
    FROM daily
    WINDOW win AS (ORDER BY day ROWS BETWEEN {_RCORR_W - 1} PRECEDING AND CURRENT ROW)
)
SELECT day,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS view_purchase_corr
FROM w
WHERE n = {_RCORR_W}
"""


@query("q_rolling_corr", ROLLING_CORR_ORACLE)
def rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling {w}-day Pearson correlation between the view and
    purchase value series — the co-movement monitor behind 'did the
    funnel decouple this week'. Spelled as five running sums over ONE
    row-frame window (never a per-day re-scan): correlation from
    (n, Σx, Σy, Σxy, Σx², Σy²) is the textbook one-pass identity, and
    a rows-frame window computes all five in a single sort. The daily
    rollup is tiny; at many-series scale add the series key to the
    window partition (as q_cusum_drift does)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.floor(F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.when(F.col("event_type") == "view", F.col("value")).otherwise(0.0)).alias("x"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value")).otherwise(0.0)
        ).alias("y"),
    )
    win = Window.orderBy("day").rowsBetween(-(_RCORR_W - 1), 0)
    w = daily.select(
        "day",
        F.count(F.lit(1)).over(win).alias("n"),
        F.sum("x").over(win).alias("sx"),
        F.sum("y").over(win).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(win).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(win).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).over(win).alias("syy"),
    )
    corr = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return (
        w.filter(F.col("n") == _RCORR_W)
        .select("day", F.round(corr, 4).alias("view_purchase_corr"))
    )


rolling_corr.__doc__ = rolling_corr.__doc__.format(w=_RCORR_W)


# ---------------------------------------------------------------------------
# top user paths: most common event-type sequences within sessions

_PATH_GAP_US = 300_000_000  # 5 min session gap, as q_sessionize


TOP_PATHS_ORACLE = f"""
WITH ordered AS (
    SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
           LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
    FROM events
),
marked AS (
    SELECT *, CASE WHEN prev IS NULL OR us - prev > {_PATH_GAP_US} THEN 1 ELSE 0 END AS brk
    FROM ordered
),
sess AS (
    SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY us, event_id) AS sess_no
    FROM marked
),
paths AS (
    SELECT user_id, sess_no,
           string_agg(event_type, '>' ORDER BY us, event_id) AS path
    FROM sess GROUP BY user_id, sess_no
)
SELECT path, COUNT(*) AS n_sessions
FROM paths
GROUP BY path
ORDER BY n_sessions DESC, path
LIMIT 15
"""


@query("q_top_paths", TOP_PATHS_ORACLE)
def top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top user paths — product analytics' 'what do sessions actually
    look like': events sessionized by the 5-minute gap rule (the
    q_sessionize mechanic), each session rendered as its ordered
    event-type sequence, then the 15 most common paths. Ordering
    inside a path is pinned by (ts, event_id) so concatenation is
    deterministic on both engines — Spark builds the string by
    sorting an array of (us, event_id, type) structs (collect_list
    alone has no order guarantee), DuckDB with an ORDER BY string_agg.
    Per-session work is bounded by session length; the heavy shuffle
    is one user_id partition."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = e.select(
        "user_id", "event_id", "event_type", F.unix_micros("ts").alias("us")
    ).withColumn(
        "brk",
        F.when(
            F.lag("us").over(w).isNull()
            | (F.col("us") - F.lag("us").over(w) > _PATH_GAP_US),
            1,
        ).otherwise(0),
    )
    sess = marked.withColumn(
        "sess_no", F.sum("brk").over(Window.partitionBy("user_id").orderBy("us", "event_id"))
    )
    paths = (
        sess.groupBy("user_id", "sess_no")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("us", "event_id", "event_type"))
                    ),
                    lambda s: s["event_type"],
                ),
                ">",
            ).alias("path")
        )
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(15)
    )


# ---------------------------------------------------------------------------
# Lorenz deciles: cumulative revenue share by customer decile


LORENZ_ORACLE = """
WITH per_cust AS (
    SELECT o_custkey, SUM(o_totalprice) AS v
    FROM orders GROUP BY o_custkey
),
rk AS (
    SELECT v,
           ROW_NUMBER() OVER (ORDER BY v DESC, o_custkey) AS rn,
           COUNT(*) OVER () AS n,
           SUM(v) OVER () AS tot
    FROM per_cust
),
dec AS (
    SELECT CAST(((rn - 1) * 10) // n + 1 AS BIGINT) AS decile, v, n, tot
    FROM rk
),
per_dec AS (
    SELECT decile, COUNT(*) AS n_customers,
           ROUND(SUM(v), 2) AS revenue,
           ROUND(SUM(v) / ANY_VALUE(tot), 6) AS share
    FROM dec GROUP BY decile
)
SELECT decile, n_customers, revenue, share,
       ROUND(SUM(share) OVER (ORDER BY decile), 6) AS cum_share
FROM per_dec
ORDER BY decile
"""


@query("q_lorenz_deciles", LORENZ_ORACLE)
def lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lorenz concentration table — 'the top decile of customers is X%
    of revenue': customers ranked by value (deterministic key
    tiebreak), cut into ten equal-count buckets by integer arithmetic
    (never ntile over a float order), each decile's revenue share and
    the running cumulative share. Companion to q_gini (the same curve
    reduced to one number); the per-customer rollup is the only
    window input, orders shuffle once."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(F.sum("o_totalprice").alias("v"))
    rk = per_cust.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.col("v").desc(), "o_custkey"))
    ).crossJoin(
        F.broadcast(
            per_cust.agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("tot"))
        )
    )
    dec = rk.select(
        F.expr("CAST(((rn - 1) * 10) div n + 1 AS BIGINT)").alias("decile"),
        "v",
        "tot",
    )
    per_dec = dec.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("v"), 2).alias("revenue"),
        F.round(F.sum("v") / F.first("tot"), 6).alias("share"),
    )
    return per_dec.select(
        "decile",
        "n_customers",
        "revenue",
        "share",
        F.round(F.sum("share").over(Window.orderBy("decile")), 6).alias("cum_share"),
    ).orderBy("decile")


# ---------------------------------------------------------------------------
# new vs returning daily actives


NEW_RETURNING_ORACLE = """
WITH ud AS (
    SELECT DISTINCT user_id,
           CAST(epoch_us(time_bucket(INTERVAL 1 DAY, ts)) // 86400000000 AS BIGINT) AS day
    FROM events
),
first_day AS (SELECT user_id, MIN(day) AS d0 FROM ud GROUP BY user_id)
SELECT ud.day,
       CAST(SUM(CASE WHEN ud.day = f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS new_users,
       CAST(SUM(CASE WHEN ud.day > f.d0 THEN 1 ELSE 0 END) AS BIGINT) AS returning_users
FROM ud JOIN first_day f ON f.user_id = ud.user_id
GROUP BY ud.day
ORDER BY ud.day
"""


@query("q_new_vs_returning", NEW_RETURNING_ORACLE)
def new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily actives split into new vs returning — the growth
    accounting every product dashboard leads with. Each user's first
    active day comes from one aggregate over the (user, day) distinct
    pairs; the split is then a single conditional count per day. The
    first-day table is user-cardinality and joins back on the key the
    distinct pairs are already shuffled by — at 100 TB this is two
    co-partitioned aggregates, not a self-join of the raw log."""
    e = load_table(spark, sf_dir, "events")
    ud = e.select(
        "user_id",
        F.floor(F.unix_micros(F.date_trunc("day", "ts")) / 86_400_000_000)
        .cast("bigint")
        .alias("day"),
    ).distinct()
    first_day = ud.groupBy("user_id").agg(F.min("day").alias("d0"))
    return (
        ud.join(first_day, "user_id")
        .groupBy("day")
        .agg(
            F.sum(F.when(F.col("day") == F.col("d0"), 1).otherwise(0))
            .cast("long")
            .alias("new_users"),
            F.sum(F.when(F.col("day") > F.col("d0"), 1).otherwise(0))
            .cast("long")
            .alias("returning_users"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# truncated exponentially-weighted moving average (bounded-frame EWMA)

_EWMA_ALPHA = 0.2
_EWMA_SPAN = 20  # frame rows; tail weight 0.8^19 ≈ 1.4% — negligible

EWMA_ORACLE = f"""
WITH w AS (
    SELECT user_id, event_id,
           list(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN {_EWMA_SPAN - 1} PRECEDING AND CURRENT ROW) AS arr
    FROM events
)
SELECT user_id, event_id,
       ROUND(
           list_sum(list_transform(arr, (x, i) -> x * pow({1 - _EWMA_ALPHA}, len(arr) - i)))
           / ((1 - pow({1 - _EWMA_ALPHA}, len(arr))) / {_EWMA_ALPHA}),
           4) AS ewma
FROM w
"""


@query("q_ewma", EWMA_ORACLE)
def ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially-weighted moving average over a bounded
    {span}-row frame (α = {alpha}; the truncated tail carries <1.5% of
    the mass) — the smoothed-trend metric next to q_rolling_median's
    robust one, and the numerically safe distributed EWMA shape: the
    textbook recursion s_t = αy_t + (1-α)s_{{t-1}} is sequential per
    key and its closed-form window rewrite Σ y_j (1-α)^(-j) overflows
    doubles on long histories, while a bounded frame is an
    order-preserving collect + in-row weighted fold in pure column
    algebra (whole-stage codegen, no UDF), one exchange on user_id.
    The weight normalizer is the closed-form geometric sum, not a
    second fold."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-(_EWMA_SPAN - 1), Window.currentRow)
    )
    # materialize the frame array into a named column BEFORE the
    # higher-order fold: window functions cannot appear inside a
    # lambda, and the measured HOF-recompute trap (functions/text.py)
    # re-evaluates unmaterialized expressions per element
    framed = e.select(
        "user_id",
        "event_id",
        F.collect_list("value").over(w).alias("arr"),  # oldest .. current
    )
    decay = F.lit(1.0 - _EWMA_ALPHA)
    n = F.size("arr")
    weighted = F.transform("arr", lambda x, i: x * F.pow(decay, n - 1 - i))
    num = F.aggregate(weighted, F.lit(0.0), lambda s, v: s + v)
    den = (F.lit(1.0) - F.pow(decay, n)) / F.lit(_EWMA_ALPHA)
    return framed.select(
        "user_id", "event_id", F.round(num / den, 4).alias("ewma")
    )


ewma.__doc__ = ewma.__doc__.format(span=_EWMA_SPAN, alpha=_EWMA_ALPHA)


# ---------------------------------------------------------------------------
# per-entity Holt linear smoothing (many-small-models, applyInPandas)

_HOLT_ALPHA = 0.5
_HOLT_BETA = 0.3


HOLT_ORACLE = """
WITH RECURSIVE ordered AS (
    SELECT user_id, value,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rn,
           COUNT(*) OVER (PARTITION BY user_id) AS n
    FROM events
), seed AS (
    SELECT o1.user_id, o1.n, 1 AS rn,
           CAST(o1.value AS DOUBLE) AS lvl,
           CASE WHEN o1.n = 1 THEN 0.0
                ELSE CAST(o2.value - o1.value AS DOUBLE) END AS trd
    FROM ordered o1
    LEFT JOIN ordered o2 ON o2.user_id = o1.user_id AND o2.rn = 2
    WHERE o1.rn = 1
), state AS (
    SELECT * FROM seed
    UNION ALL
    SELECT s.user_id, s.n, s.rn + 1,
           0.5 * o.value + (1 - 0.5) * (s.lvl + s.trd) AS lvl,
           0.3 * ((0.5 * o.value + (1 - 0.5) * (s.lvl + s.trd)) - s.lvl)
               + (1 - 0.3) * s.trd AS trd
    FROM state s
    JOIN ordered o ON o.user_id = s.user_id AND o.rn = s.rn + 1
    WHERE s.rn < s.n
)
SELECT user_id, n AS n_events,
       ROUND(lvl, 4) AS level,
       ROUND(trd, 4) AS trend,
       ROUND(lvl + trd, 4) AS forecast
FROM state WHERE rn = n
"""


@query("q_holt_forecast", HOLT_ORACLE)
def holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear (level + trend) exponential smoothing per user —
    the MANY-SMALL-MODELS pattern: thousands of per-entity time-series
    models trained in parallel, one tiny sequential model per key.
    This is what ``groupBy().applyInPandas`` exists for: the recursion
    l_t = αy_t + (1-α)(l+b), b_t = β(l_t-l) + (1-β)b is inherently
    sequential WITHIN a key but embarrassingly parallel ACROSS keys,
    so the cluster cost is one shuffle on user_id and a per-group
    numpy pass — no driver loop, no global window (contrast q_ewma's
    windowed shape, which trades the trend term for pure column
    algebra).

    Output per user: final level, trend, and 1-step-ahead forecast;
    reproduced exactly by a plain-Python reference in
    tests/test_round4c_ops.py."""
    import pandas as pd

    e = load_table(spark, sf_dir, "events")

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["ts", "event_id"])
        y = pdf["value"].to_numpy(dtype="float64")
        uid = int(pdf["user_id"].iloc[0])
        if len(y) == 1:
            lvl, trd = float(y[0]), 0.0
        else:
            lvl, trd = float(y[0]), float(y[1] - y[0])
            for v in y[1:]:
                prev = lvl
                lvl = _HOLT_ALPHA * float(v) + (1 - _HOLT_ALPHA) * (lvl + trd)
                trd = _HOLT_BETA * (lvl - prev) + (1 - _HOLT_BETA) * trd
        return pd.DataFrame(
            {
                "user_id": [uid],
                "n_events": [len(y)],
                "level": [round(lvl, 4)],
                "trend": [round(trd, 4)],
                "forecast": [round(lvl + trd, 4)],
            }
        )

    return (
        e.select("user_id", "ts", "event_id", "value")
        .groupBy("user_id")
        .applyInPandas(
            fit,
            "user_id long, n_events long, level double, trend double, forecast double",
        )
    )


# ---------------------------------------------------------------------------
# Adamic-Adar link prediction over the co-purchase graph

_AA_CENTER_CAP = 64  # max degree of a wedge CENTER (informative-neighbor cut)

ADAMIC_ADAR_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
nbrs AS (
    SELECT u AS z, v AS x FROM pairs
    UNION ALL
    SELECT v AS z, u AS x FROM pairs
),
deg AS (
    SELECT z, COUNT(*) AS d FROM nbrs GROUP BY z
),
wedges AS (
    SELECT n1.x AS u, n2.x AS v, 1.0 / LN(deg.d) AS w
    FROM nbrs n1
    JOIN nbrs n2 ON n1.z = n2.z AND n1.x < n2.x
    JOIN deg ON deg.z = n1.z
    WHERE deg.d BETWEEN 2 AND 64
),
scored AS (
    SELECT u, v, ROUND(SUM(w), 4) AS aa_score, COUNT(*) AS n_common
    FROM wedges GROUP BY u, v
),
cand AS (
    SELECT s.* FROM scored s
    LEFT JOIN pairs p ON p.u = s.u AND p.v = s.v
    WHERE p.u IS NULL
)
SELECT u, v, aa_score, n_common
FROM cand
ORDER BY aa_score DESC, u, v
LIMIT 20
"""


@query("q_adamic_adar", ADAMIC_ADAR_ORACLE)
def adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction: score NON-adjacent part pairs by
    their shared co-purchase neighbors, each neighbor discounted by
    1/ln(degree) — the classic "rare shared friends matter more"
    recommender kernel. [engine — not in reference]

    Scale design: wedge enumeration at each shared neighbor z costs
    sum(d_z^2), which a single hub can blow up, so centers are CUT at
    degree <= 64 — a deterministic, semantics-level cap (not a
    sample): a hub's contribution per pair is at most 1/ln(65) ~ 0.24
    and spread over d^2 pairs, exactly the signal Adamic-Adar is
    designed to discount, so dropping high-degree centers removes the
    quadratic cost while keeping the informative mass. All joins are
    equi-joins keyed on the center (one shuffle partitioning reused by
    the self-join and the degree probe); the candidate anti-join and
    the final top-20 are |scored pairs|-bounded. The same cap is in
    the DuckDB oracle, so results are exact, not approximate-vs-exact.
    """
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)  # |E|-bounded; reused by nbrs + anti-join
    )
    nbrs = pairs.select(F.col("u").alias("z"), F.col("v").alias("x")).unionAll(
        pairs.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = nbrs.groupBy("z").agg(F.count(F.lit(1)).alias("d"))
    n1, n2 = nbrs.alias("n1"), nbrs.alias("n2")
    wedges = (
        n1.join(n2, (F.col("n1.z") == F.col("n2.z")) & (F.col("n1.x") < F.col("n2.x")))
        .join(deg.alias("dg"), F.col("dg.z") == F.col("n1.z"))
        .where(F.col("dg.d").between(2, _AA_CENTER_CAP))
        .select(
            F.col("n1.x").alias("u"),
            F.col("n2.x").alias("v"),
            (F.lit(1.0) / F.log(F.col("dg.d"))).alias("w"),
        )
    )
    scored = wedges.groupBy("u", "v").agg(
        F.round(F.sum("w"), 4).alias("aa_score"),
        F.count(F.lit(1)).alias("n_common"),
    )
    cand = scored.join(pairs, ["u", "v"], "left_anti")
    return cand.orderBy(F.desc("aa_score"), "u", "v").limit(20)


# ---------------------------------------------------------------------------
# two-sample Kolmogorov-Smirnov drift test over binned ECDFs

_KS_BINS = 256

KS_DRIFT_ORACLE = f"""
WITH s AS (
    SELECT value AS v,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
    FROM events WHERE event_type IN ('view', 'purchase')
),
ext AS (
    SELECT MIN(v) AS mn, MAX(v) AS mx FROM s
),
binned AS (
    SELECT LEAST(CAST(FLOOR((s.v - ext.mn) / ((ext.mx - ext.mn) / {_KS_BINS}))
                      AS INT), {_KS_BINS - 1}) AS bin,
           SUM(s.is_a) AS ca, SUM(1 - s.is_a) AS cb
    FROM s, ext
    GROUP BY 1
),
n AS (
    SELECT SUM(ca) AS na, SUM(cb) AS nb FROM binned
),
ecdf AS (
    SELECT bin,
           SUM(ca) OVER (ORDER BY bin) AS cca,
           SUM(cb) OVER (ORDER BY bin) AS ccb
    FROM binned
)
SELECT CAST(n.na AS BIGINT) AS n_view,
       CAST(n.nb AS BIGINT) AS n_purchase,
       ROUND(MAX(ABS(CAST(ecdf.cca AS DOUBLE) / n.na
                   - CAST(ecdf.ccb AS DOUBLE) / n.nb)), 6) AS ks_stat,
       ROUND(2 * EXP(-2 * POW(MAX(ABS(CAST(ecdf.cca AS DOUBLE) / n.na
                                   - CAST(ecdf.ccb AS DOUBLE) / n.nb)), 2)
                     * (n.na * n.nb / CAST(n.na + n.nb AS DOUBLE))), 6)
           AS p_approx
FROM ecdf, n
GROUP BY n.na, n.nb
"""


@query("q_ks_drift", KS_DRIFT_ORACLE)
def ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test between the 'view' and
    'purchase' value distributions — the distribution-shift alarm a
    data pipeline runs between snapshots, feature versions, or A/B
    arms (complements q_cusum_drift's mean-shift-in-time test with a
    whole-shape test). [engine — not in reference]

    Scale design: the textbook KS needs an ECDF at every pooled
    observation — a GLOBAL sort plus a global running sum, the one
    window shape that cannot scale (all rows through one partition).
    Instead the ECDFs are BINNED: one min/max aggregate (broadcast as
    a 1-row cross join), one groupBy on 256 fixed-width bins, and a
    running sum over the 256-row bin table — the only window runs over
    a bounded aggregate, never the corpus. Binned KS underestimates
    the true statistic by at most the largest bin's probability mass;
    at 256 bins the gap is far below any decision threshold, and the
    SAME binning is in the oracle, so the check is exact, not
    approximate-vs-exact. The asymptotic p-value uses the one-term
    Smirnov tail 2·exp(-2·c²·na·nb/(na+nb))."""
    e = load_table(spark, sf_dir, "events")
    s = e.where(F.col("event_type").isin("view", "purchase")).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
    )
    ext = s.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = (
        s.crossJoin(F.broadcast(ext))
        .select(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / _KS_BINS)
                ).cast("int"),
                F.lit(_KS_BINS - 1),
            ).alias("bin"),
            "is_a",
        )
        .groupBy("bin")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
        )
    )
    w = Window.orderBy("bin")  # 256-row bounded aggregate, single partition OK
    ecdf = binned.select(
        "bin",
        F.sum("ca").over(w).alias("cca"),
        F.sum("cb").over(w).alias("ccb"),
    )
    n = binned.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    diff = F.abs(
        F.col("cca").cast("double") / F.col("na")
        - F.col("ccb").cast("double") / F.col("nb")
    )
    ks = F.max(diff)
    scale = F.col("na") * F.col("nb") / (F.col("na") + F.col("nb")).cast("double")
    return (
        ecdf.crossJoin(F.broadcast(n))
        .groupBy("na", "nb")
        .agg(
            F.round(ks, 6).alias("ks_stat"),
            F.round(2 * F.exp(-2 * F.pow(ks, F.lit(2)) * scale), 6).alias(
                "p_approx"
            ),
        )
        .select(
            F.col("na").alias("n_view"),
            F.col("nb").alias("n_purchase"),
            "ks_stat",
            "p_approx",
        )
    )


# ---------------------------------------------------------------------------
# k-core peel: bounded-round degeneracy core of the co-purchase graph

_KCORE_K = 3
_KCORE_ROUNDS = 12
_KCORE_SUPPORT = 2  # min co-purchase count for an edge (basket pruning)


def _kcore_chain_sql(k: int, rounds: int) -> str:
    """Generate the unrolled peel chain: each round keeps nodes whose
    degree among SURVIVORS is >= k, then restricts the edge set —
    the q_pagerank/q_bpe_merges unrolling pattern (fixed rounds ==
    deterministic semantics both engines replay exactly)."""
    parts = [
        """
WITH op AS MATERIALIZED (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e0 AS MATERIALIZED (
    -- support >= 2 basket pruning: a single shared order is noise,
    -- and without it the co-purchase graph is near-complete
    SELECT a.l_partkey AS u, b.l_partkey AS v
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
)"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f""",
a{r} AS MATERIALIZED (
    SELECT node FROM (
        SELECT u AS node FROM e{r - 1} UNION ALL SELECT v FROM e{r - 1}
    ) GROUP BY node HAVING COUNT(*) >= {k}
),
e{r} AS MATERIALIZED (
    SELECT e.u, e.v FROM e{r - 1} e
    SEMI JOIN a{r} au ON au.node = e.u
    SEMI JOIN a{r} av ON av.node = e.v
)"""
        )
    return "".join(parts)


KCORE_ORACLE = (
    _kcore_chain_sql(_KCORE_K, _KCORE_ROUNDS)
    + f"""
SELECT (SELECT COUNT(*) FROM (SELECT u AS n FROM e0 UNION SELECT v FROM e0))
           AS n_nodes,
       (SELECT COUNT(*) FROM a{_KCORE_ROUNDS}) AS n_core_nodes,
       (SELECT COUNT(*) FROM e{_KCORE_ROUNDS}) AS n_core_edges,
       (SELECT COUNT(*) FROM a{_KCORE_ROUNDS})
           = (SELECT COUNT(*) FROM a{_KCORE_ROUNDS - 1}) AS converged
"""
)


@query("q_kcore", KCORE_ORACLE)
def kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core of the co-purchase graph ({k}-core, {rounds} peel
    rounds): iteratively drop nodes with fewer than {k} surviving
    neighbors — the degeneracy kernel behind community seeding, spam
    subgraph mining and graph sparsification, and the third
    fixed-point graph shape here next to q_dedup_clusters (label
    propagation) and q_pagerank (value iteration). Edges carry a
    support >= {support} basket-pruning threshold (pairs sharing a
    single order are noise, and without the cut the co-purchase graph
    is near-complete, making any small k vacuous).
    [engine — not in reference]

    Scale design: each round is ONE degree aggregate plus two
    semi-joins, all keyed on node ids — the same partitioning every
    round, no corpus-sized state beyond the shrinking edge list, which
    is localCheckpointed per round so the {rounds}-round lineage never
    re-runs the co-purchase self-join. The peel stops at its fixed
    point, after at most {rounds} rounds: from round 2 on survivor sets
    only shrink, so equal consecutive COUNTS imply equal sets and an
    unchanged edge list, and every later round of the oracle's
    {rounds}-round unrolling is the identity. The `converged` flag
    reports whether the last two rounds kept the same survivors."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    edges = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v")
        )
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") >= _KCORE_SUPPORT)
        .select("u", "v")
        .localCheckpoint(eager=True)
    )
    n_nodes = (
        edges.select(F.col("u").alias("n"))
        .union(edges.select(F.col("v").alias("n")))
        .distinct()
        .count()
    )
    alive_counts: list[int] = []
    for _ in range(_KCORE_ROUNDS):
        # the survivor set feeds both semi-joins; |alive| rides its
        # checkpoint job instead of costing a count job
        alive, m = observed_checkpoint(
            edges.select(F.col("u").alias("node"))
            .unionAll(edges.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") >= _KCORE_K)
            .select("node"),
            n_alive=F.count(F.lit(1)),
        )
        alive_counts.append(m["n_alive"])
        if len(alive_counts) > 1 and alive_counts[-1] == alive_counts[-2]:
            break  # same survivors, so the edge list is unchanged too
        edges = (
            edges.join(alive.withColumnRenamed("node", "u"), "u", "left_semi")
            .join(alive.withColumnRenamed("node", "v"), "v", "left_semi")
            .select("u", "v")
            .localCheckpoint(eager=True)  # shrinking edge list, lineage cut
        )
    return spark.range(1).select(
        F.lit(n_nodes).cast("long").alias("n_nodes"),
        F.lit(alive_counts[-1]).cast("long").alias("n_core_nodes"),
        F.lit(edges.count()).cast("long").alias("n_core_edges"),
        F.lit(alive_counts[-1] == alive_counts[-2]).alias("converged"),
    )


kcore.__doc__ = kcore.__doc__.format(
    k=_KCORE_K, rounds=_KCORE_ROUNDS, support=_KCORE_SUPPORT
)


# ---------------------------------------------------------------------------
# offline changepoint: best single mean-shift split of the hourly series

CHANGEPOINT_ORACLE = """
WITH hourly AS (
    SELECT date_trunc('hour', ts) AS h, SUM(value) AS v
    FROM events GROUP BY 1
),
stats AS (
    SELECT h, v,
           ROW_NUMBER() OVER (ORDER BY h) AS i,
           SUM(v) OVER (ORDER BY h) AS pre_sum,
           COUNT(*) OVER () AS n,
           SUM(v) OVER () AS tot
    FROM hourly
),
scored AS (
    SELECT h, i, n,
           pre_sum / i AS mean_left,
           (tot - pre_sum) / (n - i) AS mean_right,
           ROUND(CAST(i AS DOUBLE) * (n - i) / n
                 * POW(pre_sum / i - (tot - pre_sum) / (n - i), 2),
                 6) AS score
    FROM stats
    WHERE i < n
)
SELECT epoch_us(h) AS split_us,
       CAST(i AS BIGINT) AS n_left,
       CAST(n - i AS BIGINT) AS n_right,
       ROUND(mean_left, 4) AS mean_left,
       ROUND(mean_right, 4) AS mean_right,
       score
FROM scored
ORDER BY score DESC, h
LIMIT 1
"""


@query("q_changepoint", CHANGEPOINT_ORACLE)
def changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline changepoint detection — the single best mean-shift
    split of the hourly value series, scored by the between-segment
    variance statistic n_l·n_r/n·(μ_l−μ_r)² (binary segmentation's
    first cut, the offline complement of q_cusum_drift's online
    alarm). [engine — not in reference]

    Scale design: the corpus-sized work is ONE hourly groupBy; the
    prefix-sum window and the argmax run over the |hours|-bounded
    aggregate (the q_ks_drift rule: windows over bounded aggregates,
    never over the corpus). The split is chosen on the 6dp-ROUNDED
    score with the hour as tiebreak, so cross-engine float noise in
    the prefix sums (~1e-12) cannot move the argmax."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(F.date_trunc("hour", "ts").alias("h")).agg(
        F.sum("value").alias("v")
    )
    w = Window.orderBy("h")  # |hours|-bounded aggregate, single partition OK
    wall = Window.partitionBy()
    stats = hourly.select(
        "h",
        F.row_number().over(w).alias("i"),
        F.sum("v").over(w).alias("pre_sum"),
        F.count(F.lit(1)).over(wall).alias("n"),
        F.sum("v").over(wall).alias("tot"),
    )
    ml = F.col("pre_sum") / F.col("i")
    mr = (F.col("tot") - F.col("pre_sum")) / (F.col("n") - F.col("i"))
    scored = stats.where(F.col("i") < F.col("n")).select(
        "h",
        "i",
        "n",
        ml.alias("mean_left"),
        mr.alias("mean_right"),
        F.round(
            F.col("i").cast("double") * (F.col("n") - F.col("i")) / F.col("n")
            * F.pow(ml - mr, F.lit(2)),
            6,
        ).alias("score"),
    )
    return (
        scored.orderBy(F.desc("score"), "h")
        .limit(1)
        .select(
            F.unix_micros("h").alias("split_us"),
            F.col("i").cast("long").alias("n_left"),
            (F.col("n") - F.col("i")).cast("long").alias("n_right"),
            F.round("mean_left", 4).alias("mean_left"),
            F.round("mean_right", 4).alias("mean_right"),
            "score",
        )
    )


# ---------------------------------------------------------------------------
# degree distribution power-law fit of the co-purchase graph

DEGREE_POWERLAW_ORACLE = """
WITH op AS (
    SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
e AS (
    SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
    FROM op a JOIN op b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
    SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
    ) GROUP BY node
),
dd AS (
    SELECT CAST(d AS DOUBLE) AS d,
           CAST(MIN(d) OVER () AS DOUBLE) AS dmin
    FROM deg
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(MIN(d) AS BIGINT) AS d_min,
       CAST(MAX(d) AS BIGINT) AS d_max,
       ROUND(AVG(d), 4) AS d_mean,
       ROUND(1.0 + COUNT(*) / SUM(LN(d / dmin)), 4) AS alpha_mle
FROM dd
"""


@query("q_degree_powerlaw", DEGREE_POWERLAW_ORACLE)
def degree_powerlaw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree-distribution census of the co-purchase graph with the
    Clauset-Shalizi-Newman continuous power-law exponent MLE
    α = 1 + n / Σ ln(d/d_min) — q_zipf_fit's graph-side sibling, the
    one-number test for whether a graph is hub-dominated (α < 2.5
    says salting/degree-capping will matter downstream).
    [engine — not in reference]

    Scale design: one degree aggregate (the shape every graph op here
    shares), then a single global aggregate over the |nodes|-bounded
    degree table; d_min enters via a constant-folded window over that
    same bounded table, so nothing corpus-sized is ever re-scanned."""
    li = load_table(spark, sf_dir, "lineitem")
    op = li.select("l_orderkey", "l_partkey").distinct()
    a, b = op.alias("a"), op.alias("b")
    deg = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("u"), F.col("b.l_partkey").alias("v"))
        .distinct()
        .select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    wall = Window.partitionBy()
    dd = deg.select(
        F.col("d").cast("double").alias("d"),
        F.min("d").over(wall).cast("double").alias("dmin"),
    )
    return dd.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.min("d").cast("long").alias("d_min"),
        F.max("d").cast("long").alias("d_max"),
        F.round(F.avg("d"), 4).alias("d_mean"),
        F.round(
            F.lit(1.0)
            + F.count(F.lit(1)) / F.sum(F.log(F.col("d") / F.col("dmin"))),
            4,
        ).alias("alpha_mle"),
    )


# ---------------------------------------------------------------------------
# population stability index: binned distribution drift with Laplace floor

_PSI_BINS = 10
_PSI_ALPHA = 0.5  # Laplace smoothing per bin (PSI is undefined on empty bins)

PSI_DRIFT_ORACLE = f"""
WITH s AS (
    SELECT value AS v,
           CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is_a
    FROM events WHERE event_type IN ('view', 'purchase')
),
ext AS (
    SELECT MIN(v) AS mn, MAX(v) AS mx FROM s
),
binned AS (
    SELECT LEAST(CAST(FLOOR((s.v - ext.mn) / ((ext.mx - ext.mn) / {_PSI_BINS}))
                      AS INT), {_PSI_BINS - 1}) AS bin,
           SUM(s.is_a) AS ca, SUM(1 - s.is_a) AS cb
    FROM s, ext
    GROUP BY 1
),
n AS (
    SELECT SUM(ca) AS na, SUM(cb) AS nb FROM binned
),
frac AS (
    SELECT (ca + {_PSI_ALPHA}) / (n.na + {_PSI_BINS} * {_PSI_ALPHA}) AS pa,
           (cb + {_PSI_ALPHA}) / (n.nb + {_PSI_BINS} * {_PSI_ALPHA}) AS pb
    FROM binned, n
)
SELECT COALESCE((SELECT CAST(na AS BIGINT) FROM n), 0) AS n_view,
       COALESCE((SELECT CAST(nb AS BIGINT) FROM n), 0) AS n_purchase,
       CAST({_PSI_BINS} AS BIGINT) AS bins,
       ROUND(SUM((pa - pb) * LN(pa / pb)), 6) AS psi
FROM frac
"""


@query("q_psi_drift", PSI_DRIFT_ORACLE)
def psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between the view and purchase value
    distributions — the industry-standard model-monitoring drift score
    (PSI < 0.1 stable, > 0.25 action): Σ (p_a − p_b)·ln(p_a/p_b) over
    {bins} fixed-width bins, with Laplace-{alpha} smoothing per bin so
    an empty bin (where raw PSI is ±∞) degrades gracefully instead of
    poisoning the sum. Completes the drift kit: q_cusum_drift
    (mean-shift-in-time), q_ks_drift (whole-shape test),
    q_changepoint (offline split), PSI (the monitoring dashboard
    number). [engine — not in reference]

    Scale design: identical to q_ks_drift — one min/max broadcast,
    one bin groupBy, and the PSI sum runs over the {bins}-row bin
    table; no window at all this time (PSI needs no cumulative
    distribution)."""
    e = load_table(spark, sf_dir, "events")
    s = e.where(F.col("event_type").isin("view", "purchase")).select(
        F.col("value").alias("v"),
        F.when(F.col("event_type") == "view", 1).otherwise(0).alias("is_a"),
    )
    ext = s.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    binned = (
        s.crossJoin(F.broadcast(ext))
        .select(
            F.least(
                F.floor(
                    (F.col("v") - F.col("mn"))
                    / ((F.col("mx") - F.col("mn")) / _PSI_BINS)
                ).cast("int"),
                F.lit(_PSI_BINS - 1),
            ).alias("bin"),
            "is_a",
        )
        .groupBy("bin")
        .agg(
            F.sum("is_a").alias("ca"),
            F.sum(F.lit(1) - F.col("is_a")).alias("cb"),
        )
    )
    n = binned.agg(
        F.sum("ca").cast("long").alias("na"), F.sum("cb").cast("long").alias("nb")
    )
    pa = (F.col("ca") + _PSI_ALPHA) / (F.col("na") + _PSI_BINS * _PSI_ALPHA)
    pb = (F.col("cb") + _PSI_ALPHA) / (F.col("nb") + _PSI_BINS * _PSI_ALPHA)
    return (
        binned.crossJoin(F.broadcast(n))
        .agg(
            F.min("na").alias("n_view"),
            F.min("nb").alias("n_purchase"),
            F.lit(_PSI_BINS).cast("long").alias("bins"),
            F.round(F.sum((pa - pb) * F.log(pa / pb)), 6).alias("psi"),
        )
        .select(
            F.coalesce(F.col("n_view").cast("long"), F.lit(0)).alias("n_view"),
            F.coalesce(F.col("n_purchase").cast("long"), F.lit(0)).alias(
                "n_purchase"
            ),
            "bins",
            "psi",
        )
    )


psi_drift.__doc__ = psi_drift.__doc__.format(bins=_PSI_BINS, alpha=_PSI_ALPHA)


# ---------------------------------------------------------------------------
# Kaplan-Meier survival: product-limit churn curve with censoring

_KM_HORIZON_DAYS = 14  # quiet this long before the corpus end = churned

KAPLAN_MEIER_ORACLE = f"""
WITH u AS (
    SELECT user_id,
           MIN(epoch_us(ts)) // 86400000000 AS first_d,
           MAX(epoch_us(ts)) // 86400000000 AS last_d
    FROM events GROUP BY user_id
),
g AS (SELECT MAX(last_d) AS gmax FROM u),
obs AS (
    SELECT CAST(u.last_d - u.first_d AS BIGINT) AS t,
           CAST(g.gmax - u.last_d >= {_KM_HORIZON_DAYS} AS INT) AS ev
    FROM u, g
),
census AS (
    SELECT t, CAST(SUM(ev) AS BIGINT) AS d,
           CAST(COUNT(*) - SUM(ev) AS BIGINT) AS c
    FROM obs GROUP BY t
),
risk AS (
    SELECT t, d, c,
           CAST(SUM(d + c) OVER (ORDER BY t DESC ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS n_risk
    FROM census
),
curve AS (
    SELECT t, d, c, n_risk,
           SUM(CASE WHEN d > 0 AND d < n_risk
                    THEN LN(1 - d / (n_risk * 1.0)) ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS lsum,
           MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
               OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS hit_zero
    FROM risk
)
SELECT t AS duration_days, n_risk, d AS n_churned, c AS n_censored,
       CASE WHEN hit_zero = 1 THEN 0.0 ELSE ROUND(EXP(lsum), 6) END AS survival
FROM curve ORDER BY duration_days
"""


@query("q_kaplan_meier", KAPLAN_MEIER_ORACLE)
def kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier product-limit survival curve of user lifetime
    (days between first and last event), with right-censoring: a user
    still active within {h} days of the corpus end hasn't churned yet
    and only contributes to the risk sets — the estimator that makes
    retention statements honest when the observation window cuts
    lifetimes short. S(t) = prod over churn times s <= t of
    (1 - d_s / n_s). [engine — not in reference]

    Scale design: the corpus collapses to one (first, last) row per
    user (one groupBy), then to the DURATION census (|distinct
    durations| <= |days| rows, calendar-bounded), so the risk-set and
    product-limit windows run single-partition on a tiny frame — the
    q_acf collapse. The product is a cumulative SUM of LN terms (each
    an exact rational 1 - d/n, identical doubles in both engines, the
    LN/EXP parity q_bm25 and q_dsir_weights already rely on) with a
    cumulative hit-zero flag instead of LN(0), 6dp-rounded."""
    e = load_table(spark, sf_dir, "events")
    u = e.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint").alias("day"),
    ).groupBy("user_id").agg(
        F.min("day").alias("first_d"), F.max("day").alias("last_d")
    )
    g = u.agg(F.max("last_d").alias("gmax"))
    obs = u.crossJoin(F.broadcast(g)).select(
        (F.col("last_d") - F.col("first_d")).cast("bigint").alias("t"),
        (F.col("gmax") - F.col("last_d") >= _KM_HORIZON_DAYS)
        .cast("int")
        .alias("ev"),
    )
    census = obs.groupBy("t").agg(
        F.sum("ev").cast("long").alias("d"),
        (F.count(F.lit(1)) - F.sum("ev")).cast("long").alias("c"),
    )
    w_desc = Window.orderBy(F.col("t").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = census.select(
        "t",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(w_desc).cast("long").alias("n_risk"),
    )
    w_asc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    curve = risk.select(
        "t",
        "d",
        "c",
        "n_risk",
        F.sum(
            F.when(
                (F.col("d") > 0) & (F.col("d") < F.col("n_risk")),
                F.log(1 - F.col("d") / (F.col("n_risk") * 1.0)),
            ).otherwise(F.lit(0.0))
        )
        .over(w_asc)
        .alias("lsum"),
        F.max(F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0))
        .over(w_asc)
        .alias("hit_zero"),
    )
    return curve.select(
        F.col("t").alias("duration_days"),
        "n_risk",
        F.col("d").alias("n_churned"),
        F.col("c").alias("n_censored"),
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp(F.col("lsum")), 6))
        .alias("survival"),
    ).orderBy("duration_days")


kaplan_meier.__doc__ = kaplan_meier.__doc__.format(h=_KM_HORIZON_DAYS)


# ---------------------------------------------------------------------------
# burstiness: inter-arrival regularity per event type

BURSTINESS_ORACLE = """
WITH gaps AS (
    SELECT event_type,
           epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id, event_type ORDER BY epoch_us(ts), event_id
           ) AS gap
    FROM events
),
g AS (
    SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n,
           CAST(SUM(gap) AS BIGINT) AS s,
           SUM((gap * 1.0) * (gap * 1.0)) AS ss
    FROM gaps WHERE gap IS NOT NULL GROUP BY event_type
)
SELECT event_type, n AS n_gaps,
       ROUND(s / (n * 1.0), 2) AS mean_gap_us,
       ROUND(SQRT(GREATEST(ss / (n * 1.0) - (s / (n * 1.0)) * (s / (n * 1.0)),
                           0.0)), 2) AS sd_gap_us,
       ROUND((SQRT(GREATEST(ss / (n * 1.0) - (s / (n * 1.0)) * (s / (n * 1.0)),
                            0.0)) - s / (n * 1.0))
             / NULLIF(SQRT(GREATEST(ss / (n * 1.0)
                                    - (s / (n * 1.0)) * (s / (n * 1.0)), 0.0))
                      + s / (n * 1.0), 0), 6) AS burstiness
FROM g
ORDER BY event_type
"""


@query("q_burstiness", BURSTINESS_ORACLE)
def burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness coefficient B = (sigma - mu)/(sigma + mu) of
    inter-arrival times per event type (Goh & Barabasi 2008): B -> -1
    for clockwork streams, 0 for Poisson, -> +1 for heavy bursts —
    the diagnostic that says whether event volume is schedulable or
    spike-driven (and whether a bot's cadence is too regular to be
    human). [engine — not in reference]

    Scale design: inter-arrival gaps come from a LAG window
    PARTITIONED BY (user, event_type) — user-bounded partitions, the
    q_sessionize shape, never a global sort — then one sufficient-
    stats aggregate per event type (|event-types| rows out). Gaps are
    exact integer microseconds; the sigma algebra runs on identical
    integer sums in both engines (ss accumulated in float64 with ~1e-16
    relative skew, 8 orders inside the 2dp/6dp rounds)."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.unix_micros("ts"), "event_id"
    )
    gaps = e.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap"),
    ).filter(F.col("gap").isNotNull())
    g = gaps.groupBy("event_type").agg(
        F.count("gap").cast("long").alias("n"),
        F.sum("gap").cast("long").alias("s"),
        F.sum((F.col("gap") * 1.0) * (F.col("gap") * 1.0)).alias("ss"),
    )
    mu = F.col("s") / (F.col("n") * 1.0)
    var = F.greatest(F.col("ss") / (F.col("n") * 1.0) - mu * mu, F.lit(0.0))
    sd = F.sqrt(var)
    return g.select(
        "event_type",
        F.col("n").alias("n_gaps"),
        F.round(mu, 2).alias("mean_gap_us"),
        F.round(sd, 2).alias("sd_gap_us"),
        F.round(F.try_divide(sd - mu, F.nullif(sd + mu, F.lit(0.0))), 6).alias(
            "burstiness"
        ),
    ).orderBy("event_type")
