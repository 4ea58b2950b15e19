"""Batch sessionization: split each user's event stream into sessions
separated by > 30 minutes of inactivity.

Classic two-window composition (lag → gap flag → cumulative sum), ONE
shuffle on user_id shared by both windows — Spark plans a single
Exchange and two Window operators over the same sort order. This is the
batch twin of streaming ``session_window`` (streaming/ module).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_table

GAP_SECONDS = 30 * 60

# Shared gaps-and-islands CTE block: ONE definition of "session" for
# every session-derived oracle in this module (q_sessionize and the
# q_session_quality census), so sibling ops cannot diverge on the gap
# rule or the (ts, event_id) tie-break.
_SESSIONS_CTES = f"""
flagged AS (
    SELECT user_id, ts, event_id, event_type, value,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) <= {GAP_SECONDS} * 1000000
                THEN 0 ELSE 1 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, event_id, event_type, value,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM flagged
)"""

SESSIONIZE_ORACLE = f"""
WITH {_SESSIONS_CTES}
SELECT user_id, session_id, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS session_value,
       epoch_us(MIN(ts)) AS session_start, epoch_us(MAX(ts)) AS session_end
FROM sessions
GROUP BY user_id, session_id
"""


def _sessions_frame(e: DataFrame) -> DataFrame:
    """Spark twin of _SESSIONS_CTES: events + a session_id column via
    the lag → gap flag → cumulative sum composition. ONE shuffle on
    user_id shared by both windows."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ok = (
        F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w)) <= GAP_SECONDS * 1_000_000
    )
    flagged = e.withColumn("new_session", F.when(gap_ok, 0).otherwise(1))
    return flagged.withColumn(
        "session_id",
        F.sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )


@query("q_sessionize", SESSIONIZE_ORACLE)
def sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    with_session = _sessions_frame(e)
    # session bounds as epoch-micros BIGINT on both sides: raw timestamp
    # outputs land as datetime64[ns] from Spark but [us] from DuckDB, and
    # the driver's value hash is representation-sensitive (r1 lesson).
    return with_session.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("session_value"),
        F.unix_micros(F.min("ts")).alias("session_start"),
        F.unix_micros(F.max("ts")).alias("session_end"),
    )


# ---------------------------------------------------------------------------
# native session_window aggregation (the built-in twin of the manual
# gaps-and-islands sessionization above)

SESSION_WINDOW_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) < {GAP_SECONDS} * 1000000
                THEN 0 ELSE 1 END AS new_session
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, value,
           CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS session_id
    FROM flagged
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start,
       epoch_us(MAX(ts)) + {GAP_SECONDS} * 1000000 AS session_end,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS session_value
FROM sessions
GROUP BY user_id, session_id
"""


@query("q_session_window", SESSION_WINDOW_ORACLE)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization via the BUILT-IN ``session_window`` aggregate —
    one groupBy, no window functions: Spark's native session operator
    merges events closer than the gap into one window whose end is
    last_event + gap. Cross-validates q_sessionize (hand-rolled
    islands): same sessions, differing only in the documented boundary
    convention (native merges on ``diff < gap``, strict; and reports
    end = last_ts + gap, not last_ts — the oracle encodes exactly
    that).

    Plan note: ONE exchange on user_id and a sort — the same cost as
    the manual twin's shared window, but the session merge runs inside
    the aggregation operator (updating session state in place) instead
    of as two window passes + a re-aggregation; prefer it wherever the
    engine offers it."""
    from pcap_to_parquet_spark.sources import load_table

    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", f"{GAP_SECONDS} seconds"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start"),
            F.unix_micros("session_window.end").alias("session_end"),
            "n_events",
            "session_value",
        )
    )


# ---------------------------------------------------------------------------
# session-quality census per entry event-type

# CTEs ending in sess_flat(entry_type, depth, dwell_s) — the batch
# census input; the streaming twin swaps in the native session_window
# convention + watermark clip but reuses the census SQL below verbatim
_QUALITY_SESS_FLAT = f"""{_SESSIONS_CTES},
entried AS (
    SELECT user_id, session_id, ts, event_id,
           FIRST_VALUE(event_type) OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts, event_id) AS entry_type
    FROM sessions
),
sess_flat AS (
    SELECT user_id, session_id, MIN(entry_type) AS entry_type,
           CAST(COUNT(*) AS BIGINT) AS depth,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS dwell_s
    FROM entried GROUP BY user_id, session_id
)"""


def quality_census_sql(sess_flat_ctes: str) -> str:
    """The census half of the session-quality oracle: one SQL text
    over any CTE chain that ends in sess_flat(entry_type, depth,
    dwell_s) — shared by the batch op and the streaming twin so the
    two censuses cannot diverge."""
    return f"""
WITH {sess_flat_ctes},
base AS (
    SELECT entry_type,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN depth = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_bounce,
           CAST(MAX(depth) AS BIGINT) AS max_depth,
           CAST(SUM(depth) AS BIGINT) AS sum_depth,
           CAST(SUM(dwell_s) AS BIGINT) AS sum_dwell
    FROM sess_flat GROUP BY entry_type
),
hd AS (SELECT entry_type, depth, COUNT(*) AS cnt FROM sess_flat
       GROUP BY entry_type, depth),
cd AS (SELECT entry_type, depth,
              SUM(cnt) OVER (PARTITION BY entry_type ORDER BY depth) AS cum,
              SUM(cnt) OVER (PARTITION BY entry_type) AS tot
       FROM hd),
pd AS (SELECT entry_type,
              CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN depth END) AS BIGINT) AS p50_depth,
              CAST(MIN(CASE WHEN cum >= (9 * tot + 9) // 10 THEN depth END) AS BIGINT) AS p90_depth
       FROM cd GROUP BY entry_type),
hw AS (SELECT entry_type, dwell_s, COUNT(*) AS cnt FROM sess_flat
       GROUP BY entry_type, dwell_s),
cw AS (SELECT entry_type, dwell_s,
              SUM(cnt) OVER (PARTITION BY entry_type ORDER BY dwell_s) AS cum,
              SUM(cnt) OVER (PARTITION BY entry_type) AS tot
       FROM hw),
pw AS (SELECT entry_type,
              CAST(MIN(CASE WHEN cum >= (tot + 1) // 2 THEN dwell_s END) AS BIGINT) AS p50_dwell_s,
              CAST(MIN(CASE WHEN cum >= (9 * tot + 9) // 10 THEN dwell_s END) AS BIGINT) AS p90_dwell_s
       FROM cw GROUP BY entry_type)
SELECT base.entry_type, n_sessions, n_bounce,
       ROUND(n_bounce * 1.0 / n_sessions, 6) AS bounce_rate,
       ROUND(sum_depth * 1.0 / n_sessions, 6) AS mean_depth,
       max_depth, p50_depth, p90_depth,
       ROUND(sum_dwell * 1.0 / n_sessions, 6) AS mean_dwell_s,
       p50_dwell_s, p90_dwell_s
FROM base JOIN pd ON base.entry_type = pd.entry_type
          JOIN pw ON base.entry_type = pw.entry_type
"""


SESSION_QUALITY_ORACLE = quality_census_sql(_QUALITY_SESS_FLAT)


@query("q_session_quality", SESSION_QUALITY_ORACLE)
def session_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality census per ENTRY event-type — the engagement
    decision table a product/funnel team reads per landing action: for
    sessions grouped by their first event's type, the bounce rate
    (single-event sessions), the depth distribution (mean/max plus
    exact p50/p90 events-per-session) and the dwell distribution
    (mean plus exact p50/p90 session seconds). Composes the shared
    q_sessionize gaps-and-islands kernel (same gap rule, same
    (ts, event_id) tie-break — one definition of "session" for the
    module) with the bounded-census discipline.
    [engine — not in reference]

    Scale design: sessionization is the module's single user_id
    shuffle (two windows over one Exchange); the per-session frame is
    one groupBy (entry type rides as an arg-min struct — no second
    window pass on the event frame); the quantiles are EXACT but
    histogram-based: depth and dwell are grouped to
    (entry_type, value) count frames first, so the rank windows run
    over histogram-sized inputs (|entry_types| x |distinct values|),
    never over the corpus — the q_window_dist lesson (no
    single-partition sort over data-scale rows at 100 TB). All
    quantile arithmetic is integer (ceil via (n+1) div 2 /
    (9n+9) div 10), immune to percentile-interpolation divergence
    between engines."""
    e = load_table(spark, sf_dir, "events")
    s = _sessions_frame(e)
    per = (
        s.groupBy("user_id", "session_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("depth"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias("dwell_us"),
            F.min(F.struct("ts", "event_id", "event_type")).alias("fe"),
        )
        .select(
            F.col("fe.event_type").alias("entry_type"),
            "depth",
            F.expr("dwell_us div 1000000").alias("dwell_s"),
        )
    )
    return quality_census(per)


def quality_census(per: DataFrame) -> DataFrame:
    """The census half of the session-quality operators, over any
    per-session frame (entry_type, depth, dwell_s) — shared by the
    batch op and the streaming twin (exactly mirroring
    quality_census_sql, so the two engines and the two modes all
    compute one census)."""
    base = per.groupBy("entry_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum(F.when(F.col("depth") == 1, 1).otherwise(0)).cast("long").alias("n_bounce"),
        F.max("depth").cast("long").alias("max_depth"),
        F.sum("depth").cast("long").alias("sum_depth"),
        F.sum("dwell_s").cast("long").alias("sum_dwell"),
    )

    # exact quantiles off a histogram: the shared kernel runs the
    # cum/tot windows over the (entry_type, value) count frame, not
    # the session frame
    from pcap_to_parquet_spark.operators.aggregates import exact_grid_quantiles

    qd = exact_grid_quantiles(per, "entry_type", "depth", "p50_depth", "p90_depth")
    qw = exact_grid_quantiles(
        per, "entry_type", "dwell_s", "p50_dwell_s", "p90_dwell_s"
    )
    return (
        base.join(qd, "entry_type")
        .join(qw, "entry_type")
        .select(
            "entry_type",
            "n_sessions",
            "n_bounce",
            F.round(F.col("n_bounce") * 1.0 / F.col("n_sessions"), 6).alias("bounce_rate"),
            F.round(F.col("sum_depth") * 1.0 / F.col("n_sessions"), 6).alias("mean_depth"),
            "max_depth",
            "p50_depth",
            "p90_depth",
            F.round(F.col("sum_dwell") * 1.0 / F.col("n_sessions"), 6).alias("mean_dwell_s"),
            "p50_dwell_s",
            "p90_dwell_s",
        )
    )


# ---------------------------------------------------------------------------
# within-session behavior graph: first-order transition census

SESSION_TRANSITIONS_ORACLE = f"""
WITH {_SESSIONS_CTES},
steps AS (
    SELECT event_type AS from_type,
           COALESCE(LEAD(event_type) OVER (PARTITION BY user_id, session_id
                                           ORDER BY ts, event_id),
                    'END') AS to_type
    FROM sessions
),
tc AS (SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
       FROM steps GROUP BY from_type, to_type),
tot AS (SELECT from_type, CAST(SUM(n_transitions) AS BIGINT) AS n_from
        FROM tc GROUP BY from_type),
ent AS (SELECT tc.from_type,
               ROUND(SUM(-(n_transitions * 1.0 / n_from)
                         * ln(n_transitions * 1.0 / n_from) / ln(2.0)), 4)
                   AS next_entropy_bits
        FROM tc JOIN tot ON tc.from_type = tot.from_type
        GROUP BY tc.from_type)
SELECT tc.from_type, tc.to_type, n_transitions, tot.n_from,
       ROUND(n_transitions * 1.0 / tot.n_from, 6) AS p_next,
       ent.next_entropy_bits
FROM tc JOIN tot ON tc.from_type = tot.from_type
        JOIN ent ON tc.from_type = ent.from_type
"""


@query("q_session_transitions", SESSION_TRANSITIONS_ORACLE)
def session_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-session BEHAVIOR GRAPH — the first-order Markov
    transition census over event types: for every (from_type, to_type)
    pair observed inside a session (session end modeled as a 'END'
    sink, so exit rates are first-class), the transition count, the
    row-normalized next-step probability, and per from_type the
    next-event entropy in bits (predictability of what follows each
    action — the q_char_entropy 4dp-bits discipline). Every event
    contributes exactly ONE outgoing transition, so the census re-sums
    to the event count and the 'END' column re-sums to the session
    count — both pinned as cross-op contracts against q_sessionize.
    [engine — not in reference]

    Scale design: the lead() window clusters on (user_id, session_id),
    which hash-partitioning on user_id already satisfies (subset
    rule), so the step extraction reuses the sessionize Exchange — a
    re-sort, not a second shuffle; the transition table is
    |event_types|² + END (bounded), and everything downstream
    (totals, entropy, probability joins) is census-sized. Entropy
    terms use exact-integer-ratio probabilities (bit-identical
    doubles in both engines) with one 4dp round after the sum."""
    e = load_table(spark, sf_dir, "events")
    s = _sessions_frame(e)
    w = Window.partitionBy("user_id", "session_id").orderBy("ts", "event_id")
    steps = s.select(
        F.col("event_type").alias("from_type"),
        F.coalesce(F.lead("event_type").over(w), F.lit("END")).alias("to_type"),
    )
    # the transition table is |event_types|²+END rows and feeds THREE
    # consumers (totals, entropy, the final join) — localCheckpoint it
    # so the corpus-scale sessionize pipeline runs ONCE, not per branch
    # (the q_ivf_probe_curve fork discipline)
    tc = (
        steps.groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_transitions"))
        .localCheckpoint(eager=True)
    )
    tot = tc.groupBy("from_type").agg(
        F.sum("n_transitions").cast("long").alias("n_from")
    )
    p = F.col("n_transitions") * 1.0 / F.col("n_from")
    ent = (
        tc.join(tot, "from_type")
        .groupBy("from_type")
        .agg(F.round(F.sum(-p * F.log(p) / F.log(F.lit(2.0))), 4).alias("next_entropy_bits"))
    )
    return (
        tc.join(tot, "from_type")
        .join(ent, "from_type")
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            "n_from",
            F.round(p, 6).alias("p_next"),
            "next_entropy_bits",
        )
    )
