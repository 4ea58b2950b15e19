"""Statistical qualification: the hypothesis-test / calibration /
uncertainty layer a curation pipeline runs before shipping a dataset
or a filter model. [engine — not in reference; the reference delegates
all querying downstream, README.md:20-40]

Every op here reduces the corpus to a BOUNDED sufficient statistic
before any driver-visible math — the q_ks_drift rule. Scale
discipline, per operator:

- chi-square independence works off the |lang|x|source| contingency
  table (one groupBy; cells bounded by the attribute cardinalities,
  never the corpus), using the algebraic identity
  chi2 = N * SUM(n^2/(r*c)) - N so absent cells need no cross join;
- calibration (ECE) histograms scores into 10 fixed bins — the same
  bounded-histogram move as q_auc_eval — so the reliability diagram
  costs one scan at any corpus size;
- Mondrian split-conformal keeps per-group state only (one mean, one
  order-statistic quantile per event type); the quantile is an exact
  k-th order statistic inside a per-group window, never a global sort;
- the jackknife runs entirely in closed form from the global (S, T)
  sums — every leave-one-out replicate is (S-x_i)/(T-q_i), one
  map-side expression per row, two passes total;
- ACF / seasonal decomposition first collapse the corpus to the DAILY
  series (|days| rows — bounded by calendar time, not data volume),
  then do all lag/window algebra on that tiny frame;
- l-diversity mirrors q_k_anonymity: a group census aggregate whose
  output is |QI-groups| rows, summarized to one row.

Float-exactness contract (shared with the PQ-family oracles): every
engine-boundary scalar (a trained mean, a daily sum, a global sum
feeding cancellation-prone differences) is ROUNDed at a fixed decimal
in BOTH engines so downstream per-row arithmetic is bit-identical;
order-dependent double SUMs are left unrounded only where the 1e-12
relative summation skew is far inside the 9-significant-digit compare.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pcap_to_parquet_spark.functions.text import (
    ENGLISH_SCORE_SQL,
    english_score,
    whitespace_tokens,
    whitespace_tokens_sql,
)
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_table

# ---------------------------------------------------------------------------
# chi-square test of independence: lang x source on documents

CHI2_ORACLE = """
WITH obs AS (
    SELECT lang, source, COUNT(*) AS n
    FROM documents GROUP BY lang, source
),
r AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS rn FROM obs GROUP BY lang),
c AS (SELECT source, CAST(SUM(n) AS BIGINT) AS cn FROM obs GROUP BY source),
t AS (
    SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_total,
           CAST((SELECT COUNT(*) FROM r) AS BIGINT) AS nr,
           CAST((SELECT COUNT(*) FROM c) AS BIGINT) AS nc
    FROM obs
),
s AS (
    SELECT SUM((obs.n * obs.n) / (r.rn * c.cn * 1.0)) AS ratio
    FROM obs JOIN r ON obs.lang = r.lang JOIN c ON obs.source = c.source
)
SELECT t.n_total AS n_total,
       (t.nr - 1) * (t.nc - 1) AS dof,
       ROUND(s.ratio * t.n_total - t.n_total, 6) AS chi2,
       ROUND(SQRT(GREATEST(s.ratio * t.n_total - t.n_total, 0.0)
                  / NULLIF(t.n_total * LEAST(t.nr - 1, t.nc - 1), 0)), 6)
           AS cramers_v
FROM s, t
"""


@query("q_chi2_test", CHI2_ORACLE)
def chi2_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between document
    language and source, plus Cramér's V effect size — the standard
    pre-training audit for "is my language mix confounded with where
    I scraped it from". [engine — not in reference]

    Scale design: the full statistic needs every (lang, source) cell
    INCLUDING empty ones, which naively means a cross join of the two
    attribute domains. The identity
    chi2 = SUM((n-e)^2/e) = N * SUM_observed(n^2/(r*c)) - N
    (empty cells contribute n^2/e = 0 to the first sum) removes the
    cross join entirely: one contingency groupBy (output bounded by
    |lang|x|source|, not corpus size), two marginal aggregates small
    enough to broadcast, one scan over the cells. Nothing corpus-sized
    crosses an exchange after the first aggregate."""
    d = load_table(spark, sf_dir, "documents")
    obs = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("n"))
    r = obs.groupBy("lang").agg(F.sum("n").cast("long").alias("rn"))
    c = obs.groupBy("source").agg(F.sum("n").cast("long").alias("cn"))
    t = obs.agg(
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n_total"),
        F.countDistinct("lang").alias("nr"),
        F.countDistinct("source").alias("nc"),
    )
    s = (
        obs.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .agg(
            F.sum(
                (F.col("n") * F.col("n")) / (F.col("rn") * F.col("cn") * F.lit(1.0))
            ).alias("ratio")
        )
    )
    chi2 = F.col("ratio") * F.col("n_total") - F.col("n_total")
    return s.crossJoin(F.broadcast(t)).select(
        "n_total",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("dof"),
        F.round(chi2, 6).alias("chi2"),
        F.round(
            F.sqrt(
                F.try_divide(
                    F.greatest(chi2, F.lit(0.0)),
                    F.col("n_total") * F.least(F.col("nr") - 1, F.col("nc") - 1),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


# ---------------------------------------------------------------------------
# calibration audit: 10-bin reliability diagram (ECE components)

CALIBRATION_ORACLE = f"""
WITH scored AS (
    SELECT {ENGLISH_SCORE_SQL} AS p,
           CAST(lang = 'en' AS INT) AS y
    FROM documents
)
SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n_bin,
       ROUND(AVG(p), 6) AS conf,
       ROUND(AVG(CAST(y AS DOUBLE)), 6) AS acc,
       ROUND(ABS(AVG(p) - AVG(CAST(y AS DOUBLE))), 6) AS gap
FROM scored
GROUP BY 1
ORDER BY bin
"""


@query("q_calibration_ece", CALIBRATION_ORACLE)
def calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability diagram for the vowel-ratio English-detector: bin
    the heuristic confidence into 10 fixed-width bins and compare
    per-bin mean confidence against per-bin empirical accuracy — the
    per-bin |conf - acc| gaps are the components of Expected
    Calibration Error, the metric that decides whether a filter
    model's scores can be thresholded at face value.
    [engine — not in reference]

    Scale design: the entire audit is one groupBy into at most 10
    groups — the bounded-histogram pattern (q_auc_eval). Confidence
    is 4dp-rounded BEFORE the x2 squash in both engines so the bin
    assignment FLOOR(p*10) is a decision on bit-identical doubles,
    never a float-noise coin flip at a bin edge."""
    d = load_table(spark, sf_dir, "documents")
    p = english_score()
    scored = d.select(p.alias("p"), (F.col("lang") == "en").cast("int").alias("y"))
    return (
        scored.groupBy(
            F.least(F.floor(F.col("p") * 10), F.lit(9)).cast("long").alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n_bin"),
            F.round(F.avg("p"), 6).alias("conf"),
            F.round(F.avg(F.col("y").cast("double")), 6).alias("acc"),
            F.round(
                F.abs(F.avg("p") - F.avg(F.col("y").cast("double"))), 6
            ).alias("gap"),
        )
        .orderBy("bin")
    )


# ---------------------------------------------------------------------------
# l-diversity audit: sensitive-value diversity inside QI groups

_LDIV_L = 3

L_DIVERSITY_ORACLE = f"""
WITH rows_ AS (
    SELECT event_type,
           CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) // 3600000000 AS BIGINT) AS hour,
           CAST(FLOOR(TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) / 10)
                AS BIGINT) AS sens
    FROM events
),
g AS (
    SELECT event_type, hour, COUNT(*) AS n,
           COUNT(DISTINCT sens) AS n_sens
    FROM rows_ GROUP BY event_type, hour
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(MIN(n_sens) AS BIGINT) AS min_l,
       CAST(SUM(CASE WHEN n_sens < {_LDIV_L} THEN 1 ELSE 0 END) AS BIGINT)
           AS violating_groups,
       CAST(SUM(CASE WHEN n_sens < {_LDIV_L} THEN n ELSE 0 END) AS BIGINT)
           AS rows_at_risk
FROM g
"""


@query("q_l_diversity", L_DIVERSITY_ORACLE)
def l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the stronger sibling of q_k_anonymity: a
    quasi-identifier group can be large (k-anonymous) yet still leak
    if every row in it shares one sensitive value. Groups events by
    (event type x hour) and requires at least {l} DISTINCT sensitive
    values (the decile of the payload's `k` attribute) per group;
    groups below that are attribute-disclosure risks.
    [engine — not in reference]

    Scale design: identical shape to q_k_anonymity — one census
    aggregate whose output is |QI-groups| rows (bounded by
    event-types x hours, i.e. calendar time), one summary aggregate;
    COUNT(DISTINCT sens) inside the census is a per-group distinct
    over a 10-value domain, which Spark executes as a partial
    aggregate — no corpus-sized state anywhere."""
    e = load_table(spark, sf_dir, "events")
    sens = F.floor(
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("bigint") / 10
    ).cast("bigint")
    g = e.select(
        "event_type",
        F.floor(F.unix_micros(F.col("ts")) / 3_600_000_000)
        .cast("bigint")
        .alias("hour"),
        sens.alias("sens"),
    ).groupBy("event_type", "hour").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("sens").alias("n_sens"),
    )
    return g.agg(
        F.count(F.lit(1)).alias("n_groups"),
        F.min("n_sens").cast("long").alias("min_l"),
        F.sum(F.when(F.col("n_sens") < _LDIV_L, 1).otherwise(0))
        .cast("long")
        .alias("violating_groups"),
        F.sum(F.when(F.col("n_sens") < _LDIV_L, F.col("n")).otherwise(0))
        .cast("long")
        .alias("rows_at_risk"),
    )


l_diversity.__doc__ = l_diversity.__doc__.format(l=_LDIV_L)


# ---------------------------------------------------------------------------
# autocorrelation of the daily-revenue series, lags 1..7

_ACF_MAX_LAG = 7

ACF_ORACLE = f"""
WITH daily AS (
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
           ROUND(SUM(o_totalprice), 2) AS rev
    FROM orders GROUP BY 1
),
m AS (SELECT ROUND(AVG(rev), 6) AS mu, COUNT(*) AS n FROM daily),
lagged AS (
    SELECT rev,
           {", ".join(f"LAG(rev, {k}) OVER (ORDER BY day) AS rev_{k}" for k in range(1, _ACF_MAX_LAG + 1))}
    FROM daily
),
den AS (SELECT SUM((rev - m.mu) * (rev - m.mu)) AS d FROM lagged, m)
{" UNION ALL ".join(
    f"SELECT CAST({k} AS BIGINT) AS lag, "
    f"ROUND(SUM((rev - m.mu) * (rev_{k} - m.mu)) / NULLIF(ANY_VALUE(den.d), 0), 6) AS acf "
    f"FROM lagged, m, den WHERE rev_{k} IS NOT NULL"
    for k in range(1, _ACF_MAX_LAG + 1)
)}
ORDER BY lag
"""


@query("q_acf", ACF_ORACLE)
def acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation of the daily order-revenue series at
    lags 1..{maxlag} — the first diagnostic anyone runs before
    fitting the forecasting ops (q_ewma / q_holt_forecast): it says
    whether yesterday predicts today and whether a weekly cycle
    exists. Lags are row-lags over the observed-day series ordered by
    day. [engine — not in reference]

    Scale design: the corpus collapses to the DAILY series first
    (one groupBy; |days| rows, bounded by calendar time, not data
    volume), so the lag windows and the centered products all run on
    a frame small enough for a single-partition window without any
    scalability concern — the same collapse q_holt_forecast uses.
    Daily sums are 2dp-rounded and the global mean 6dp-rounded at the
    engine boundary so both engines difference bit-identical values
    (the centered products are cancellation-prone)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    m = daily.agg(F.round(F.avg("rev"), 6).alias("mu"))
    w = Window.orderBy("day")  # |days|-bounded series: single partition OK
    lag_cols = [
        F.lag("rev", k).over(w).alias(f"rev_{k}") for k in range(1, _ACF_MAX_LAG + 1)
    ]
    lagged = daily.select("rev", *lag_cols).crossJoin(F.broadcast(m))
    # one pass: denominator + every lag's numerator in a single aggregate
    # (null lags drop out of SUM, matching the oracle's IS NOT NULL)
    stats = lagged.agg(
        F.sum((F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu"))).alias("d"),
        *[
            F.sum(
                (F.col("rev") - F.col("mu")) * (F.col(f"rev_{k}") - F.col("mu"))
            ).alias(f"num_{k}")
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.round(F.try_divide(F.col(f"num_{k}"), F.col("d")), 6).alias("acf"),
            )
            for k in range(1, _ACF_MAX_LAG + 1)
        ]
    )
    return (
        stats.select(F.explode(pairs).alias("kv"))
        .select("kv.lag", "kv.acf")
        .orderBy("lag")
    )


acf.__doc__ = acf.__doc__.format(maxlag=_ACF_MAX_LAG)


# ---------------------------------------------------------------------------
# classical seasonal decomposition: weekly indices of daily revenue

SEASONAL_ORACLE = """
WITH daily AS (
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
           ROUND(SUM(o_totalprice), 2) AS rev
    FROM orders GROUP BY 1
),
tr AS (
    SELECT day, rev,
           AVG(rev) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS trend,
           COUNT(*) OVER (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
               AS wn
    FROM daily
)
SELECT CAST(day % 7 AS BIGINT) AS dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(AVG(rev - trend), 6) AS seasonal
FROM tr
WHERE wn = 7
GROUP BY 1
ORDER BY dow
"""


@query("q_seasonal_decompose", SEASONAL_ORACLE)
def seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition of daily revenue:
    trend = 7-day centered moving average over the observed-day
    series, seasonal index = mean detrended value per day-of-week
    (day % 7 on the epoch-day integer; 0 = Thursday since day 0 =
    1970-01-01). The 7 indices say how much each weekday runs above
    or below trend — the additive-model core of STL.
    [engine — not in reference]

    Scale design: same collapse as q_acf — the corpus reduces to the
    |days|-bounded daily series before any window runs, so the
    centered moving average is a 7-row frame over a tiny frame and
    the final output is exactly 7 rows. Edge days without a full
    7-day window are EXCLUDED (wn = 7) rather than averaged short, so
    the trend is never biased by partial frames; day-of-week comes
    from integer epoch-day arithmetic, identical in both engines by
    construction (no locale-dependent date function)."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    w = Window.orderBy("day").rowsBetween(-3, 3)  # |days|-bounded series
    tr = daily.select(
        "day",
        "rev",
        F.avg("rev").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    return (
        tr.filter(F.col("wn") == 7)
        .groupBy((F.col("day") % 7).cast("long").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg(F.col("rev") - F.col("trend")), 6).alias("seasonal"),
        )
        .orderBy("dow")
    )


# ---------------------------------------------------------------------------
# Mondrian split-conformal prediction intervals per event type

_CONF_ALPHA = 0.1  # 90% target coverage

CONFORMAL_ORACLE = f"""
WITH split AS (
    SELECT event_type, value, user_id % 3 AS part FROM events
),
model AS (
    SELECT event_type, ROUND(AVG(value), 6) AS yhat,
           CAST(COUNT(*) AS BIGINT) AS n_train
    FROM split WHERE part = 0 GROUP BY event_type
),
cal AS (
    SELECT s.event_type, ABS(s.value - m.yhat) AS r
    FROM split s JOIN model m ON s.event_type = m.event_type
    WHERE s.part = 1
),
ranked AS (
    SELECT event_type, r,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY r) AS rk,
           CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_cal
    FROM cal
),
qhat AS (
    SELECT event_type, r AS q, n_cal
    FROM ranked
    WHERE rk = LEAST(CAST(CEIL((1 - {_CONF_ALPHA}) * (n_cal + 1)) AS BIGINT), n_cal)
),
test AS (
    SELECT s.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_test,
           ROUND(AVG(CASE WHEN ABS(s.value - m.yhat) <= q.q
                          THEN 1.0 ELSE 0.0 END), 6) AS coverage
    FROM split s
    JOIN model m ON s.event_type = m.event_type
    JOIN qhat q ON s.event_type = q.event_type
    WHERE s.part = 2
    GROUP BY s.event_type
)
SELECT m.event_type AS event_type, m.n_train AS n_train, q.n_cal AS n_cal,
       t.n_test AS n_test, m.yhat AS yhat, ROUND(q.q, 6) AS qhat,
       t.coverage AS coverage
FROM model m JOIN qhat q ON m.event_type = q.event_type
JOIN test t ON m.event_type = t.event_type
ORDER BY event_type
"""


@query("q_conformal_intervals", CONFORMAL_ORACLE)
def conformal_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian (group-conditional) split-conformal prediction: train
    a per-event-type mean predictor on fold 0, take the
    ceil(0.9*(n+1))-th smallest absolute residual on calibration
    fold 1 as the interval half-width qhat, and measure empirical
    coverage of yhat ± qhat on held-out fold 2 — the
    distribution-free uncertainty wrapper (Vovk; Lei et al.) that a
    data pipeline puts around any point model before acting on its
    scores. Folds come from user_id % 3 so the split is deterministic
    and grouping-consistent (a user never straddles folds).
    [engine — not in reference]

    Scale design: model state is one (mean, count) row per event
    type; the conformal quantile is an EXACT k-th order statistic via
    row_number inside a per-group window — the group-bounded-window
    rule, never a global sort. The trained mean is 6dp-rounded at the
    engine boundary, so every downstream residual and the coverage
    indicator compare bit-identical doubles in both engines."""
    e = load_table(spark, sf_dir, "events")
    split = e.select("event_type", "value", (F.col("user_id") % 3).alias("part"))
    model = (
        split.filter(F.col("part") == 0)
        .groupBy("event_type")
        .agg(
            F.round(F.avg("value"), 6).alias("yhat"),
            F.count(F.lit(1)).alias("n_train"),
        )
    )
    cal = (
        split.filter(F.col("part") == 1)
        .join(F.broadcast(model), "event_type")
        .select("event_type", F.abs(F.col("value") - F.col("yhat")).alias("r"))
    )
    w = Window.partitionBy("event_type").orderBy("r")
    wall = Window.partitionBy("event_type")
    ranked = cal.select(
        "event_type",
        "r",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wall).alias("n_cal"),
    )
    k = F.least(
        F.ceil((1 - _CONF_ALPHA) * (F.col("n_cal") + 1)).cast("long"), F.col("n_cal")
    )
    qhat = ranked.filter(F.col("rk") == k).select(
        "event_type", F.col("r").alias("q"), "n_cal"
    )
    test = (
        split.filter(F.col("part") == 2)
        .join(F.broadcast(model), "event_type")
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_test"),
            F.round(
                F.avg(
                    F.when(
                        F.abs(F.col("value") - F.col("yhat")) <= F.col("q"), 1.0
                    ).otherwise(0.0)
                ),
                6,
            ).alias("coverage"),
        )
    )
    return (
        model.join(qhat, "event_type")
        .join(test, "event_type")
        .select(
            "event_type",
            "n_train",
            "n_cal",
            "n_test",
            "yhat",
            F.round(F.col("q"), 6).alias("qhat"),
            "coverage",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# jackknife standard error for the ratio-of-sums estimator

JACKKNIFE_ORACLE = """
WITH x AS (
    SELECT l_extendedprice * (1 - l_discount) AS xi, l_quantity AS qi
    FROM lineitem
),
tot AS (
    SELECT ROUND(SUM(xi), 2) AS s, ROUND(SUM(qi), 2) AS t,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM x
),
loo AS (
    SELECT (tot.s - x.xi) / (tot.t - x.qi) AS li, tot.n AS n
    FROM x, tot
),
m AS (SELECT ROUND(AVG(li), 6) AS ml FROM loo),
v AS (
    SELECT SQRT((ANY_VALUE(loo.n) - 1.0) / ANY_VALUE(loo.n)
                * SUM((li - m.ml) * (li - m.ml))) AS se
    FROM loo, m
)
SELECT tot.n AS n,
       ROUND(tot.s / tot.t, 6) AS estimate,
       ROUND(v.se, 9) AS jk_se,
       ROUND(tot.s / tot.t - 1.959964 * v.se, 6) AS ci_lo,
       ROUND(tot.s / tot.t + 1.959964 * v.se, 6) AS ci_hi
FROM tot, v
"""


@query("q_jackknife_ci", JACKKNIFE_ORACLE)
def jackknife_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out jackknife standard error and 95% CI for the
    ratio-of-sums estimator "discounted revenue per unit shipped"
    (SUM(price*(1-disc)) / SUM(qty)) — the classic nonlinear
    statistic where a naive per-row variance is WRONG and the
    delete-one jackknife (Efron & Stein) is the standard fix.
    [engine — not in reference]

    Scale design: no resampling pass ever runs — every leave-one-out
    replicate is closed-form from the two global sums,
    l_i = (S - x_i)/(T - q_i), one map-side expression per row; the
    whole estimator is two scans (sums, then centered squares) with
    one-row state between them. The global sums are 2dp-rounded and
    the replicate mean 6dp-rounded at the engine boundary: replicates
    concentrate within ~1e-5 of the estimate, so the centered squares
    are cancellation-prone and need bit-identical inputs in both
    engines — the rounding makes the per-row arithmetic exact, and
    only the final order-insensitive SUM differs at ~1e-14 relative."""
    li = load_table(spark, sf_dir, "lineitem")
    x = li.select(
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("xi"),
        F.col("l_quantity").alias("qi"),
    )
    tot = x.agg(
        F.round(F.sum("xi"), 2).alias("s"),
        F.round(F.sum("qi"), 2).alias("t"),
        F.count(F.lit(1)).alias("n"),
    )
    loo = x.crossJoin(F.broadcast(tot)).select(
        ((F.col("s") - F.col("xi")) / (F.col("t") - F.col("qi"))).alias("li"),
        "n",
    )
    m = loo.agg(F.round(F.avg("li"), 6).alias("ml"))
    v = (
        loo.crossJoin(F.broadcast(m))
        .agg(
            F.sqrt(
                (F.first("n") - F.lit(1.0))
                / F.first("n")
                * F.sum((F.col("li") - F.col("ml")) * (F.col("li") - F.col("ml")))
            ).alias("se")
        )
    )
    est = F.col("s") / F.col("t")
    return tot.crossJoin(F.broadcast(v)).select(
        "n",
        F.round(est, 6).alias("estimate"),
        F.round(F.col("se"), 9).alias("jk_se"),
        F.round(est - 1.959964 * F.col("se"), 6).alias("ci_lo"),
        F.round(est + 1.959964 * F.col("se"), 6).alias("ci_hi"),
    )


# ---------------------------------------------------------------------------
# multinomial naive Bayes language classifier: train, score, confusion

NAIVE_BAYES_ORACLE = f"""
WITH tok AS (
    SELECT doc_id, lang,
           unnest({whitespace_tokens_sql("lower(text)")}) AS tok
    FROM documents
),
tf AS (
    SELECT doc_id, lang, tok, CAST(COUNT(*) AS BIGINT) AS tf
    FROM tok GROUP BY doc_id, lang, tok
),
train AS (SELECT * FROM tf WHERE doc_id % 3 < 2),
test  AS (SELECT * FROM tf WHERE doc_id % 3 = 2),
cnt AS (
    SELECT lang AS c, tok, CAST(SUM(tf) AS BIGINT) AS cnt
    FROM train GROUP BY lang, tok
),
tot AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt GROUP BY c),
vocab AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS v FROM train),
ntr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents WHERE doc_id % 3 < 2
),
logprior AS (
    SELECT lang AS c,
           ROUND(LN(COUNT(*) / CAST(ANY_VALUE(ntr.n) AS DOUBLE)), 6) AS lp
    FROM documents, ntr WHERE doc_id % 3 < 2 GROUP BY lang
),
terms AS (
    SELECT t.doc_id, t.lang AS true_lang, tot.c,
           t.tf * ROUND(LN((COALESCE(cnt.cnt, 0) + 1)
                           / CAST(tot.tot + vocab.v AS DOUBLE)), 6) AS term
    FROM test t
    CROSS JOIN tot
    CROSS JOIN vocab
    LEFT JOIN cnt ON cnt.c = tot.c AND cnt.tok = t.tok
),
scores AS (
    SELECT s.doc_id, s.true_lang, s.c, s.s + lp.lp AS score
    FROM (SELECT doc_id, true_lang, c, SUM(term) AS s
          FROM terms GROUP BY doc_id, true_lang, c) s
    JOIN logprior lp ON lp.c = s.c
),
pred AS (
    SELECT doc_id, true_lang, c AS pred,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY score DESC, c) AS rn
    FROM scores
)
SELECT true_lang, pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM pred WHERE rn = 1
GROUP BY true_lang, pred
ORDER BY true_lang, pred
"""


@query("q_naive_bayes", NAIVE_BAYES_ORACLE)
def naive_bayes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language identifier, trained and scored
    entirely in the engine: Laplace-smoothed token likelihoods from
    folds 0-1 (doc_id % 3), per-doc log-posterior argmax on held-out
    fold 2, emitted as the confusion matrix — the supervised sibling
    of the n-gram heuristic q_lang_id, and the other half of the
    classifier loop with q_quality_classifier (GD) and q_auc_eval /
    q_calibration_ece (qualification). Unseen test tokens smooth to
    cnt=0 (ln(1/(tot_c+V))), which differs per class via tot_c.
    [engine — not in reference]

    Scale design: model state is vocabulary-bounded (one (class,
    token) count row, |classes| totals, |classes| priors) and never
    collected — scoring is a keyed LEFT JOIN of test term frequencies
    against the count table on (class, token), after a bounded
    |classes|-way fan-out of the test side; the argmax is a per-doc
    window over |classes| rows. Each ln() likelihood is 6dp-rounded
    in both engines so per-term products are bit-identical and only
    the order-insensitive per-doc SUM differs (~1e-14), far inside
    the measured best-vs-second posterior margins."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(
            "doc_id",
            "lang",
            F.explode(whitespace_tokens(F.lower(F.col("text")))).alias("tok"),
        )
        .groupBy("doc_id", "lang", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    train = tf.filter(F.col("doc_id") % 3 < 2)
    test = tf.filter(F.col("doc_id") % 3 == 2)
    cnt = train.groupBy(F.col("lang").alias("c"), "tok").agg(
        F.sum("tf").cast("long").alias("cnt")
    )
    tot = cnt.groupBy("c").agg(F.sum("cnt").cast("long").alias("tot"))
    vocab = train.agg(F.countDistinct("tok").alias("v"))
    tr_docs = d.filter(F.col("doc_id") % 3 < 2)
    ntr = tr_docs.agg(F.count(F.lit(1)).alias("n"))
    logprior = (
        tr_docs.groupBy(F.col("lang").alias("c"))
        .agg(F.count(F.lit(1)).alias("nd"))
        .crossJoin(F.broadcast(ntr))
        .select("c", F.round(F.log(F.col("nd") / F.col("n").cast("double")), 6).alias("lp"))
    )
    terms = (
        test.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(vocab))
        .join(cnt, ["c", "tok"], "left")
        .select(
            "doc_id",
            F.col("lang").alias("true_lang"),
            "c",
            (
                F.col("tf")
                * F.round(
                    F.log(
                        (F.coalesce(F.col("cnt"), F.lit(0)) + 1)
                        / (F.col("tot") + F.col("v")).cast("double")
                    ),
                    6,
                )
            ).alias("term"),
        )
    )
    scores = (
        terms.groupBy("doc_id", "true_lang", "c")
        .agg(F.sum("term").alias("s"))
        .join(F.broadcast(logprior), "c")
        .select("doc_id", "true_lang", "c", (F.col("s") + F.col("lp")).alias("score"))
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("c"))
    return (
        scores.select("true_lang", F.col("c").alias("pred"), F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .groupBy("true_lang", "pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("true_lang", "pred")
    )


# ---------------------------------------------------------------------------
# one-way ANOVA: does mean event value differ across event types?

ANOVA_ORACLE = """
WITH g AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 4) AS s, ROUND(SUM(value * value), 4) AS ss
    FROM events GROUP BY event_type
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn, SUM(s) AS st,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM g
),
parts AS (
    SELECT SUM(g.n * (g.s / g.n - tot.st / tot.nn)
                   * (g.s / g.n - tot.st / tot.nn)) AS ssb,
           SUM(g.ss - g.s * g.s / g.n) AS ssw
    FROM g, tot
)
SELECT tot.k - 1 AS df_between,
       tot.nn - tot.k AS df_within,
       ROUND(parts.ssb, 6) AS ss_between,
       ROUND(parts.ssw, 6) AS ss_within,
       ROUND((parts.ssb * (tot.nn - tot.k))
             / NULLIF(parts.ssw * (tot.k - 1), 0.0), 6) AS f_stat
FROM parts, tot
"""


@query("q_anova_f", ANOVA_ORACLE)
def anova_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic for event value across event types —
    the k-group generalization of q_ab_ttest, the test a pipeline runs
    before treating a categorical attribute as behaviorally inert.
    Between/within sums of squares come from per-group sufficient
    statistics only: SSW = Σ(ssq_g − s_g²/n_g), SSB = Σ n_g(m_g − m)².
    [engine — not in reference]

    Scale design: one partial+final aggregate to |event-types| rows of
    (n, sum, sumsq), then scalar algebra — the corpus is touched once
    and nothing bigger than the group census crosses an exchange. The
    per-group sums are 4dp-rounded at the engine boundary (values are
    O(10^5) with ~1e-10 summation skew, so the 1e-4 grid is 6 orders
    of magnitude of margin) making all downstream algebra
    bit-identical across engines."""
    e = load_table(spark, sf_dir, "events")
    g = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 4).alias("s"),
        F.round(F.sum(F.col("value") * F.col("value")), 4).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).alias("k"),
    )
    gm = F.col("st") / F.col("nn")
    mg = F.col("s") / F.col("n")
    # k/nn come from tot directly (second broadcast crossJoin), not
    # F.first inside the parts aggregate: on an empty events table the
    # empty crossJoin would make them NULL while the oracle's tot CTE
    # still yields k = 0 (COUNT over empty) -> df_between = -1.
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("n") * (mg - gm) * (mg - gm)).alias("ssb"),
        F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n")).alias("ssw"),
    )
    return parts.crossJoin(F.broadcast(tot)).select(
        (F.col("k") - 1).alias("df_between"),
        (F.col("nn") - F.col("k")).alias("df_within"),
        F.round(F.col("ssb"), 6).alias("ss_between"),
        F.round(F.col("ssw"), 6).alias("ss_within"),
        F.round(
            F.try_divide(
                F.col("ssb") * (F.col("nn") - F.col("k")),
                F.col("ssw") * (F.col("k") - 1),
            ),
            6,
        ).alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# Benford first-digit audit on order totals

BENFORD_ORACLE = """
WITH cents AS (
    SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c
    FROM orders WHERE o_totalprice > 0
),
digit AS (
    SELECT CAST(SUBSTRING(CAST(c AS VARCHAR), 1, 1) AS BIGINT) AS d
    FROM cents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digit)
SELECT d AS digit,
       CAST(COUNT(*) AS BIGINT) AS n_obs,
       ROUND(COUNT(*) / CAST(ANY_VALUE(tot.n) AS DOUBLE), 6) AS obs_freq,
       ROUND(LOG10(1.0 + 1.0 / d), 6) AS exp_freq,
       ROUND(ANY_VALUE(tot.n)
             * (COUNT(*) / CAST(ANY_VALUE(tot.n) AS DOUBLE)
                - LOG10(1.0 + 1.0 / d))
             * (COUNT(*) / CAST(ANY_VALUE(tot.n) AS DOUBLE)
                - LOG10(1.0 + 1.0 / d))
             / LOG10(1.0 + 1.0 / d), 6) AS chi2_part
FROM digit, tot
GROUP BY d
ORDER BY d
"""


@query("q_benford", BENFORD_ORACLE)
def benford(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals — the classic
    fraud/synthetic-data screen: natural multiplicative amounts put
    ~30.1% of first digits at 1, and a flat or spiky digit histogram
    flags fabricated or truncated values. Emits the observed vs
    log10(1+1/d) expected frequency and the per-digit chi-square
    contribution. [engine — not in reference]

    Scale design: a 9-bucket histogram — one groupBy, bounded output.
    The first digit is the FIRST CHARACTER of the cent amount's
    decimal string (the amounts are strictly positive bigints, so no
    sign to strip) — the same expression in both engines, never float
    log10/pow of the value, whose rounding at exact powers of ten is
    engine-dependent at the precision limit."""
    o = load_table(spark, sf_dir, "orders")
    cents = o.filter(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100, 0).cast("bigint").alias("c")
    )
    digit = cents.select(
        F.substring(F.col("c").cast("string"), 1, 1).cast("bigint").alias("d")
    )
    tot = digit.agg(F.count(F.lit(1)).alias("n"))
    return (
        digit.crossJoin(F.broadcast(tot))
        .groupBy(F.col("d").alias("digit"))
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.round(F.count(F.lit(1)) / F.first("n").cast("double"), 6).alias(
                "obs_freq"
            ),
            F.round(F.log10(F.lit(1.0) + 1.0 / F.col("digit")), 6).alias("exp_freq"),
            F.round(
                F.first("n")
                * (
                    F.count(F.lit(1)) / F.first("n").cast("double")
                    - F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
                )
                * (
                    F.count(F.lit(1)) / F.first("n").cast("double")
                    - F.log10(F.lit(1.0) + 1.0 / F.col("digit"))
                )
                / F.log10(F.lit(1.0) + 1.0 / F.col("digit")),
                6,
            ).alias("chi2_part"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# off-policy evaluation: IPS / SNIPS of a greedy target policy

IPS_ORACLE = """
WITH logged AS (
    SELECT user_id % 10 AS x, event_type AS a, value AS r FROM events
),
prop AS (
    SELECT x, a, ROUND(COUNT(*) / CAST(SUM(COUNT(*)) OVER (PARTITION BY x)
                                       AS DOUBLE), 6) AS p
    FROM logged GROUP BY x, a
),
qhat AS (
    SELECT x, a, ROUND(AVG(r), 6) AS q FROM logged GROUP BY x, a
),
target AS (
    SELECT x, a AS pi FROM (
        SELECT x, a, ROW_NUMBER() OVER (PARTITION BY x
                                        ORDER BY q DESC, a) AS rn
        FROM qhat
    ) WHERE rn = 1
),
w AS (
    SELECT l.r,
           CASE WHEN l.a = t.pi THEN 1.0 / p.p ELSE 0.0 END AS w
    FROM logged l
    JOIN prop p ON p.x = l.x AND p.a = l.a
    JOIN target t ON t.x = l.x
)
SELECT CAST(COUNT(*) AS BIGINT) AS n,
       CAST(COALESCE(SUM(CASE WHEN w > 0 THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_matched,
       ROUND(SUM(r * w) / COUNT(*), 6) AS ips_value,
       ROUND(SUM(r * w) / SUM(w), 6) AS snips_value,
       ROUND(SUM(w) * SUM(w) / SUM(w * w), 6) AS ess
FROM w
"""


@query("q_ips_eval", IPS_ORACLE)
def ips_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation by inverse propensity scoring: treat the
    event log as a logged bandit (context = user decile, action =
    event type, reward = value), learn the greedy target policy
    pi(x) = argmax_a avg-reward(x,a), and estimate its value under
    the LOGGED propensities via IPS, the self-normalized SNIPS
    estimator (Swaminathan & Joachims), and the effective sample size
    (sum w)^2 / sum w^2 — the counterfactual "what would this policy
    have earned" question every recommendation pipeline asks before
    an online test. [engine — not in reference]

    Scale design: propensities, value model and target policy are all
    |contexts x actions| aggregates (bounded census state, broadcast
    back); the scoring pass is one keyed join per row and one global
    aggregate. Propensities and value estimates are 6dp-rounded at
    the engine boundary so the argmax and every importance weight are
    decisions on bit-identical doubles."""
    e = load_table(spark, sf_dir, "events")
    logged = e.select(
        (F.col("user_id") % 10).alias("x"),
        F.col("event_type").alias("a"),
        F.col("value").alias("r"),
    )
    cnt = logged.groupBy("x", "a").agg(
        F.count(F.lit(1)).alias("nxa"),
        F.round(F.avg("r"), 6).alias("q"),
    )
    wx = Window.partitionBy("x")
    prop = cnt.select(
        "x",
        "a",
        "q",
        F.round(F.col("nxa") / F.sum("nxa").over(wx).cast("double"), 6).alias("p"),
    )
    wr = Window.partitionBy("x").orderBy(F.col("q").desc(), F.col("a"))
    target = (
        prop.select("x", "a", F.row_number().over(wr).alias("rn"))
        .filter(F.col("rn") == 1)
        .select("x", F.col("a").alias("pi"))
    )
    w = (
        logged.join(F.broadcast(prop.select("x", "a", "p")), ["x", "a"])
        .join(F.broadcast(target), "x")
        .select(
            "r",
            F.when(F.col("a") == F.col("pi"), 1.0 / F.col("p"))
            .otherwise(0.0)
            .alias("w"),
        )
    )
    return w.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(F.when(F.col("w") > 0, 1).otherwise(0)), F.lit(0)).cast("long").alias("n_matched"),
        F.round(F.sum(F.col("r") * F.col("w")) / F.count(F.lit(1)), 6).alias(
            "ips_value"
        ),
        F.round(F.sum(F.col("r") * F.col("w")) / F.sum("w"), 6).alias("snips_value"),
        F.round(F.sum("w") * F.sum("w") / F.sum(F.col("w") * F.col("w")), 6).alias(
            "ess"
        ),
    )


# ---------------------------------------------------------------------------
# bootstrap CI for mean daily revenue, deterministic LCG resampling

_BOOT_B = 200

BOOTSTRAP_ORACLE = f"""
WITH daily AS (
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
           ROUND(SUM(o_totalprice), 2) AS rev
    FROM orders GROUP BY 1
),
series AS (
    SELECT rev, ROW_NUMBER() OVER (ORDER BY day) - 1 AS rn FROM daily
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM series),
draws AS (
    SELECT b.b, ((1103515245 * (b.b * 100003 + i.i) + 12345) % 2147483648)
                % n.nd AS idx
    FROM generate_series(0, {_BOOT_B - 1}) AS b(b)
    CROSS JOIN n
    CROSS JOIN (SELECT rn AS i FROM series) i
),
means AS (
    SELECT d.b, AVG(s.rev) AS m
    FROM draws d JOIN series s ON s.rn = d.idx
    GROUP BY d.b
),
ranked AS (
    SELECT m, ROW_NUMBER() OVER (ORDER BY m) AS rk FROM means
)
SELECT n.nd AS n_days,
       CAST({_BOOT_B} AS BIGINT) AS n_boot,
       (SELECT ROUND(AVG(rev), 6) FROM series) AS estimate,
       (SELECT ROUND(m, 6) FROM ranked
        WHERE rk = CAST(FLOOR(0.025 * ({_BOOT_B} + 1)) AS BIGINT)) AS ci_lo,
       (SELECT ROUND(m, 6) FROM ranked
        WHERE rk = CAST(CEIL(0.975 * ({_BOOT_B} + 1)) AS BIGINT)) AS ci_hi
FROM n
"""


@query("q_bootstrap_ci", BOOTSTRAP_ORACLE)
def bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nonparametric bootstrap 95% CI for mean daily revenue: {b}
    resamples of the daily series drawn with replacement by a
    DETERMINISTIC LCG (glibc constants keyed on (replicate, draw)),
    replicate means ranked, CI endpoints taken as exact order
    statistics — the resampling complement to q_jackknife_ci for
    statistics whose influence function is awkward in closed form.
    [engine — not in reference]

    Scale design: resampling blows up by B ONLY on the |days|-bounded
    daily series, never the corpus — the draws frame is B x days rows
    joined back by index, then collapses to B means; at 100 TB the
    series is still calendar-sized. Seeded integer LCG arithmetic
    replays identically in both engines (no engine RNG anywhere), so
    the "random" resample is exact; daily sums are 2dp-rounded at the
    boundary so replicate means differ only by summation order
    (~1e-10 abs) — vs adjacent-order-statistic gaps of thousands."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    series = daily.select(
        "rev", (F.row_number().over(Window.orderBy("day")) - 1).alias("rn")
    )
    n = series.agg(F.count(F.lit(1)).alias("nd"))
    b = spark.range(_BOOT_B).select(F.col("id").alias("b"))
    draws = (
        series.select(F.col("rn").alias("i"))
        .crossJoin(F.broadcast(b))
        .crossJoin(F.broadcast(n))
        .select(
            "b",
            (
                (1103515245 * (F.col("b") * 100003 + F.col("i")) + 12345)
                % 2147483648
                % F.col("nd")
            ).alias("idx"),
        )
    )
    means = (
        draws.join(series.withColumnRenamed("rn", "idx"), "idx")
        .groupBy("b")
        .agg(F.avg("rev").alias("m"))
    )
    ranked = means.select(
        "m", F.row_number().over(Window.orderBy("m")).alias("rk")
    )
    k_lo = int(math.floor(0.025 * (_BOOT_B + 1)))
    k_hi = int(math.ceil(0.975 * (_BOOT_B + 1)))
    est = series.agg(F.round(F.avg("rev"), 6).alias("estimate"))
    lo = ranked.filter(F.col("rk") == k_lo).select(
        F.round(F.col("m"), 6).alias("ci_lo")
    )
    hi = ranked.filter(F.col("rk") == k_hi).select(
        F.round(F.col("m"), 6).alias("ci_hi")
    )
    return (
        n.select(F.col("nd").alias("n_days"))
        .crossJoin(F.broadcast(est))
        .crossJoin(F.broadcast(lo))
        .crossJoin(F.broadcast(hi))
        .select(
            "n_days",
            F.lit(_BOOT_B).cast("long").alias("n_boot"),
            "estimate",
            "ci_lo",
            "ci_hi",
        )
    )


bootstrap_ci.__doc__ = bootstrap_ci.__doc__.format(b=_BOOT_B)


# ---------------------------------------------------------------------------
# Spearman rank correlation: daily revenue vs daily order count

SPEARMAN_ORACLE = """
WITH daily AS (
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
           ROUND(SUM(o_totalprice), 2) AS rev,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1
),
r AS (
    SELECT rev, cnt,
           RANK() OVER (ORDER BY rev)
               + (COUNT(*) OVER (PARTITION BY rev) - 1) / 2.0 AS ra,
           RANK() OVER (ORDER BY cnt)
               + (COUNT(*) OVER (PARTITION BY cnt) - 1) / 2.0 AS rb
    FROM daily
),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           SUM(ra) AS sa, SUM(rb) AS sb,
           SUM(ra * ra) AS saa, SUM(rb * rb) AS sbb,
           SUM(ra * rb) AS sab,
           SUM(rev) AS xa, SUM(cnt * 1.0) AS xb,
           SUM(rev * rev) AS xaa, SUM(cnt * cnt * 1.0) AS xbb,
           SUM(rev * cnt) AS xab
    FROM r
)
SELECT n AS n_days,
       ROUND((n * sab - sa * sb)
             / NULLIF(SQRT((n * saa - sa * sa) * (n * sbb - sb * sb)), 0),
             6) AS rho_spearman,
       ROUND((n * xab - xa * xb)
             / NULLIF(SQRT((n * xaa - xa * xa) * (n * xbb - xb * xb)), 0),
             6) AS r_pearson
FROM s
"""


@query("q_spearman_corr", SPEARMAN_ORACLE)
def spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation (with the Pearson coefficient for
    contrast) between daily order revenue and daily order count — the
    monotone-association check an analyst runs before trusting a
    linear model between two pipeline health metrics: Spearman is
    outlier-robust where Pearson is not. Ties get textbook average
    ranks (min-rank + (ties-1)/2). [engine — not in reference]

    Scale design: the corpus collapses to the DAILY series first
    (|days| rows, bounded by calendar time — the q_acf collapse), so
    the unpartitioned rank windows run on a calendar-bounded frame.
    Average ranks land on the exact 0.5 grid and every rank moment is
    an exactly-representable double (n^3 << 2^53), so both engines'
    sums are bit-identical regardless of summation order; only the
    raw-value Pearson moments carry float noise, 8 orders of
    magnitude inside the final 6dp round."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    ra = F.rank().over(Window.orderBy("rev")) + (
        F.count(F.lit(1)).over(Window.partitionBy("rev")) - 1
    ) / 2.0
    rb = F.rank().over(Window.orderBy("cnt")) + (
        F.count(F.lit(1)).over(Window.partitionBy("cnt")) - 1
    ) / 2.0
    r = daily.select("rev", "cnt", ra.alias("ra"), rb.alias("rb"))
    s = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra") * F.col("ra")).alias("saa"),
        F.sum(F.col("rb") * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra") * F.col("rb")).alias("sab"),
        F.sum("rev").alias("xa"),
        F.sum(F.col("cnt") * 1.0).alias("xb"),
        F.sum(F.col("rev") * F.col("rev")).alias("xaa"),
        F.sum(F.col("cnt") * F.col("cnt") * 1.0).alias("xbb"),
        F.sum(F.col("rev") * F.col("cnt")).alias("xab"),
    )
    n = F.col("n")
    return s.select(
        n.alias("n_days"),
        F.round(
            F.try_divide(
                n * F.col("sab") - F.col("sa") * F.col("sb"),
                F.nullif(
                    F.sqrt(
                        (n * F.col("saa") - F.col("sa") * F.col("sa"))
                        * (n * F.col("sbb") - F.col("sb") * F.col("sb"))
                    ),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("rho_spearman"),
        F.round(
            F.try_divide(
                n * F.col("xab") - F.col("xa") * F.col("xb"),
                F.nullif(
                    F.sqrt(
                        (n * F.col("xaa") - F.col("xa") * F.col("xa"))
                        * (n * F.col("xbb") - F.col("xb") * F.col("xb"))
                    ),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("r_pearson"),
    )


# ---------------------------------------------------------------------------
# Kendall tau-b: concordance between the same two daily series

KENDALL_ORACLE = """
WITH daily AS (
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
           ROUND(SUM(o_totalprice), 2) AS rev,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders GROUP BY 1
),
p AS (
    SELECT SUM(CASE WHEN SIGN(a.rev - b.rev) * SIGN(a.cnt - b.cnt) = 1
                    THEN 1 ELSE 0 END) AS c,
           SUM(CASE WHEN SIGN(a.rev - b.rev) * SIGN(a.cnt - b.cnt) = -1
                    THEN 1 ELSE 0 END) AS d
    FROM daily a JOIN daily b ON a.day < b.day
),
n_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM daily),
t1 AS (SELECT COALESCE(SUM(t * (t - 1) / 2), 0) AS n1
       FROM (SELECT COUNT(*) AS t FROM daily GROUP BY rev)),
t2 AS (SELECT COALESCE(SUM(t * (t - 1) / 2), 0) AS n2
       FROM (SELECT COUNT(*) AS t FROM daily GROUP BY cnt))
SELECT n_.n AS n_days,
       CAST(COALESCE(p.c, 0) AS BIGINT) AS n_concordant,
       CAST(COALESCE(p.d, 0) AS BIGINT) AS n_discordant,
       ROUND((p.c - p.d)
             / NULLIF(SQRT((n_.n * (n_.n - 1) / 2.0 - t1.n1)
                           * (n_.n * (n_.n - 1) / 2.0 - t2.n2)), 0),
             6) AS tau_b
FROM p, n_, t1, t2
"""


@query("q_kendall_tau", KENDALL_ORACLE)
def kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between daily revenue and daily order count —
    the pair-concordance complement to q_spearman_corr (tau has a
    direct probabilistic reading: P(concordant) - P(discordant)),
    with the textbook tie corrections in the denominator.
    [engine — not in reference]

    Scale design: pairs are enumerated over the DAILY series only, so
    the O(n^2) pair join is |days|^2 — bounded by the square of
    calendar time, not by data volume (2,400 days is 2.9M pairs
    forever, regardless of corpus size). The pair side is broadcast;
    concordance counts, tie counts, and the tau denominator are all
    exact integer arithmetic far below 2^53, so both engines agree
    bit-for-bit before the final 6dp round."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev"),
        F.count(F.lit(1)).alias("cnt"),
    )
    # rename BOTH sides: same-lineage equi-named joins self-resolve
    a = daily.select(
        F.col("day").alias("day_a"), F.col("rev").alias("rev_a"),
        F.col("cnt").alias("cnt_a"),
    )
    b = daily.select(
        F.col("day").alias("day_b"), F.col("rev").alias("rev_b"),
        F.col("cnt").alias("cnt_b"),
    )
    sgn = F.signum(F.col("rev_a") - F.col("rev_b")) * F.signum(
        F.col("cnt_a") - F.col("cnt_b")
    )
    p = (
        a.join(F.broadcast(b), F.col("day_a") < F.col("day_b"))
        .agg(
            F.sum(F.when(sgn == 1, 1).otherwise(0)).alias("c"),
            F.sum(F.when(sgn == -1, 1).otherwise(0)).alias("d"),
        )
    )
    n_ = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    t1 = (
        daily.groupBy("rev")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0.0)
            ).alias("n1")
        )
    )
    t2 = (
        daily.groupBy("cnt")
        .agg(F.count(F.lit(1)).alias("t"))
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) / 2), F.lit(0.0)
            ).alias("n2")
        )
    )
    n0 = F.col("n") * (F.col("n") - 1) / 2.0
    return (
        p.crossJoin(F.broadcast(n_))
        .crossJoin(F.broadcast(t1))
        .crossJoin(F.broadcast(t2))
        .select(
            F.col("n").alias("n_days"),
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("n_concordant"),
            F.coalesce(F.col("d"), F.lit(0)).cast("long").alias("n_discordant"),
            F.round(
                F.try_divide(
                    F.col("c") - F.col("d"),
                    F.nullif(
                        F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2"))),
                        F.lit(0.0),
                    ),
                ),
                6,
            ).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U: rank-sum test of `value` between two event types

_MW_A = "click"
_MW_B = "view"

MANN_WHITNEY_ORACLE = f"""
WITH src AS (
    SELECT ROUND(value, 2) AS v,
           CAST(event_type = '{_MW_A}' AS INT) AS is_a
    FROM events WHERE event_type IN ('{_MW_A}', '{_MW_B}')
),
h AS (
    SELECT v, CAST(SUM(is_a) AS BIGINT) AS na_v,
           CAST(COUNT(*) AS BIGINT) AS t
    FROM src GROUP BY v
),
rk AS (
    SELECT na_v, t,
           SUM(t) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) - t
               + (t + 1) / 2.0 AS midrank
    FROM h
),
s AS (
    SELECT CAST(COALESCE(SUM(na_v), 0) AS BIGINT) AS na,
           CAST(COALESCE(SUM(t - na_v), 0) AS BIGINT) AS nb,
           SUM(na_v * midrank) AS ra,
           SUM(CAST(t AS DECIMAL(12,0))
               * (CAST(t AS DECIMAL(12,0)) * CAST(t AS DECIMAL(12,0)) - 1)
           ) AS ties
    FROM rk
)
SELECT na AS n_a, nb AS n_b,
       ra - na * (na + 1) / 2.0 AS u_stat,
       ROUND((ra - na * (na + 1) / 2.0 - na * nb / 2.0)
             / NULLIF(SQRT(na * nb / 12.0
                           * ((na + nb + 1)
                              - CAST(ties AS DOUBLE)
                                / ((na + nb) * (na + nb - 1.0)))), 0),
             6) AS z_score
FROM s
"""


@query("q_mann_whitney", MANN_WHITNEY_ORACLE)
def mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U rank-sum test of event value between the
    '{a}' and '{b}' event types — the nonparametric counterpart of
    q_ab_ttest for when values are heavy-tailed and a mean comparison
    would be dominated by outliers. Emits U for group '{a}' and the
    tie-corrected normal z approximation. [engine — not in reference]

    Scale design: ranks never touch individual rows. Values are
    snapped to a fixed 2dp grid and the test runs on the VALUE
    HISTOGRAM: midranks fall out of the cumulative counts (cum - t +
    (t+1)/2), the rank sum is sum(na_v * midrank), and the tie
    correction is sum(t^3 - t) — all from one groupBy whose output is
    bounded by the value grid (range / resolution), not by row count.
    The single-partition window runs over that bounded histogram.
    Midranks land on the exact 0.5 grid, so every moment is an
    exactly-representable double and both engines agree bit-for-bit
    before the final 6dp round of z. The tie cube accumulates in
    DECIMAL(38,0) in BOTH engines (per-term t*(t*t-1) stays under
    10^37 for ties up to 10^12 rows, far past any real grid cell), so
    exactness never depends on float summation order — a double SUM
    of t^3-t would lose integer exactness past 2^53 (~2M-row ties),
    and a bare BIGINT cube would ANSI-overflow there."""
    e = load_table(spark, sf_dir, "events")
    src = e.filter(F.col("event_type").isin(_MW_A, _MW_B)).select(
        F.round("value", 2).alias("v"),
        (F.col("event_type") == _MW_A).cast("int").alias("is_a"),
    )
    h = src.groupBy("v").agg(
        F.sum("is_a").cast("long").alias("na_v"),
        F.count(F.lit(1)).alias("t"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    rk = h.select(
        "na_v",
        "t",
        (F.sum("t").over(w) - F.col("t") + (F.col("t") + 1) / 2.0).alias("midrank"),
    )
    tt = F.col("t").cast("decimal(12,0)")
    s = rk.agg(
        F.coalesce(F.sum("na_v"), F.lit(0)).cast("long").alias("na"),
        F.coalesce(F.sum(F.col("t") - F.col("na_v")), F.lit(0)).cast("long").alias("nb"),
        F.sum(F.col("na_v") * F.col("midrank")).alias("ra"),
        F.sum(tt * (tt * tt - 1)).alias("ties"),
    )
    na, nb = F.col("na"), F.col("nb")
    u = F.col("ra") - na * (na + 1) / 2.0
    return s.select(
        na.alias("n_a"),
        nb.alias("n_b"),
        u.alias("u_stat"),
        F.round(
            F.try_divide(
                u - na * nb / 2.0,
                F.nullif(
                    F.sqrt(
                        na
                        * nb
                        / 12.0
                        * (
                            (na + nb + 1)
                            - F.col("ties").cast("double")
                            / ((na + nb) * (na + nb - 1.0))
                        )
                    ),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("z_score"),
    )


mann_whitney.__doc__ = mann_whitney.__doc__.format(a=_MW_A, b=_MW_B)


# ---------------------------------------------------------------------------
# t-closeness audit: ordered EMD of sensitive values inside QI groups

_TCLOSE_T = 0.2

T_CLOSENESS_ORACLE = f"""
WITH rows_ AS (
    SELECT event_type,
           CAST(epoch_us(time_bucket(INTERVAL 1 HOUR, ts)) // 3600000000 AS BIGINT) AS hour,
           CAST(FLOOR(TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) / 10)
                AS BIGINT) AS sens
    FROM events
),
clean AS (SELECT * FROM rows_ WHERE sens IS NOT NULL),
gdist AS (SELECT sens, CAST(COUNT(*) AS BIGINT) AS gn FROM clean GROUP BY sens),
tot AS (SELECT CAST(SUM(gn) AS BIGINT) AS nn,
               CAST(COUNT(*) AS BIGINT) AS m FROM gdist),
grp AS (SELECT event_type, hour, CAST(COUNT(*) AS BIGINT) AS ng
        FROM clean GROUP BY event_type, hour),
cell AS (
    SELECT event_type, hour, sens, CAST(COUNT(*) AS BIGINT) AS n
    FROM clean GROUP BY event_type, hour, sens
),
grid AS (
    SELECT g.event_type, g.hour, g.ng, gdist.sens, gdist.gn,
           COALESCE(cell.n, 0) AS n
    FROM grp g CROSS JOIN gdist
    LEFT JOIN cell ON cell.event_type = g.event_type
                  AND cell.hour = g.hour AND cell.sens = gdist.sens
),
cum AS (
    SELECT event_type, hour, ng,
           SUM(n) OVER (PARTITION BY event_type, hour ORDER BY sens
                        ROWS UNBOUNDED PRECEDING) AS cg,
           SUM(gn) OVER (PARTITION BY event_type, hour ORDER BY sens
                         ROWS UNBOUNDED PRECEDING) AS cglob
    FROM grid
),
tg AS (
    SELECT event_type, hour,
           ROUND(SUM(ABS(cg / (ng * 1.0) - cglob / (tot.nn * 1.0)))
                 / NULLIF(tot.m - 1, 0), 6) AS t
    FROM cum, tot GROUP BY event_type, hour, tot.m
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(ANY_VALUE(tot.m) AS BIGINT) AS m_categories,
       ROUND(MAX(t), 6) AS max_t,
       ROUND(AVG(t), 6) AS avg_t,
       CAST(SUM(CASE WHEN t > {_TCLOSE_T} THEN 1 ELSE 0 END) AS BIGINT)
           AS violating_groups
FROM tg, tot
"""


@query("q_t_closeness", T_CLOSENESS_ORACLE)
def t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit (Li et al. 2007), completing the privacy
    trio with q_k_anonymity and q_l_diversity: for each
    (event_type, hour) quasi-identifier group, the distance between
    the group's sensitive-value distribution and the global one must
    not exceed t. For an ORDERED sensitive attribute the Earth Mover's
    Distance is the mean absolute difference of the two CDFs —
    sum |cumP_g - cumP| / (m - 1). Threshold t = {t}.
    [engine — not in reference]

    Scale design: one census per grain (global / group / cell — three
    groupBys over one scan each), then the CDF grid is |groups| x |m|
    rows where m is the sensitive-category cardinality (~10), built by
    crossing the group census with the broadcast global census — never
    the corpus. Cumulative sums run in per-group windows over m rows.
    All cumulative counts are exact integers; the CDF divisions are
    deterministic IEEE ops on identical integers in both engines, and
    each per-group EMD is 6dp-rounded before the threshold compare and
    the max/avg summary."""
    e = load_table(spark, sf_dir, "events")
    sens = F.floor(
        F.regexp_extract("props", r'"k":\s*(\d+)', 1).cast("bigint") / 10
    ).cast("bigint")
    clean = e.select(
        "event_type",
        F.floor(F.unix_micros(F.date_trunc("hour", "ts")) / 3_600_000_000)
        .cast("bigint")
        .alias("hour"),
        sens.alias("sens"),
    ).filter(F.col("sens").isNotNull())
    glob = clean.groupBy("sens").agg(F.count(F.lit(1)).alias("gn"))
    tot = glob.agg(
        F.sum("gn").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    grp = clean.groupBy("event_type", "hour").agg(F.count(F.lit(1)).alias("ng"))
    cell = clean.groupBy("event_type", "hour", "sens").agg(
        F.count(F.lit(1)).alias("n")
    )
    # rename the glob key before the grid join (same-lineage hazard)
    grid = (
        grp.crossJoin(F.broadcast(glob.select(F.col("sens").alias("gsens"), "gn")))
        .join(
            cell.select(
                F.col("event_type").alias("c_et"),
                F.col("hour").alias("c_hour"),
                F.col("sens").alias("c_sens"),
                "n",
            ),
            (F.col("event_type") == F.col("c_et"))
            & (F.col("hour") == F.col("c_hour"))
            & (F.col("gsens") == F.col("c_sens")),
            "left",
        )
        .select(
            "event_type",
            "hour",
            "ng",
            F.col("gsens").alias("sens"),
            "gn",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
    )
    w = Window.partitionBy("event_type", "hour").orderBy("sens").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "event_type",
        "hour",
        "ng",
        F.sum("n").over(w).alias("cg"),
        F.sum("gn").over(w).alias("cglob"),
    )
    tg = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("event_type", "hour", "m")
        .agg(
            F.round(
                F.try_divide(
                    F.sum(
                        F.abs(
                            F.col("cg") / (F.col("ng") * 1.0)
                            - F.col("cglob") / (F.col("nn") * 1.0)
                        )
                    ),
                    F.nullif(F.col("m") - 1, F.lit(0)),
                ),
                6,
            ).alias("t")
        )
    )
    return tg.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.first("m").cast("long").alias("m_categories"),
        F.round(F.max("t"), 6).alias("max_t"),
        F.round(F.avg("t"), 6).alias("avg_t"),
        F.sum((F.col("t") > _TCLOSE_T).cast("int")).cast("long").alias(
            "violating_groups"
        ),
    )


t_closeness.__doc__ = t_closeness.__doc__.format(t=_TCLOSE_T)


# ---------------------------------------------------------------------------
# isotonic calibration: PAV fit of the vowel-detector reliability curve

_ISO_BINS = 20

ISOTONIC_ORACLE = f"""
WITH scored AS (
    SELECT {ENGLISH_SCORE_SQL} AS p,
           CAST(lang = 'en' AS INT) AS y
    FROM documents
),
b0 AS (
    SELECT LEAST(CAST(FLOOR(p * {_ISO_BINS}) AS BIGINT), {_ISO_BINS - 1}) AS bin,
           CAST(COUNT(*) AS BIGINT) AS w,
           CAST(SUM(y) AS BIGINT) AS s
    FROM scored GROUP BY 1
),
b AS (
    SELECT bin, w, s,
           CAST(ROW_NUMBER() OVER (ORDER BY bin) AS BIGINT) AS i,
           SUM(w) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cw,
           SUM(s) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cs
    FROM b0
),
pr AS (
    SELECT j.i AS ji, k.i AS ki,
           (k.cs - (j.cs - j.s)) / ((k.cw - (j.cw - j.w)) * 1.0) AS a
    FROM b j JOIN b k ON j.i <= k.i
),
mn AS (
    SELECT i.i AS ii, pr.ji, MIN(pr.a) AS m
    FROM b i JOIN pr ON pr.ji <= i.i AND pr.ki >= i.i
    GROUP BY i.i, pr.ji
),
fit AS (SELECT ii, MAX(m) AS f FROM mn GROUP BY ii)
SELECT b.bin AS bin, b.w AS n_bin,
       ROUND(b.s / (b.w * 1.0), 6) AS raw_rate,
       ROUND(fit.f, 6) AS iso_rate
FROM b JOIN fit ON fit.ii = b.i
ORDER BY bin
"""


@query("q_isotonic_calibration", ISOTONIC_ORACLE)
def isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (PAV) calibration of the vowel-ratio English-detector
    whose reliability diagram q_calibration_ece draws: fit the
    monotone step function that minimizes squared error to the per-bin
    empirical accuracies — the standard score-calibration step before
    thresholding a filter model. Instead of the sequential
    pool-adjacent-violators sweep, the fit uses PAV's minimax
    CLOSED FORM, fitted(i) = max_(j<=i) min_(k>=i) avg(y over bins
    j..k), which is order-free and hence expressible in both engines.
    [engine — not in reference]

    Scale design: the corpus is reduced to a {b}-bin (weight, sum)
    histogram in one groupBy — from there the minimax runs on at most
    {b}^2 interval averages and {b}^3 join rows, constants independent
    of data volume. Interval averages are exact-integer prefix-sum
    differences divided once (identical IEEE doubles in both engines);
    min/max are exact, so the fit matches bit-for-bit before the 6dp
    round."""
    d = load_table(spark, sf_dir, "documents")
    p = english_score()
    scored = d.select(p.alias("p"), (F.col("lang") == "en").cast("int").alias("y"))
    b0 = scored.groupBy(
        F.least(F.floor(F.col("p") * _ISO_BINS), F.lit(_ISO_BINS - 1))
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("w"),
        F.sum("y").cast("long").alias("s"),
    )
    ww = Window.orderBy("bin")  # <= {b}-row frame: single partition fine
    cw = ww.rowsBetween(Window.unboundedPreceding, 0)
    b = b0.select(
        "bin",
        "w",
        "s",
        F.row_number().over(ww).cast("long").alias("i"),
        F.sum("w").over(cw).alias("cw"),
        F.sum("s").over(cw).alias("cs"),
    )
    bj = b.select(
        F.col("i").alias("ji"), F.col("w").alias("jw"), F.col("s").alias("js"),
        F.col("cw").alias("jcw"), F.col("cs").alias("jcs"),
    )
    bk = b.select(
        F.col("i").alias("ki"), F.col("cw").alias("kcw"), F.col("cs").alias("kcs"),
    )
    pr = bj.join(F.broadcast(bk), F.col("ji") <= F.col("ki")).select(
        "ji",
        "ki",
        (
            (F.col("kcs") - (F.col("jcs") - F.col("js")))
            / ((F.col("kcw") - (F.col("jcw") - F.col("jw"))) * 1.0)
        ).alias("a"),
    )
    bi = b.select(F.col("i").alias("ii"))
    mn = (
        bi.join(
            F.broadcast(pr),
            (F.col("ji") <= F.col("ii")) & (F.col("ki") >= F.col("ii")),
        )
        .groupBy("ii", "ji")
        .agg(F.min("a").alias("m"))
    )
    fit = mn.groupBy("ii").agg(F.max("m").alias("f"))
    return (
        b.join(F.broadcast(fit), F.col("i") == F.col("ii"))
        .select(
            "bin",
            F.col("w").alias("n_bin"),
            F.round(F.col("s") / (F.col("w") * 1.0), 6).alias("raw_rate"),
            F.round(F.col("f"), 6).alias("iso_rate"),
        )
        .orderBy("bin")
    )


isotonic_calibration.__doc__ = isotonic_calibration.__doc__.format(b=_ISO_BINS)


# ---------------------------------------------------------------------------
# partial autocorrelation of the daily-revenue series, lags 1..4

_PACF_MAX_LAG = 4

PACF_ORACLE = f"""
WITH daily AS (
    SELECT CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day,
           ROUND(SUM(o_totalprice), 2) AS rev
    FROM orders GROUP BY 1
),
m AS (SELECT ROUND(AVG(rev), 6) AS mu FROM daily),
lagged AS (
    SELECT rev,
           {", ".join(f"LAG(rev, {k}) OVER (ORDER BY day) AS rev_{k}" for k in range(1, _PACF_MAX_LAG + 1))}
    FROM daily
),
sums AS (
    SELECT SUM((rev - m.mu) * (rev - m.mu)) AS d,
           {", ".join(f"SUM((rev - m.mu) * (rev_{k} - m.mu)) AS n{k}" for k in range(1, _PACF_MAX_LAG + 1))}
    FROM lagged, m
),
r AS (
    SELECT {", ".join(f"ROUND(n{k} / NULLIF(d, 0), 6) AS r{k}" for k in range(1, _PACF_MAX_LAG + 1))}
    FROM sums
),
lv1 AS (SELECT *, r1 AS p1,
               (r2 - r1 * r1) / NULLIF(1 - r1 * r1, 0) AS p2 FROM r),
lv2 AS (SELECT *, r1 - p2 * r1 AS a21 FROM lv1),
lv3 AS (SELECT *, (r3 - a21 * r2 - p2 * r1)
                  / NULLIF(1 - a21 * r1 - p2 * r2, 0) AS p3 FROM lv2),
lv4 AS (SELECT *, a21 - p3 * p2 AS a31, p2 - p3 * a21 AS a32 FROM lv3),
lv5 AS (SELECT *, (r4 - a31 * r3 - a32 * r2 - p3 * r1)
                  / NULLIF(1 - a31 * r1 - a32 * r2 - p3 * r3, 0) AS p4 FROM lv4)
SELECT lag, pacf FROM (
    SELECT CAST(1 AS BIGINT) AS lag, ROUND(p1, 6) AS pacf FROM lv5
    UNION ALL SELECT CAST(2 AS BIGINT), ROUND(p2, 6) FROM lv5
    UNION ALL SELECT CAST(3 AS BIGINT), ROUND(p3, 6) FROM lv5
    UNION ALL SELECT CAST(4 AS BIGINT), ROUND(p4, 6) FROM lv5
) ORDER BY lag
"""


@query("q_pacf", PACF_ORACLE)
def pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation of the daily order-revenue series at
    lags 1..{maxlag} via the Durbin-Levinson recursion — q_acf's
    companion diagnostic: ACF tails identify MA order, PACF cutoffs
    identify AR order, together they pick the model the forecasting
    ops (q_ewma / q_holt_forecast) approximate.
    [engine — not in reference]

    Scale design: identical collapse to q_acf — the corpus reduces to
    the calendar-bounded daily series, one pass computes the lag-k
    autocovariances, and from there Durbin-Levinson is pure scalar
    algebra on a one-row frame. The recursion's inputs are the
    6dp-ROUNDED autocorrelations (q_acf's own outputs), and the unroll
    uses only +,-,*,/ written with identical association in both
    engines, so every intermediate double is bit-identical — the
    fixed-unroll trick from the Lloyd/Newton-Schulz oracles applied to
    a linear recursion."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.floor(F.unix_micros(F.col("o_orderdate").cast("timestamp")) / 86_400_000_000)
        .cast("bigint")
        .alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("rev"))
    m = daily.agg(F.round(F.avg("rev"), 6).alias("mu"))
    w = Window.orderBy("day")  # |days|-bounded series: single partition OK
    lag_cols = [
        F.lag("rev", k).over(w).alias(f"rev_{k}")
        for k in range(1, _PACF_MAX_LAG + 1)
    ]
    lagged = daily.select("rev", *lag_cols).crossJoin(F.broadcast(m))
    sums = lagged.agg(
        F.sum((F.col("rev") - F.col("mu")) * (F.col("rev") - F.col("mu"))).alias("d"),
        *[
            F.sum(
                (F.col("rev") - F.col("mu")) * (F.col(f"rev_{k}") - F.col("mu"))
            ).alias(f"n{k}")
            for k in range(1, _PACF_MAX_LAG + 1)
        ],
    )
    r = sums.select(
        *[
            F.round(
                F.try_divide(F.col(f"n{k}"), F.nullif(F.col("d"), F.lit(0.0))), 6
            ).alias(f"r{k}")
            for k in range(1, _PACF_MAX_LAG + 1)
        ]
    )
    c = F.col
    lv = (
        r.withColumn("p1", c("r1"))
        .withColumn(
            "p2",
            F.try_divide(
                c("r2") - c("r1") * c("r1"),
                F.nullif(1 - c("r1") * c("r1"), F.lit(0.0)),
            ),
        )
        .withColumn("a21", c("r1") - c("p2") * c("r1"))
        .withColumn(
            "p3",
            F.try_divide(
                c("r3") - c("a21") * c("r2") - c("p2") * c("r1"),
                F.nullif(
                    1 - c("a21") * c("r1") - c("p2") * c("r2"), F.lit(0.0)
                ),
            ),
        )
        .withColumn("a31", c("a21") - c("p3") * c("p2"))
        .withColumn("a32", c("p2") - c("p3") * c("a21"))
        .withColumn(
            "p4",
            F.try_divide(
                c("r4") - c("a31") * c("r3") - c("a32") * c("r2") - c("p3") * c("r1"),
                F.nullif(
                    1 - c("a31") * c("r1") - c("a32") * c("r2") - c("p3") * c("r3"),
                    F.lit(0.0),
                ),
            ),
        )
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(k).cast("long").alias("lag"),
                F.round(c(f"p{k}"), 6).alias("pacf"),
            )
            for k in range(1, _PACF_MAX_LAG + 1)
        ]
    )
    return (
        lv.select(F.explode(pairs).alias("kv"))
        .select("kv.lag", "kv.pacf")
        .orderBy("lag")
    )


pacf.__doc__ = pacf.__doc__.format(maxlag=_PACF_MAX_LAG)


# ---------------------------------------------------------------------------
# Brown-Forsythe (median-based Levene) test: variance homogeneity

LEVENE_ORACLE = """
WITH med AS (
    SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS md
    FROM events GROUP BY event_type
),
dev AS (
    SELECT e.event_type, ABS(e.value - med.md) AS z
    FROM events e JOIN med ON med.event_type = e.event_type
),
g AS (
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(z), 4) AS s, ROUND(SUM(z * z), 4) AS ss
    FROM dev GROUP BY event_type
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS nn, SUM(s) AS st,
           CAST(COUNT(*) AS BIGINT) AS k
    FROM g
),
parts AS (
    SELECT SUM(g.n * (g.s / g.n - tot.st / tot.nn)
                   * (g.s / g.n - tot.st / tot.nn)) AS ssb,
           SUM(g.ss - g.s * g.s / g.n) AS ssw
    FROM g, tot
)
SELECT tot.k - 1 AS df_between,
       tot.nn - tot.k AS df_within,
       ROUND((parts.ssb * (tot.nn - tot.k))
             / NULLIF(parts.ssw * (tot.k - 1), 0.0), 6) AS w_stat
FROM parts, tot
"""


@query("q_levene_test", LEVENE_ORACLE)
def levene_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe test (median-based Levene) of variance
    homogeneity of event value across event types — the check that
    gates q_anova_f and q_ab_ttest, whose pooled-variance math assumes
    equal spreads: it is the one-way ANOVA F applied to absolute
    deviations from the GROUP MEDIAN (median, not mean, is what makes
    it robust — Brown & Forsythe 1974). [engine — not in reference]

    Scale design: per-group exact medians (a sort-based aggregate per
    group, |event-types| output rows) broadcast back onto one corpus
    scan for the deviations, then the same bounded sufficient-stats
    ANOVA as q_anova_f — nothing larger than the group census crosses
    an exchange. Medians are 6dp-rounded and the per-group deviation
    sums 4dp-rounded at the engine boundaries (both engines define the
    even-count median as the same linear interpolation)."""
    e = load_table(spark, sf_dir, "events")
    med = e.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("md")
    )
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", F.abs(F.col("value") - F.col("md")).alias("z")
    )
    g = dev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("z"), 4).alias("s"),
        F.round(F.sum(F.col("z") * F.col("z")), 4).alias("ss"),
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("s").alias("st"),
        F.count(F.lit(1)).alias("k"),
    )
    gm = F.col("st") / F.col("nn")
    mg = F.col("s") / F.col("n")
    parts = g.crossJoin(F.broadcast(tot)).agg(
        F.sum(F.col("n") * (mg - gm) * (mg - gm)).alias("ssb"),
        F.sum(F.col("ss") - F.col("s") * F.col("s") / F.col("n")).alias("ssw"),
    )
    return parts.crossJoin(F.broadcast(tot)).select(
        (F.col("k") - 1).alias("df_between"),
        (F.col("nn") - F.col("k")).alias("df_within"),
        F.round(
            F.try_divide(
                F.col("ssb") * (F.col("nn") - F.col("k")),
                F.col("ssw") * (F.col("k") - 1),
            ),
            6,
        ).alias("w_stat"),
    )


# ---------------------------------------------------------------------------
# Cohen's kappa: chance-corrected agreement of the heuristic detector

KAPPA_ORACLE = f"""
WITH rated AS (
    SELECT CAST({ENGLISH_SCORE_SQL} >= 0.5
                AS INT) AS a,
           CAST(lang = 'en' AS INT) AS b
    FROM documents
),
cts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(a * b), 0) AS BIGINT) AS n11,
           CAST(COALESCE(SUM(a * (1 - b)), 0) AS BIGINT) AS n10,
           CAST(COALESCE(SUM((1 - a) * b), 0) AS BIGINT) AS n01,
           CAST(COALESCE(SUM((1 - a) * (1 - b)), 0) AS BIGINT) AS n00
    FROM rated
)
SELECT n AS n_docs,
       ROUND((n11 + n00) / NULLIF(n * 1.0, 0), 6) AS p_observed,
       ROUND(((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
             / NULLIF(n * 1.0 * n, 0), 6) AS p_expected,
       ROUND(((n11 + n00) / NULLIF(n * 1.0, 0)
              - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
                / NULLIF(n * 1.0 * n, 0))
             / NULLIF(1 - ((n11 + n10) * (n11 + n01)
                           + (n01 + n00) * (n10 + n00)) / NULLIF(n * 1.0 * n, 0), 0),
             6) AS kappa
FROM cts
"""


@query("q_cohens_kappa", KAPPA_ORACLE)
def cohens_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the thresholded vowel-ratio English
    detector (q_calibration_ece's scorer at p >= 0.5) and the gold
    language label — chance-corrected agreement, the metric that
    exposes a classifier that merely predicts the majority class on an
    imbalanced corpus where raw accuracy would look fine.
    [engine — not in reference]

    Scale design: the entire statistic reduces to the 2x2 confusion
    census — four conditional counts in ONE aggregate over one scan,
    then scalar algebra. Counts are exact integers, the kappa algebra
    is deterministic IEEE division on identical integers, 6dp-rounded."""
    d = load_table(spark, sf_dir, "documents")
    p = english_score()
    rated = d.select(
        (p >= 0.5).cast("int").alias("a"),
        (F.col("lang") == "en").cast("int").alias("b"),
    )
    cts = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(F.col("a") * F.col("b")), F.lit(0))
        .cast("long")
        .alias("n11"),
        F.coalesce(F.sum(F.col("a") * (1 - F.col("b"))), F.lit(0))
        .cast("long")
        .alias("n10"),
        F.coalesce(F.sum((1 - F.col("a")) * F.col("b")), F.lit(0))
        .cast("long")
        .alias("n01"),
        F.coalesce(F.sum((1 - F.col("a")) * (1 - F.col("b"))), F.lit(0))
        .cast("long")
        .alias("n00"),
    )
    n = F.col("n")
    po = F.try_divide(
        F.col("n11") + F.col("n00"), F.nullif(n * 1.0, F.lit(0.0))
    )
    pe = F.try_divide(
        (F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01"))
        + (F.col("n01") + F.col("n00")) * (F.col("n10") + F.col("n00")),
        F.nullif(n * 1.0 * n, F.lit(0.0)),
    )
    return cts.select(
        n.alias("n_docs"),
        F.round(po, 6).alias("p_observed"),
        F.round(pe, 6).alias("p_expected"),
        F.round(F.try_divide(po - pe, F.nullif(1 - pe, F.lit(0.0))), 6).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# Brier score with exact Murphy decomposition on the 4dp score grid

BRIER_ORACLE = f"""
WITH scored AS (
    SELECT {ENGLISH_SCORE_SQL} AS p,
           CAST(lang = 'en' AS INT) AS y
    FROM documents
),
cells AS (
    SELECT p, CAST(COUNT(*) AS BIGINT) AS w, CAST(SUM(y) AS BIGINT) AS sy
    FROM scored GROUP BY p
),
tot AS (
    SELECT CAST(SUM(w) AS BIGINT) AS n, CAST(SUM(sy) AS BIGINT) AS ny
    FROM cells
)
SELECT tot.n AS n_docs,
       ROUND(SUM(cells.w * (cells.p - cells.sy / (cells.w * 1.0))
                         * (cells.p - cells.sy / (cells.w * 1.0))
                 + cells.sy / (cells.w * 1.0)
                   * (1 - cells.sy / (cells.w * 1.0)) * cells.w)
             / (tot.n * 1.0), 6) AS brier,
       ROUND(SUM(cells.w * (cells.p - cells.sy / (cells.w * 1.0))
                         * (cells.p - cells.sy / (cells.w * 1.0)))
             / (tot.n * 1.0), 6) AS reliability,
       ROUND(SUM(cells.w * (cells.sy / (cells.w * 1.0) - tot.ny / (tot.n * 1.0))
                         * (cells.sy / (cells.w * 1.0) - tot.ny / (tot.n * 1.0)))
             / (tot.n * 1.0), 6) AS resolution,
       ROUND(tot.ny / (tot.n * 1.0) * (1 - tot.ny / (tot.n * 1.0)), 6)
           AS uncertainty
FROM cells, tot
GROUP BY tot.n, tot.ny
"""


@query("q_brier_decomposition", BRIER_ORACLE)
def brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score of the vowel-ratio English detector with Murphy's
    (1973) decomposition brier = reliability - resolution +
    uncertainty — the score-level companion to q_calibration_ece:
    reliability isolates miscalibration, resolution rewards scores
    that separate the classes, uncertainty is the irreducible base
    rate. Partitioning on the EXACT 4dp score grid (every distinct
    score is its own cell) makes the identity hold exactly, where
    coarse binning would leave a within-bin variance residual.
    [engine — not in reference]

    Scale design: one groupBy onto the score grid (bounded by score
    resolution — at most 10^4 cells — never corpus size), then the
    three decomposition terms are weighted sums over the cells. With
    binary labels the per-cell means are exact-integer divisions, so
    both engines agree deterministically before the 6dp round."""
    d = load_table(spark, sf_dir, "documents")
    p = english_score()
    scored = d.select(p.alias("p"), (F.col("lang") == "en").cast("int").alias("y"))
    cells = scored.groupBy("p").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum("y").cast("long").alias("sy"),
    )
    tot = cells.agg(
        F.sum("w").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("ny"),
    )
    ybar = F.col("sy") / (F.col("w") * 1.0)
    base = F.col("ny") / (F.col("n") * 1.0)
    return (
        cells.crossJoin(F.broadcast(tot))
        .groupBy("n", "ny")
        .agg(
            F.round(
                F.sum(
                    F.col("w") * (F.col("p") - ybar) * (F.col("p") - ybar)
                    + ybar * (1 - ybar) * F.col("w")
                )
                / (F.col("n") * 1.0),
                6,
            ).alias("brier"),
            F.round(
                F.sum(F.col("w") * (F.col("p") - ybar) * (F.col("p") - ybar))
                / (F.col("n") * 1.0),
                6,
            ).alias("reliability"),
            F.round(
                F.sum(F.col("w") * (ybar - base) * (ybar - base))
                / (F.col("n") * 1.0),
                6,
            ).alias("resolution"),
        )
        .select(
            F.col("n").alias("n_docs"),
            "brier",
            "reliability",
            "resolution",
            F.round(base * (1 - base), 6).alias("uncertainty"),
        )
    )


# ---------------------------------------------------------------------------
# McNemar's test: paired comparison of two detectors on the same docs

MCNEMAR_ORACLE = f"""
WITH rated AS (
    SELECT CAST(({ENGLISH_SCORE_SQL} >= 0.5)
                = (lang = 'en') AS INT) AS a_ok,
           CAST((POSITION(' the ' IN lower(text)) > 0) = (lang = 'en') AS INT)
               AS b_ok
    FROM documents
),
cts AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COALESCE(SUM(a_ok * (1 - b_ok)), 0) AS BIGINT) AS b,
           CAST(COALESCE(SUM((1 - a_ok) * b_ok), 0) AS BIGINT) AS c
    FROM rated
)
SELECT n AS n_docs, b AS n_a_only, c AS n_b_only,
       ROUND((b - c) * (b - c) / NULLIF((b + c) * 1.0, 0), 6) AS mcnemar_chi2
FROM cts
"""


@query("q_mcnemar_test", MCNEMAR_ORACLE)
def mcnemar_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test comparing two English detectors on the SAME
    documents — the vowel-ratio scorer (q_calibration_ece's) vs a
    stopword-presence heuristic (" the " substring): the paired test
    that only looks at the b/c discordant cells, because shared
    successes carry no information about which detector is better.
    This is the statistically-correct way to A/B two filter models on
    one corpus (an unpaired test wastes the pairing).
    [engine — not in reference]

    Scale design: one map-side pairing expression and ONE aggregate to
    the 2x2 discordance census — nothing but four integers leaves the
    scan. Exact integer algebra, try_divide-guarded, 6dp round."""
    d = load_table(spark, sf_dir, "documents")
    pa = (
        english_score()
        >= 0.5
    )
    pb = F.instr(F.lower("text"), " the ") > 0
    gold = F.col("lang") == "en"
    rated = d.select(
        (pa == gold).cast("int").alias("a_ok"),
        (pb == gold).cast("int").alias("b_ok"),
    )
    cts = rated.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.coalesce(F.sum(F.col("a_ok") * (1 - F.col("b_ok"))), F.lit(0))
        .cast("long")
        .alias("b"),
        F.coalesce(F.sum((1 - F.col("a_ok")) * F.col("b_ok")), F.lit(0))
        .cast("long")
        .alias("c"),
    )
    b, c = F.col("b"), F.col("c")
    return cts.select(
        F.col("n").alias("n_docs"),
        b.alias("n_a_only"),
        c.alias("n_b_only"),
        F.round(
            F.try_divide((b - c) * (b - c), F.nullif((b + c) * 1.0, F.lit(0.0))), 6
        ).alias("mcnemar_chi2"),
    )


# ---------------------------------------------------------------------------
# Hill tail-index estimator of the order-value distribution

_HILL_K = 100

HILL_ORACLE = f"""
WITH ranked AS (
    SELECT o_totalprice AS x,
           ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS r
    FROM orders WHERE o_totalprice > 0
),
topk AS (SELECT x, r FROM ranked WHERE r <= {_HILL_K} + 1),
ref AS (SELECT x AS xk FROM topk WHERE r = {_HILL_K} + 1),
s AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS k,
           SUM(LN(t.x / ref.xk)) AS lsum
    FROM topk t, ref WHERE t.r <= {_HILL_K}
)
SELECT k AS k_order_stats,
       ROUND(lsum / k, 6) AS mean_log_excess,
       ROUND(k / NULLIF(lsum, 0), 6) AS hill_alpha
FROM s
"""


@query("q_hill_tail", HILL_ORACLE)
def hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the tail index over the top-{k} order values:
    alpha-hat = k / sum(ln(x_(i) / x_(k+1))) — the standard
    heavy-tail diagnostic for CONTINUOUS amounts, complementing
    q_zipf_fit / q_degree_powerlaw which fit discrete frequency
    spectra. alpha near 1-2 means a few whale orders dominate revenue
    (plan for skew); large alpha means thin tails.
    [engine — not in reference]

    Scale design: only the top k+1 order statistics matter, so the
    ranking window collapses to a WindowGroupLimit (top-k pushdown) —
    the corpus is scanned once and k+1 rows survive. The log-ratio sum
    runs on the same {k} doubles in both engines (LN parity as in
    q_bm25), 6dp-rounded; the rank tiebreak on o_orderkey makes the
    k+1 cut deterministic under duplicate prices."""
    o = load_table(spark, sf_dir, "orders")
    ranked = o.filter(F.col("o_totalprice") > 0).select(
        F.col("o_totalprice").alias("x"),
        F.row_number()
        .over(Window.orderBy(F.col("o_totalprice").desc(), "o_orderkey"))
        .alias("r"),
    )
    topk = ranked.filter(F.col("r") <= _HILL_K + 1)
    ref = topk.filter(F.col("r") == _HILL_K + 1).select(F.col("x").alias("xk"))
    s = (
        topk.filter(F.col("r") <= _HILL_K)
        .crossJoin(F.broadcast(ref))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum(F.log(F.col("x") / F.col("xk"))).alias("lsum"),
        )
    )
    return s.select(
        F.col("k").alias("k_order_stats"),
        F.round(F.col("lsum") / F.col("k"), 6).alias("mean_log_excess"),
        F.round(
            F.try_divide(F.col("k"), F.nullif(F.col("lsum"), F.lit(0.0))), 6
        ).alias("hill_alpha"),
    )


hill_tail.__doc__ = hill_tail.__doc__.format(k=_HILL_K)


# ---------------------------------------------------------------------------
# Simpson's-paradox audit: does aggregation flip the association sign?

SIMPSON_ORACLE = """
WITH src AS (
    SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y
    FROM lineitem
),
grp AS (
    SELECT g, CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(x), 2) AS sx, ROUND(SUM(y), 2) AS sy,
           ROUND(SUM(x * x), 2) AS sxx, ROUND(SUM(x * y), 2) AS sxy
    FROM src GROUP BY g
),
sl AS (
    SELECT g, n,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
               AS slope
    FROM grp
),
tot AS (
    SELECT CAST(SUM(n) AS BIGINT) AS n, SUM(sx) AS sx, SUM(sy) AS sy,
           SUM(sxx) AS sxx, SUM(sxy) AS sxy
    FROM grp
),
osl AS (
    SELECT ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
               AS overall_slope
    FROM tot
)
SELECT CAST((SELECT COUNT(*) FROM sl) AS BIGINT) AS n_groups,
       osl.overall_slope,
       ROUND(MIN(sl.slope), 6) AS min_group_slope,
       ROUND(MAX(sl.slope), 6) AS max_group_slope,
       CAST(MAX(CASE WHEN SIGN(sl.slope) <> SIGN(osl.overall_slope)
                     THEN 1 ELSE 0 END) AS BIGINT) AS sign_reversal
FROM sl, osl
GROUP BY osl.overall_slope
"""


@query("q_simpson_paradox", SIMPSON_ORACLE)
def simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox audit: fit the OLS slope of extended price on
    quantity overall and within each return-flag stratum, and flag
    when any stratum's association sign disagrees with the pooled
    sign — the aggregation-reversal screen that decides whether a
    corpus-level correlation is safe to report or an artifact of mix
    effects. [engine — not in reference]

    Scale design: per-stratum OLS needs only the five sufficient sums
    (n, Σx, Σy, Σx², Σxy) — one groupBy to |strata| rows, the pooled
    fit reuses the SAME stratum sums (so the corpus is scanned once),
    and the verdict is scalar algebra. Sums are 2dp-rounded at the
    engine boundary; slopes 6dp-rounded before the sign compare."""
    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("x"),
        F.col("l_extendedprice").alias("y"),
    )
    grp = src.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(F.sum("x"), 2).alias("sx"),
        F.round(F.sum("y"), 2).alias("sy"),
        F.round(F.sum(F.col("x") * F.col("x")), 2).alias("sxx"),
        F.round(F.sum(F.col("x") * F.col("y")), 2).alias("sxy"),
    )

    def slope():
        n = F.col("n")
        return F.round(
            F.try_divide(
                n * F.col("sxy") - F.col("sx") * F.col("sy"),
                F.nullif(n * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0.0)),
            ),
            6,
        )

    sl = grp.select("g", "n", slope().alias("slope"))
    tot = grp.agg(
        F.sum("n").cast("long").alias("n"),
        F.sum("sx").alias("sx"),
        F.sum("sy").alias("sy"),
        F.sum("sxx").alias("sxx"),
        F.sum("sxy").alias("sxy"),
    )
    osl = tot.select(slope().alias("overall_slope"))
    return (
        sl.crossJoin(F.broadcast(osl))
        .groupBy("overall_slope")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.round(F.min("slope"), 6).alias("min_group_slope"),
            F.round(F.max("slope"), 6).alias("max_group_slope"),
            F.max(
                F.when(
                    F.signum(F.col("slope")) != F.signum(F.col("overall_slope")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("sign_reversal"),
        )
        .select(
            "n_groups",
            "overall_slope",
            "min_group_slope",
            "max_group_slope",
            "sign_reversal",
        )
    )


# ---------------------------------------------------------------------------
# group-fairness census: demographic parity + equalized odds per source

FAIRNESS_AUDIT_ORACLE = f"""
WITH rated AS (
    SELECT source,
           CAST({ENGLISH_SCORE_SQL} >= 0.5
                AS INT) AS yhat,
           CAST(lang = 'en' AS INT) AS y
    FROM documents
),
g AS (
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(yhat), 0) AS BIGINT) AS n_pred_pos,
           CAST(COALESCE(SUM(yhat * y), 0) AS BIGINT) AS n11,
           CAST(COALESCE(SUM(yhat * (1 - y)), 0) AS BIGINT) AS n10,
           CAST(COALESCE(SUM((1 - yhat) * y), 0) AS BIGINT) AS n01,
           CAST(COALESCE(SUM((1 - yhat) * (1 - y)), 0) AS BIGINT) AS n00
    FROM rated GROUP BY source
),
m AS (SELECT MAX(n_pred_pos * 1.0 / NULLIF(n_docs, 0)) AS max_rate FROM g)
SELECT source, n_docs, n_pred_pos,
       ROUND(n_pred_pos * 1.0 / NULLIF(n_docs, 0), 6) AS sel_rate,
       ROUND((n_pred_pos * 1.0 / NULLIF(n_docs, 0)) / NULLIF(max_rate, 0),
             6) AS di_ratio,
       ROUND(n11 * 1.0 / NULLIF(n11 + n01, 0), 6) AS tpr,
       ROUND(n10 * 1.0 / NULLIF(n10 + n00, 0), 6) AS fpr
FROM g CROSS JOIN m
ORDER BY source NULLS LAST
"""


@query("q_fairness_audit", FAIRNESS_AUDIT_ORACLE)
def fairness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-fairness census of the vowel-ratio English detector
    (q_cohens_kappa's rater) with the document `source` as the
    protected attribute: per source, the selection rate P(yhat=1 | g)
    (demographic parity), the disparate-impact ratio against the most-
    selected group (the four-fifths-rule statistic), and the equalized-
    odds pair TPR/FPR against the gold language label. A model that is
    calibrated overall but selects one source at twice the rate of
    another — or whose error rates differ by group — shows up here
    before it poisons a curated training mix.
    [engine — not in reference]

    Scale design: the q_cohens_kappa confusion-census shape extended
    per group — ONE groupBy over one scan produces the |sources|-row
    2x2 census (bounded by attribute cardinality, never row count),
    the max selection rate is a 1-row broadcast back over it, and all
    rates are deterministic IEEE divisions of exact integer counts,
    6dp-rounded. try_divide/NULLIF keeps groups with no positives
    (TPR) or no negatives (FPR) NULL in both engines."""
    d = load_table(spark, sf_dir, "documents")
    p = english_score()
    rated = d.select(
        "source",
        (p >= 0.5).cast("int").alias("yhat"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    g = rated.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("yhat"), F.lit(0)).cast("long").alias("n_pred_pos"),
        F.coalesce(F.sum(F.col("yhat") * F.col("y")), F.lit(0))
        .cast("long")
        .alias("n11"),
        F.coalesce(F.sum(F.col("yhat") * (1 - F.col("y"))), F.lit(0))
        .cast("long")
        .alias("n10"),
        F.coalesce(F.sum((1 - F.col("yhat")) * F.col("y")), F.lit(0))
        .cast("long")
        .alias("n01"),
        F.coalesce(F.sum((1 - F.col("yhat")) * (1 - F.col("y"))), F.lit(0))
        .cast("long")
        .alias("n00"),
    )
    rate = F.try_divide(
        F.col("n_pred_pos") * 1.0, F.nullif(F.col("n_docs"), F.lit(0))
    )
    m = g.agg(F.max(rate).alias("max_rate"))
    return (
        g.crossJoin(F.broadcast(m))
        .select(
            "source",
            "n_docs",
            "n_pred_pos",
            F.round(rate, 6).alias("sel_rate"),
            F.round(
                F.try_divide(rate, F.nullif(F.col("max_rate"), F.lit(0.0))), 6
            ).alias("di_ratio"),
            F.round(
                F.try_divide(
                    F.col("n11") * 1.0,
                    F.nullif(F.col("n11") + F.col("n01"), F.lit(0)),
                ),
                6,
            ).alias("tpr"),
            F.round(
                F.try_divide(
                    F.col("n10") * 1.0,
                    F.nullif(F.col("n10") + F.col("n00"), F.lit(0)),
                ),
                6,
            ).alias("fpr"),
        )
        # Spark ASC is NULLS FIRST, DuckDB's is NULLS LAST — pin the
        # oracle's convention so a NULL protected-attribute group (a
        # plausible value for `source`) can't break row-order parity.
        .orderBy(F.col("source").asc_nulls_last())
    )
