"""Round-7 statistical-qualification operator tests: planted-data
semantics pins for operators/evaluation.py.

Oracle parity is the driver's job (tools/check_oracle.py replays it);
these tests pin what the statistics MEAN — that chi2 is zero exactly
when the design is independent, that conformal coverage honors its
quantile, that the NB classifier separates separable classes, etc.
"""

from __future__ import annotations

import datetime as dt
import math

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES
from tests.conftest import SF0001, _DOC_SCHEMA, _EVENT_SCHEMA, _T0, _write

_ORDER_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)


# ---------------------------------------------------------------------------
# chi-square


def test_chi2_zero_on_independent_design(spark, tmp_path):
    """A fully balanced lang x source design is EXACTLY independent:
    every cell count equals its expectation, so chi2 must be 0.0 (the
    algebraic identity must not introduce float drift at the null)."""
    rows = []
    i = 0
    for lang in ["en", "fr"]:
        for src in ["a", "b", "c"]:
            for _ in range(10):
                rows.append((i, "t", lang, src, 1))
                i += 1
    _write(spark, tmp_path, rows, _DOC_SCHEMA, "documents")
    r = QUERIES["q_chi2_test"](spark, str(tmp_path)).collect()[0]
    assert r.n_total == 60
    assert r.dof == (2 - 1) * (3 - 1)
    assert r.chi2 == 0.0
    assert r.cramers_v == 0.0


def test_chi2_maximal_on_confounded_design(spark, tmp_path):
    """lang determines source -> Cramér's V = 1 (perfect association)."""
    rows = [(i, "t", "en", "a", 1) for i in range(20)]
    rows += [(100 + i, "t", "fr", "b", 1) for i in range(20)]
    _write(spark, tmp_path, rows, _DOC_SCHEMA, "documents")
    r = QUERIES["q_chi2_test"](spark, str(tmp_path)).collect()[0]
    assert r.cramers_v == 1.0
    assert r.chi2 == float(r.n_total)  # 2x2 with V=1: chi2 = N


# ---------------------------------------------------------------------------
# calibration (ECE components)


def test_calibration_bins_partition_the_corpus(spark):
    rows = QUERIES["q_calibration_ece"](spark, SF0001).collect()
    assert sum(r.n_bin for r in rows) > 0
    for r in rows:
        assert 0 <= r.bin <= 9
        assert 0.0 <= r.conf <= 1.0
        assert 0.0 <= r.acc <= 1.0
        assert abs(r.gap - round(abs(r.conf - r.acc), 6)) < 2e-6


# ---------------------------------------------------------------------------
# l-diversity


def test_l_diversity_flags_homogeneous_groups(spark, tmp_path):
    """One QI group (event type x hour) where every row shares one
    sensitive decile -> flagged; one fully diverse group -> not."""
    rows = []
    # homogeneous group: hour 0, all k in [10, 19] -> 1 decile
    for i in range(10):
        rows.append((i, _T0, i, "view", 1.0, '{"k": 14}'))
    # diverse group: hour 1, deciles 0..9
    for i in range(10):
        rows.append(
            (100 + i, _T0 + dt.timedelta(hours=1), i, "view", 1.0,
             f'{{"k": {i * 10}}}')
        )
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_l_diversity"](spark, str(tmp_path)).collect()[0]
    assert r.n_groups == 2
    assert r.min_l == 1
    assert r.violating_groups == 1
    assert r.rows_at_risk == 10


# ---------------------------------------------------------------------------
# ACF / seasonal decomposition


def test_acf_detects_alternating_series(spark, tmp_path):
    """Daily revenue alternating high/low -> strongly negative acf at
    odd lags, strongly positive at even lags."""
    rows = []
    for d in range(60):
        price = 200.0 if d % 2 == 0 else 100.0
        rows.append((d, 1, "O", price, _T0 + dt.timedelta(days=d), "p"))
    _write(spark, tmp_path, rows, _ORDER_SCHEMA, "orders")
    out = {r.lag: r.acf for r in QUERIES["q_acf"](spark, str(tmp_path)).collect()}
    assert set(out) == set(range(1, 8))
    assert out[1] < -0.9 and out[3] < -0.9
    assert out[2] > 0.9 and out[4] > 0.9


def test_seasonal_decompose_recovers_planted_weekly_lift(spark, tmp_path):
    """rev = 100 + 70*(dow==0) -> after removing the 7-day MA (=110),
    the seasonal index is +60 on the lifted day and -10 elsewhere."""
    rows = []
    for d in range(70):
        price = 170.0 if d % 7 == 0 else 100.0
        rows.append((d, 1, "O", price, _T0 + dt.timedelta(days=d), "p"))
    _write(spark, tmp_path, rows, _ORDER_SCHEMA, "orders")
    out = {
        r.dow: r.seasonal
        for r in QUERIES["q_seasonal_decompose"](spark, str(tmp_path)).collect()
    }
    assert len(out) == 7
    lifted = max(out, key=lambda k: out[k])
    assert abs(out[lifted] - 60.0) < 1e-6
    for k, v in out.items():
        if k != lifted:
            assert abs(v - (-10.0)) < 1e-6


# ---------------------------------------------------------------------------
# conformal intervals


def test_conformal_quantile_and_coverage_exact_on_planted_folds(spark, tmp_path):
    """One event type; fold 0 pins the model mean, fold 1 pins qhat as
    the exact 90%-ish order statistic, fold 2 measures coverage — all
    hand-checkable."""
    rows = []
    eid = 0
    # fold 0 (user 0): values all 50 -> yhat = 50
    for _ in range(10):
        rows.append((eid, _T0, 0, "view", 50.0, "{}")); eid += 1
    # fold 1 (user 1): residuals 1..19 -> n_cal=19, k=ceil(0.9*20)=18 -> qhat=18
    for r in range(1, 20):
        rows.append((eid, _T0, 1, "view", 50.0 + r, "{}")); eid += 1
    # fold 2 (user 2): 8 inside (|v-50|<=18), 2 outside -> coverage 0.8
    for v in [40.0, 45.0, 50.0, 55.0, 60.0, 65.0, 66.0, 68.0, 90.0, 10.0]:
        rows.append((eid, _T0, 2, "view", v, "{}")); eid += 1
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_conformal_intervals"](spark, str(tmp_path)).collect()[0]
    assert (r.n_train, r.n_cal, r.n_test) == (10, 19, 10)
    assert r.yhat == 50.0
    assert r.qhat == 18.0
    assert r.coverage == 0.8


# ---------------------------------------------------------------------------
# jackknife — against an independent numpy replication


def test_jackknife_matches_numpy_reference(spark):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{SF0001}/lineitem.parquet")
    x = (
        t.column("l_extendedprice").to_numpy()
        * (1 - t.column("l_discount").to_numpy())
    )
    q = t.column("l_quantity").to_numpy()
    s, tt, n = round(x.sum(), 2), round(q.sum(), 2), len(x)
    loo = (s - x) / (tt - q)
    ml = round(loo.mean(), 6)
    se = math.sqrt((n - 1) / n * ((loo - ml) ** 2).sum())
    r = QUERIES["q_jackknife_ci"](spark, SF0001).collect()[0]
    assert r.n == n
    assert abs(r.estimate - s / tt) < 1e-6
    assert abs(r.jk_se - se) < 1e-6 * max(1.0, se)
    assert r.ci_lo < r.estimate < r.ci_hi


# ---------------------------------------------------------------------------
# naive Bayes


def test_naive_bayes_separates_disjoint_vocabularies(spark, tmp_path):
    """Two languages with fully disjoint vocabularies are separable:
    the held-out confusion matrix must be purely diagonal."""
    rows = []
    for i in range(30):
        rows.append((2 * i, "aaa bbb ccc ddd aaa bbb", "en", "s", 23))
        rows.append((2 * i + 1, "xxx yyy zzz www xxx yyy", "fr", "s", 23))
    _write(spark, tmp_path, rows, _DOC_SCHEMA, "documents")
    out = QUERIES["q_naive_bayes"](spark, str(tmp_path)).collect()
    assert len(out) > 0
    for r in out:
        assert r.true_lang == r.pred, out
    assert sum(r.n_docs for r in out) == sum(1 for i in range(60) if i % 3 == 2)


# ---------------------------------------------------------------------------
# ANOVA


def test_anova_zero_between_when_groups_identical(spark, tmp_path):
    rows = []
    eid = 0
    for et in ["view", "click"]:
        for v in [1.0, 2.0, 3.0, 4.0]:
            rows.append((eid, _T0, eid, et, v, "{}")); eid += 1
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_anova_f"](spark, str(tmp_path)).collect()[0]
    assert (r.df_between, r.df_within) == (1, 6)
    assert r.ss_between == 0.0
    assert r.f_stat == 0.0


def test_anova_infinite_separation_when_within_zero(spark, tmp_path):
    """Constant-within, different-between groups: SSW = 0, F blows up
    (div by zero -> NULL/inf is fine; SSB must be exact)."""
    rows = []
    eid = 0
    for v, et in [(10.0, "view"), (30.0, "click")]:
        for _ in range(5):
            rows.append((eid, _T0, eid, et, v, "{}")); eid += 1
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_anova_f"](spark, str(tmp_path)).collect()[0]
    # SSB = 5*(10-20)^2 + 5*(30-20)^2 = 1000
    assert r.ss_between == 1000.0
    assert r.ss_within == 0.0
    assert r.f_stat is None  # degenerate separation -> NULL, never a crash


# ---------------------------------------------------------------------------
# Benford


def test_benford_digit_extraction_and_uniform_plant(spark, tmp_path):
    """Prices planted uniformly over first digits 1..9 (with awkward
    magnitudes: 0.0x to 9xxx) -> obs_freq exactly 1/9 per digit."""
    rows = []
    k = 0
    for d in range(1, 10):
        for mag in [0.01, 0.1, 1.0, 10.0, 100.0, 1000.0]:
            rows.append((k, 1, "O", d * mag, _T0, "p")); k += 1
    _write(spark, tmp_path, rows, _ORDER_SCHEMA, "orders")
    out = QUERIES["q_benford"](spark, str(tmp_path)).collect()
    assert [r.digit for r in out] == list(range(1, 10))
    for r in out:
        assert r.n_obs == 6
        assert abs(r.obs_freq - round(1 / 9, 6)) < 1e-9
    # expected freqs are the Benford mass function
    assert abs(out[0].exp_freq - round(math.log10(2), 6)) < 1e-9


def test_benford_boundary_digits(spark, tmp_path):
    """999.99 -> 9, 100.00 -> 1, 0.09 -> 9: no float-log10 glitches."""
    rows = [
        (0, 1, "O", 999.99, _T0, "p"),
        (1, 1, "O", 100.00, _T0, "p"),
        (2, 1, "O", 0.09, _T0, "p"),
        (3, 1, "O", 1.00, _T0, "p"),
    ]
    _write(spark, tmp_path, rows, _ORDER_SCHEMA, "orders")
    out = {r.digit: r.n_obs for r in QUERIES["q_benford"](spark, str(tmp_path)).collect()}
    assert out == {9: 2, 1: 2}


# ---------------------------------------------------------------------------
# IPS off-policy evaluation


def test_ips_recovers_planted_best_action_value(spark, tmp_path):
    """One context, two actions logged uniformly; 'click' pays 100,
    'view' pays 1. The greedy target plays click everywhere, so
    SNIPS = 100 exactly and IPS = 100 * (matched mass / propensity) / n
    = 100 (uniform logging, p = 0.5, half the rows matched)."""
    rows = []
    eid = 0
    for _ in range(50):
        rows.append((eid, _T0, 0, "click", 100.0, "{}")); eid += 1
        rows.append((eid, _T0, 0, "view", 1.0, "{}")); eid += 1
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_ips_eval"](spark, str(tmp_path)).collect()[0]
    assert r.n == 100
    assert r.n_matched == 50
    assert abs(r.ips_value - 100.0) < 1e-6
    assert abs(r.snips_value - 100.0) < 1e-6
    assert abs(r.ess - 50.0) < 1e-6  # all weight on 50 equal-w rows


# ---------------------------------------------------------------------------
# bootstrap


def test_bootstrap_is_deterministic_and_ordered(spark):
    a = QUERIES["q_bootstrap_ci"](spark, SF0001).collect()[0]
    b = QUERIES["q_bootstrap_ci"](spark, SF0001).collect()[0]
    assert a == b  # seeded LCG: bit-identical across runs
    assert a.n_boot == 200
    assert a.ci_lo <= a.estimate <= a.ci_hi
    assert a.ci_lo < a.ci_hi
