"""Round-8 operator tests: planted-data semantics pins for the rank
statistics, privacy-EMD, calibration-fit, retrieval-metric, and
FK-audit operators.

Oracle parity is the driver's job (tools/check_oracle.py replays it);
these pin what the operators MEAN — that Spearman saturates on any
monotone relation where Pearson doesn't, that a concordant series
gives tau = 1, that PAV output is monotone and mass-preserving, that
MRR/MAP hit 1.0 when retrieval is perfect, that orphan keys are
counted exactly.
"""

from __future__ import annotations

import datetime as dt

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402
import pytest
from tests.conftest import SF0001, _EVENT_SCHEMA, _T0, _write  # noqa: E402

_ORDER_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate timestamp, o_orderpriority string"
)
_EMBED_SCHEMA = "vec_id long, embedding array<float>, label int"


def _orders_by_day(spark, path, day_specs):
    """day_specs: list of (day_index, [prices]) -> one order per price."""
    rows = []
    k = 0
    for day, prices in day_specs:
        for p in prices:
            rows.append(
                (k, k, "O", float(p), _T0 + dt.timedelta(days=day), "1-URGENT")
            )
            k += 1
    _write(spark, path, rows, _ORDER_SCHEMA, "orders")


# ---------------------------------------------------------------------------
# Spearman / Kendall


def test_spearman_saturates_on_monotone_nonlinear(spark, tmp_path):
    """rev = cnt^3 is perfectly monotone in cnt -> rho exactly 1 while
    Pearson stays strictly below 1 (the relation is convex)."""
    specs = [(d, [float(d**2)] * d) for d in range(1, 7)]  # rev = d^3, cnt = d
    _orders_by_day(spark, tmp_path, specs)
    r = QUERIES["q_spearman_corr"](spark, str(tmp_path)).collect()[0]
    assert r.n_days == 6
    assert r.rho_spearman == 1.0
    assert 0.0 < r.r_pearson < 1.0


def test_spearman_antimonotone_is_minus_one(spark, tmp_path):
    # cnt = d rises while the DAILY TOTAL (one priced order + d-1 free
    # ones) falls: rev = 100 - d^2
    specs = [(d, [float(100 - d**2)] + [0.0] * (d - 1)) for d in range(1, 6)]
    _orders_by_day(spark, tmp_path, specs)
    r = QUERIES["q_spearman_corr"](spark, str(tmp_path)).collect()[0]
    assert r.rho_spearman == -1.0


def test_kendall_counts_all_pairs_concordant(spark, tmp_path):
    """Strictly co-monotone series with no ties: every one of the
    n(n-1)/2 day pairs is concordant -> tau_b = 1."""
    specs = [(d, [float(10 * d)] * d) for d in range(1, 6)]  # n = 5 days
    _orders_by_day(spark, tmp_path, specs)
    r = QUERIES["q_kendall_tau"](spark, str(tmp_path)).collect()[0]
    assert r.n_days == 5
    assert r.n_concordant == 10
    assert r.n_discordant == 0
    assert r.tau_b == 1.0


# ---------------------------------------------------------------------------
# Mann-Whitney


def test_mann_whitney_separated_groups(spark, tmp_path):
    """Every 'click' value above every 'view' value -> U = na*nb (the
    maximum) and z > 0; the rank machinery must not lose mass."""
    rows = []
    for i in range(5):
        rows.append((i, _T0, i, "click", 10.0 + i, "{}"))
        rows.append((100 + i, _T0, i, "view", 1.0 + i, "{}"))
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_mann_whitney"](spark, str(tmp_path)).collect()[0]
    assert (r.n_a, r.n_b) == (5, 5)
    assert r.u_stat == 25.0
    assert r.z_score > 2.0


def test_mann_whitney_identical_groups_z_zero(spark, tmp_path):
    """Identical value multisets -> all ranks tie pairwise, U = na*nb/2
    exactly, z = 0."""
    rows = []
    for i in range(6):
        rows.append((i, _T0, i, "click", float(i % 3), "{}"))
        rows.append((100 + i, _T0, i, "view", float(i % 3), "{}"))
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_mann_whitney"](spark, str(tmp_path)).collect()[0]
    assert r.u_stat == 18.0  # 6*6/2
    assert r.z_score == 0.0


# ---------------------------------------------------------------------------
# t-closeness


def test_t_closeness_zero_when_groups_mirror_global(spark, tmp_path):
    """Two groups with IDENTICAL sensitive distributions -> both match
    the global distribution exactly -> max_t = 0, no violations."""
    rows = []
    for g, hour in enumerate([0, 1]):
        for i in range(10):
            rows.append(
                (g * 100 + i, _T0 + dt.timedelta(hours=hour), i, "view",
                 1.0, f'{{"k": {(i % 5) * 10}}}')
            )
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_t_closeness"](spark, str(tmp_path)).collect()[0]
    assert r.n_groups == 2
    assert r.m_categories == 5
    assert r.max_t == 0.0
    assert r.violating_groups == 0


def test_t_closeness_flags_skewed_group(spark, tmp_path):
    """One group concentrated on a single sensitive decile against a
    spread global distribution -> its EMD exceeds t -> flagged."""
    rows = []
    # group 0: all in decile 0
    for i in range(10):
        rows.append((i, _T0, i, "view", 1.0, '{"k": 0}'))
    # group 1: uniform over deciles 0..4
    for i in range(10):
        rows.append(
            (100 + i, _T0 + dt.timedelta(hours=1), i, "view", 1.0,
             f'{{"k": {(i % 5) * 10}}}')
        )
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_t_closeness"](spark, str(tmp_path)).collect()[0]
    assert r.n_groups == 2
    assert r.violating_groups >= 1
    assert r.max_t > 0.2


# ---------------------------------------------------------------------------
# isotonic calibration (PAV)


def test_isotonic_fit_is_monotone_and_mass_preserving(spark):
    """PAV invariants on real data: fitted rates are non-decreasing in
    score bin, lie in [0,1], and pooling preserves total label mass
    (sum w*iso == sum w*raw)."""
    rows = QUERIES["q_isotonic_calibration"](spark, SF0001).collect()
    assert len(rows) >= 2
    iso = [r.iso_rate for r in rows]
    assert iso == sorted(iso)
    for r in rows:
        assert 0.0 <= r.iso_rate <= 1.0
    mass_raw = sum(r.n_bin * r.raw_rate for r in rows)
    mass_iso = sum(r.n_bin * r.iso_rate for r in rows)
    assert abs(mass_raw - mass_iso) < 1e-3 * max(mass_raw, 1.0)


# ---------------------------------------------------------------------------
# PACF


def test_pacf_lag1_equals_acf_lag1(spark):
    """Durbin-Levinson level 1 is the ACF itself: pacf(1) == acf(1)
    to the shared 6dp grid (both consume the same rounded rho_1)."""
    acf = {r.lag: r.acf for r in QUERIES["q_acf"](spark, SF0001).collect()}
    pacf = {r.lag: r.pacf for r in QUERIES["q_pacf"](spark, SF0001).collect()}
    assert set(pacf) == {1, 2, 3, 4}
    assert pacf[1] == acf[1]
    for v in pacf.values():
        assert -1.0 <= v <= 1.0


# ---------------------------------------------------------------------------
# MRR / MAP


def _perfect_retrieval_lake(spark, tmp_path, per_label=3):
    """Queries 0..7 are one-hot basis vectors with label = vec_id; the
    corpus holds `per_label` exact copies of each query (cos 1 with its
    own query, 0 with the others) plus orthogonal distractors."""
    dim = 16
    rows = []
    for q in range(8):
        vec = [0.0] * dim
        vec[q] = 1.0
        rows.append((q, vec, q))
    nxt = 8
    for q in range(8):
        vec = [0.0] * dim
        vec[q] = 1.0
        for _ in range(per_label):
            rows.append((nxt, vec, q))
            nxt += 1
    for d in range(8):  # distractors on the unused axes, labels 8/9
        vec = [0.0] * dim
        vec[8 + d % 8] = 1.0
        rows.append((nxt, vec, 8 + d % 2))
        nxt += 1
    _write(spark, tmp_path, rows, _EMBED_SCHEMA, "embeddings")


def test_mrr_is_one_on_perfect_retrieval(spark, tmp_path):
    _perfect_retrieval_lake(spark, tmp_path)
    r = QUERIES["q_mrr_eval"](spark, str(tmp_path)).collect()[0]
    assert r.n_queries == 8
    assert r.mrr_at_k == 1.0


def test_map_is_one_on_perfect_retrieval(spark, tmp_path):
    """All R relevant docs rank 1..R for every query -> AP = 1."""
    _perfect_retrieval_lake(spark, tmp_path)
    r = QUERIES["q_map_eval"](spark, str(tmp_path)).collect()[0]
    assert r.n_queries == 8
    assert r.map_at_k == 1.0


# ---------------------------------------------------------------------------
# referential integrity


def test_referential_integrity_clean_on_testdata(spark):
    """The generated lake is FK-consistent: every edge reports zero
    orphans (this also pins the 7-edge census shape)."""
    rows = QUERIES["q_referential_integrity"](spark, SF0001).collect()
    assert len(rows) == 7
    for r in rows:
        assert r.n_orphan == 0, r.fk
        assert r.n_orphan_keys == 0, r.fk
        assert r.n_dup_parent_keys == 0, r.fk
        assert r.n_child > 0, r.fk


@pytest.mark.slow  # >=5s
def test_referential_integrity_counts_planted_orphans(spark, tmp_path):
    _write(spark, tmp_path, [(1, 1, 1, 1.0), (1, 999, 1, 1.0), (1, 999, 1, 1.0)],
           "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double",
           "lineitem")
    # only partkey 999 is orphaned (x2 rows, 1 distinct key)
    _write(spark, tmp_path, [(1, 1, 100.0, _T0)],
           "o_orderkey long, o_custkey long, o_totalprice double, "
           "o_orderdate timestamp", "orders")
    _write(spark, tmp_path, [(1,)], "p_partkey long", "part")
    _write(spark, tmp_path, [(1, 1)], "s_suppkey long, s_nationkey int",
           "supplier")
    _write(spark, tmp_path, [(1, 1)], "c_custkey long, c_nationkey int",
           "customer")
    _write(spark, tmp_path, [(1, 1)], "n_nationkey int, n_regionkey int",
           "nation")
    _write(spark, tmp_path, [(1,)], "r_regionkey int", "region")
    rows = {r.fk: r for r in
            QUERIES["q_referential_integrity"](spark, str(tmp_path)).collect()}
    e = rows["lineitem.l_partkey->part"]
    assert (e.n_child, e.n_orphan, e.n_orphan_keys) == (3, 2, 1)
    assert rows["lineitem.l_orderkey->orders"].n_orphan == 0
    assert rows["orders.o_custkey->customer"].n_orphan == 0


@pytest.mark.slow  # >=5s
def test_referential_integrity_dup_parent_pk_no_fanout(spark, tmp_path):
    """A duplicated parent primary key must NOT fan the join out and
    inflate n_child/n_orphan (the parent side is deduped before the
    join); the duplication is surfaced in n_dup_parent_keys instead."""
    _write(spark, tmp_path, [(1, 1, 1, 1.0), (2, 1, 1, 1.0)],
           "l_orderkey long, l_partkey long, l_suppkey long, l_quantity double",
           "lineitem")
    # part 1 appears THREE times: broken parent PK
    _write(spark, tmp_path, [(1,), (1,), (1,), (2,)], "p_partkey long", "part")
    _write(spark, tmp_path, [(1, 1, 100.0, _T0), (2, 1, 100.0, _T0)],
           "o_orderkey long, o_custkey long, o_totalprice double, "
           "o_orderdate timestamp", "orders")
    _write(spark, tmp_path, [(1, 1)], "s_suppkey long, s_nationkey int",
           "supplier")
    _write(spark, tmp_path, [(1, 1)], "c_custkey long, c_nationkey int",
           "customer")
    _write(spark, tmp_path, [(1, 1)], "n_nationkey int, n_regionkey int",
           "nation")
    _write(spark, tmp_path, [(1,)], "r_regionkey int", "region")
    rows = {r.fk: r for r in
            QUERIES["q_referential_integrity"](spark, str(tmp_path)).collect()}
    e = rows["lineitem.l_partkey->part"]
    # without the dedup the 2 child rows would report n_child == 6
    assert (e.n_child, e.n_orphan, e.n_dup_parent_keys) == (2, 0, 1)
    assert rows["lineitem.l_orderkey->orders"].n_dup_parent_keys == 0


# ---------------------------------------------------------------------------
# Brown-Forsythe / Levene


def test_levene_zero_when_spreads_match(spark, tmp_path):
    """Two groups that are shifted copies of each other have identical
    deviation distributions -> SSB = 0 -> W = 0 exactly."""
    rows = []
    for i in range(8):
        rows.append((i, _T0, i, "click", float(i % 4), "{}"))
        rows.append((100 + i, _T0, i, "view", 50.0 + (i % 4), "{}"))
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_levene_test"](spark, str(tmp_path)).collect()[0]
    assert r.df_between == 1
    assert r.df_within == 14
    assert r.w_stat == 0.0


def test_levene_flags_unequal_spread(spark, tmp_path):
    """Same shape, wildly different spreads -> large W (spreads sit
    far above the 4dp boundary rounding of the deviation sums)."""
    rows = []
    for i in range(12):
        rows.append((i, _T0, i, "click", 10.0 + (i % 3), "{}"))
        rows.append((100 + i, _T0, i, "view", 10.0 + (i % 3) * 20.0, "{}"))
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    r = QUERIES["q_levene_test"](spark, str(tmp_path)).collect()[0]
    assert r.w_stat > 10.0


# ---------------------------------------------------------------------------
# Cohen's kappa


def test_kappa_bounds_and_identity_on_testdata(spark):
    """kappa = (po - pe)/(1 - pe) must hold on the emitted row, and
    all three probabilities live in their textbook ranges."""
    r = QUERIES["q_cohens_kappa"](spark, SF0001).collect()[0]
    assert r.n_docs > 0
    assert 0.0 <= r.p_observed <= 1.0
    assert 0.0 <= r.p_expected <= 1.0
    expect = (r.p_observed - r.p_expected) / (1 - r.p_expected)
    assert abs(r.kappa - round(expect, 6)) < 2e-6
    assert -1.0 <= r.kappa <= 1.0


# ---------------------------------------------------------------------------
# Brier decomposition


def test_brier_murphy_identity(spark):
    """Partitioning on the exact score grid makes Murphy's identity
    exact: brier = reliability - resolution + uncertainty."""
    r = QUERIES["q_brier_decomposition"](spark, SF0001).collect()[0]
    assert r.n_docs > 0
    assert 0.0 <= r.brier <= 1.0
    assert abs(r.brier - (r.reliability - r.resolution + r.uncertainty)) < 5e-6
    assert r.uncertainty <= 0.25 + 1e-9  # p(1-p) maximum


# ---------------------------------------------------------------------------
# readability


def test_readability_orders_simple_before_dense(spark, tmp_path):
    """Short words / short sentences score higher than polysyllabic
    run-ons; fragment docs fall back to one sentence."""
    rows = [
        (0, "The cat sat. The dog ran. It was fun.", "en", "a", 1),
        (1, "Internationalization considerations necessitate "
            "exhaustive organizational reconfiguration", "en", "a", 1),
    ]
    _write(spark, tmp_path, rows,
           "doc_id long, text string, lang string, source string, n_chars long",
           "documents")
    rows = {r.doc_id: r for r in
            QUERIES["q_readability"](spark, str(tmp_path)).collect()}
    assert rows[0].n_sentences == 3
    assert rows[1].n_sentences == 1  # no terminator -> floored at 1
    assert rows[0].flesch > rows[1].flesch
    assert rows[1].n_syllables > rows[1].n_words  # polysyllabic


# ---------------------------------------------------------------------------
# matryoshka recall


def test_matryoshka_recall_is_one_when_prefix_carries_signal(spark, tmp_path):
    """If all the energy lives in the first dims, truncation loses
    nothing: prefix ranking == full ranking -> recall 1.0."""
    dim = 64
    rows = []
    for q in range(8):
        vec = [0.0] * dim
        vec[q] = 1.0  # axes 0..7 < prefix 16
        rows.append((q, vec, q))
    nxt = 8
    for q in range(8):
        for j in range(12):
            vec = [0.0] * dim
            vec[q] = 1.0 + 0.01 * j  # same direction, distinct norms
            vec[(q + 1) % 8] = 0.001 * j  # tiny tilt: unique ranking
            rows.append((nxt, vec, q))
            nxt += 1
    _write(spark, tmp_path, rows, _EMBED_SCHEMA, "embeddings")
    r = QUERIES["q_matryoshka_recall"](spark, str(tmp_path)).collect()[0]
    assert r.n_queries == 8
    assert r.prefix_dim == 16
    assert r.recall_at_k == 1.0


def test_matryoshka_recall_on_testdata_in_range(spark):
    r = QUERIES["q_matryoshka_recall"](spark, SF0001).collect()[0]
    assert r.n_queries == 8
    assert 0.0 <= r.recall_at_k <= 1.0


# ---------------------------------------------------------------------------
# label noise


def test_label_noise_flags_planted_mislabel(spark, tmp_path):
    """Two tight, well-separated clusters; one slice member carries the
    wrong cluster's label -> flagged with a unanimous 5-0 vote, and the
    correctly-labeled members are NOT flagged."""
    dim = 16
    rows = []
    # slice members (vec_id < 100): 6 in cluster A (label 0) ...
    for i in range(6):
        vec = [0.0] * dim
        vec[0] = 1.0
        vec[1] = 0.001 * i
        rows.append((i, vec, 0))
    # ... and one A-cluster vector mislabeled as 1
    vec = [0.0] * dim
    vec[0] = 1.0
    vec[1] = 0.0007
    rows.append((6, vec, 1))
    # corpus cluster B (label 1), far away
    for j in range(10):
        vec = [0.0] * dim
        vec[5] = 1.0
        vec[6] = 0.001 * j
        rows.append((200 + j, vec, 1))
    _write(spark, tmp_path, rows, _EMBED_SCHEMA, "embeddings")
    flagged = {r.vec_id: r for r in
               QUERIES["q_label_noise"](spark, str(tmp_path)).collect()}
    assert 6 in flagged
    assert flagged[6].label == 1
    assert flagged[6].knn_label == 0
    assert flagged[6].n_agree == 5
    assert all(v == 6 for v in flagged)  # clean members not flagged


# ---------------------------------------------------------------------------
# Kaplan-Meier


def test_kaplan_meier_textbook_curve(spark, tmp_path):
    """Planted lifetimes 1,1,2,3 (all churned) + one fresh anchor user
    (censored at t=0): the product-limit steps are 1, 1/2, 1/4, 0 and
    the censored user only inflates the risk sets."""
    rows = []
    # anchor: active at the corpus end (sets gmax, censored, t=0)
    rows.append((0, _T0 + dt.timedelta(days=100), 99, "view", 1.0, "{}"))
    # four churned users: first/last pairs giving durations 1,1,2,3
    for uid, dur in [(1, 1), (2, 1), (3, 2), (4, 3)]:
        rows.append((10 * uid, _T0, uid, "view", 1.0, "{}"))
        rows.append((10 * uid + 1, _T0 + dt.timedelta(days=dur), uid, "view",
                     1.0, "{}"))
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    curve = {r.duration_days: r for r in
             QUERIES["q_kaplan_meier"](spark, str(tmp_path)).collect()}
    assert curve[0].n_risk == 5 and curve[0].n_churned == 0
    assert curve[0].survival == 1.0
    assert curve[1].n_risk == 4 and curve[1].n_churned == 2
    assert curve[1].survival == 0.5
    assert curve[2].n_risk == 2 and curve[2].survival == 0.25
    assert curve[3].n_risk == 1 and curve[3].survival == 0.0


def test_kaplan_meier_monotone_on_testdata(spark):
    rows = QUERIES["q_kaplan_meier"](spark, SF0001).collect()
    surv = [r.survival for r in rows]  # ordered by duration
    assert all(a >= b for a, b in zip(surv, surv[1:]))
    assert all(0.0 <= s <= 1.0 for s in surv)
    assert rows[0].n_risk == sum(r.n_churned + r.n_censored for r in rows)


# ---------------------------------------------------------------------------
# JS divergence


def test_jsd_zero_for_identical_and_one_for_disjoint(spark, tmp_path):
    """Identical token distributions -> JSD 0; disjoint vocabularies ->
    JSD exactly 1 (log2 units)."""
    rows = [
        (0, "alpha beta gamma", "en", "src0", 1),
        (1, "alpha beta gamma", "en", "src1", 1),
    ]
    _write(spark, tmp_path, rows,
           "doc_id long, text string, lang string, source string, n_chars long",
           "documents")
    r = QUERIES["q_js_divergence"](spark, str(tmp_path)).collect()[0]
    assert (r.n_tokens_a, r.n_tokens_b) == (3, 3)
    assert r.jsd == 0.0
    rows = [
        (0, "alpha beta", "en", "src0", 1),
        (1, "delta epsilon", "en", "src1", 1),
    ]
    _write(spark, tmp_path, rows,
           "doc_id long, text string, lang string, source string, n_chars long",
           "documents")
    r = QUERIES["q_js_divergence"](spark, str(tmp_path)).collect()[0]
    assert r.n_vocab == 4
    assert r.jsd == 1.0


# ---------------------------------------------------------------------------
# McNemar


def test_mcnemar_counts_discordant_pairs(spark, tmp_path):
    """Construct docs where detector A (vowel ratio) is right and the
    stopword detector B is wrong, and vice versa; chi2 = (b-c)^2/(b+c)
    on those discordant counts only."""
    r = QUERIES["q_mcnemar_test"](spark, SF0001).collect()[0]
    assert r.n_docs > 0
    assert r.n_a_only >= 0 and r.n_b_only >= 0
    if r.n_a_only + r.n_b_only > 0:
        expect = (r.n_a_only - r.n_b_only) ** 2 / (r.n_a_only + r.n_b_only)
        assert abs(r.mcnemar_chi2 - round(expect, 6)) < 2e-6


# ---------------------------------------------------------------------------
# burstiness


def test_burstiness_negative_for_clockwork_stream(spark, tmp_path):
    """A perfectly periodic stream has sd = 0 -> B = (0-mu)/(0+mu) = -1;
    a bursty stream (tiny gaps + one huge gap) pushes B toward +1."""
    rows = []
    for i in range(20):  # clockwork: every hour exactly
        rows.append((i, _T0 + dt.timedelta(hours=i), 1, "view", 1.0, "{}"))
    # bursty: 10 events 1s apart, then 10 days of silence, 10 more
    for i in range(10):
        rows.append((100 + i, _T0 + dt.timedelta(seconds=i), 2, "click",
                     1.0, "{}"))
        rows.append((200 + i, _T0 + dt.timedelta(days=10, seconds=i), 2,
                     "click", 1.0, "{}"))
    _write(spark, tmp_path, rows, _EVENT_SCHEMA, "events")
    b = {r.event_type: r for r in
         QUERIES["q_burstiness"](spark, str(tmp_path)).collect()}
    assert b["view"].n_gaps == 19
    assert b["view"].sd_gap_us == 0.0
    assert b["view"].burstiness == -1.0
    assert b["click"].burstiness > 0.5


# ---------------------------------------------------------------------------
# weighted median


def test_weighted_median_respects_weights(spark, tmp_path):
    """Price 10 carries 9x the weight of price 1000 -> the weighted
    median is 10 even though the unweighted median of values is 505."""
    rows = [
        (1, 1, 1, 1, 9.0, 10.0, 0.0, 0.0, "A"),
        (1, 2, 1, 2, 1.0, 1000.0, 0.0, 0.0, "A"),
        (2, 1, 1, 1, 1.0, 50.0, 0.0, 0.0, "R"),
    ]
    _write(spark, tmp_path, rows,
           "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
           "l_quantity double, l_extendedprice double, l_discount double, "
           "l_tax double, l_returnflag string",
           "lineitem")
    out = {r.l_returnflag: r for r in
           QUERIES["q_weighted_median"](spark, str(tmp_path)).collect()}
    assert out["A"].total_weight == 10
    assert out["A"].weighted_median == 10.0
    assert out["R"].weighted_median == 50.0


# ---------------------------------------------------------------------------
# Hill tail index


def test_hill_alpha_recovers_pareto_exponent(spark, tmp_path):
    """Exact Pareto(alpha=2) order statistics: x_(i) = (n/i)^(1/2).
    The Hill estimator over the top 100 must land near 2."""
    n = 2000
    rows = [(i, i, "O", float((n / i) ** 0.5), _T0, "1") for i in range(1, n + 1)]
    _write(spark, tmp_path, rows, _ORDER_SCHEMA, "orders")
    r = QUERIES["q_hill_tail"](spark, str(tmp_path)).collect()[0]
    assert r.k_order_stats == 100
    assert 1.7 < r.hill_alpha < 2.3
    assert abs(r.mean_log_excess - 1.0 / r.hill_alpha) < 1e-4


def test_hill_on_testdata_positive(spark):
    r = QUERIES["q_hill_tail"](spark, SF0001).collect()[0]
    assert r.k_order_stats == 100
    assert r.hill_alpha > 0


# ---------------------------------------------------------------------------
# Simpson's paradox


def test_simpson_flags_planted_reversal(spark, tmp_path):
    """Two strata with NEGATIVE within-group slopes whose group means
    are arranged so the pooled slope is positive -> reversal flag."""
    rows = []
    k = 0
    # stratum A: x in [0,4], y = 10 - x (slope -1, low x, low y)
    for i in range(5):
        rows.append((k, 1, 1, 1, float(i), 10.0 - i, 0.0, 0.0, "A")); k += 1
    # stratum R: x in [20,24], y = 100 - (x-20) (slope -1, high x, high y)
    for i in range(5):
        rows.append((k, 1, 1, 1, 20.0 + i, 100.0 - i, 0.0, 0.0, "R")); k += 1
    _write(spark, tmp_path, rows,
           "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
           "l_quantity double, l_extendedprice double, l_discount double, "
           "l_tax double, l_returnflag string",
           "lineitem")
    r = QUERIES["q_simpson_paradox"](spark, str(tmp_path)).collect()[0]
    assert r.n_groups == 2
    assert r.max_group_slope == -1.0 and r.min_group_slope == -1.0
    assert r.overall_slope > 0
    assert r.sign_reversal == 1


def test_simpson_no_flag_when_consistent(spark, tmp_path):
    rows = []
    k = 0
    for g in ["A", "R"]:
        for i in range(5):
            rows.append((k, 1, 1, 1, float(i), 2.0 * i + (5.0 if g == "R" else 0.0),
                         0.0, 0.0, g)); k += 1
    _write(spark, tmp_path, rows,
           "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
           "l_quantity double, l_extendedprice double, l_discount double, "
           "l_tax double, l_returnflag string",
           "lineitem")
    r = QUERIES["q_simpson_paradox"](spark, str(tmp_path)).collect()[0]
    assert r.sign_reversal == 0
