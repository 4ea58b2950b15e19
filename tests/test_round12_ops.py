"""Round-12 operator tests: planted-data semantics pins for the
session-quality census and the pcap per-flow feature table.

Oracle parity is the driver's job (tools/check_oracle.py replays it);
these pin what the operators MEAN — hand-traced sessions with known
bounce/depth/dwell distributions, the (ts, event_id) entry tie-break,
hand-computed golden-capture flow timing, and cross-op consistency
with q_sessionize / q_pcap_flows.
"""

from __future__ import annotations

from datetime import datetime, timedelta

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402
import pytest
from tests.conftest import SF0001, _events_lake  # noqa: E402

# ---------------------------------------------------------------------------
# q_session_quality


@pytest.mark.slow  # >=5s
def test_session_quality_hand_traced(spark, tmp_path):
    """3 planted sessions: user 1 has a 3-event 'view' session (20 s
    dwell) and, 2 h later, a 1-event 'error' bounce; user 2 has a
    1-event 'view' bounce. Every census column is hand-computed."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + timedelta(seconds=10), 1, "click", 1.0, "{}"),
        (2, t0 + timedelta(seconds=20), 1, "click", 1.0, "{}"),
        (3, t0 + timedelta(hours=2), 1, "error", 1.0, "{}"),
        (4, t0, 2, "view", 1.0, "{}"),
    ]
    d = _events_lake(spark, tmp_path, rows)
    out = {r.entry_type: r for r in QUERIES["q_session_quality"](spark, d).collect()}
    assert set(out) == {"view", "error"}

    v = out["view"]
    assert (v.n_sessions, v.n_bounce, v.bounce_rate) == (2, 1, 0.5)
    assert (v.mean_depth, v.max_depth) == (2.0, 3)
    # depths {1, 3}: p50 rank = ceil(0.5*2) = 1 -> 1; p90 rank = ceil(1.8) = 2 -> 3
    assert (v.p50_depth, v.p90_depth) == (1, 3)
    # dwell seconds {0, 20}: mean 10, p50 -> 0, p90 -> 20
    assert (v.mean_dwell_s, v.p50_dwell_s, v.p90_dwell_s) == (10.0, 0, 20)

    e = out["error"]
    assert (e.n_sessions, e.n_bounce, e.bounce_rate) == (1, 1, 1.0)
    assert (e.mean_depth, e.max_depth, e.p50_depth, e.p90_depth) == (1.0, 1, 1, 1)
    assert (e.mean_dwell_s, e.p50_dwell_s, e.p90_dwell_s) == (0.0, 0, 0)


@pytest.mark.slow  # >=5s
def test_session_quality_entry_tiebreak_on_event_id(spark, tmp_path):
    """Two events share the session's first timestamp: the entry type
    must come from the LOWER event_id (the shared q_sessionize
    (ts, event_id) ordering), not from name order or arrival order."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (10, t0, 1, "b_type", 1.0, "{}"),  # higher id, alphabetically later
        (9, t0, 1, "a_type", 1.0, "{}"),   # lower id wins the tie
        (11, t0 + timedelta(seconds=5), 1, "b_type", 1.0, "{}"),
    ]
    d = _events_lake(spark, tmp_path, rows)
    out = QUERIES["q_session_quality"](spark, d).collect()
    assert len(out) == 1
    assert out[0].entry_type == "a_type"
    assert out[0].n_sessions == 1 and out[0].max_depth == 3


@pytest.mark.slow  # >=5s
def test_session_quality_gap_boundary(spark, tmp_path):
    """Exactly 30 min between events continues the session (<= gap);
    one microsecond more starts a new one — the same boundary rule as
    q_sessionize's oracle."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + timedelta(minutes=30), 1, "click", 1.0, "{}"),  # same session
        (2, t0 + timedelta(minutes=60, microseconds=1), 1, "view", 1.0, "{}"),  # new
    ]
    d = _events_lake(spark, tmp_path, rows)
    out = {r.entry_type: r for r in QUERIES["q_session_quality"](spark, d).collect()}
    assert out["view"].n_sessions == 2  # the 2-event session + the new bounce
    assert out["view"].max_depth == 2
    assert out["view"].n_bounce == 1


def test_session_quality_consistent_with_sessionize(spark):
    """The census is q_sessionize aggregated by entry type: total
    sessions, total events (via mean_depth), and bounce counts must
    re-sum to the q_sessionize frame on real testdata."""
    sess = QUERIES["q_sessionize"](spark, SF0001).collect()
    census = QUERIES["q_session_quality"](spark, SF0001).collect()
    assert sum(r.n_sessions for r in census) == len(sess)
    assert sum(r.n_bounce for r in census) == sum(1 for s in sess if s.n_events == 1)
    total_events = sum(s.n_events for s in sess)
    approx = sum(r.mean_depth * r.n_sessions for r in census)
    assert abs(approx - total_events) < 1e-3 * len(sess) + 1e-6
    # global max depth must appear in exactly the census max
    assert max(r.max_depth for r in census) == max(s.n_events for s in sess)


# ---------------------------------------------------------------------------
# q_pcap_flow_stats


def _flow_rows(spark):
    rows = QUERIES["q_pcap_flow_stats"](spark, SF0001).collect()
    return {
        (r.src_ip, r.dst_ip, r.protocol, r.src_port, r.dst_port): r for r in rows
    }


def test_pcap_flow_stats_golden_udp_flow(spark):
    """The 10.0.0.1:1234 -> 10.0.0.2:5678 UDP flow, hand-computed from
    the golden fixture: 5 packets of lens 50/66/66/70/82; 3 carry
    Metamako timestamps 1699999995777777777 / 1699999997111111111 /
    1699999998500000123 ns -> gaps 1333333334 and 1388889012."""
    r = _flow_rows(spark)[("10.0.0.1", "10.0.0.2", "UDP", 1234, 5678)]
    assert (r.n_packets, r.n_bytes) == (5, 334)
    assert (r.min_len, r.max_len, r.mean_len) == (50, 82, 66.8)
    assert r.n_timed == 3
    assert r.duration_ns == 2722222346
    assert r.mean_iat_ns == 2722222346 // 2 == 1361111173
    assert r.min_iat_ns == 1333333334
    assert r.max_iat_ns == 1388889012


def test_pcap_flow_stats_catchall_and_untimed_flows(spark):
    """Undecodable frames aggregate into the NULL-tuple catch-all flow
    (10 + 42 byte frames) with NULL timing; single-packet flows have
    zero-length or NULL timing features, never crash."""
    flows = _flow_rows(spark)
    catchall = flows[(None, None, None, None, None)]
    assert (catchall.n_packets, catchall.n_bytes) == (2, 52)
    assert catchall.n_timed == 0
    assert catchall.duration_ns is None
    assert catchall.mean_iat_ns is None and catchall.min_iat_ns is None

    tcp = flows[("192.168.1.10", "192.168.1.20", "TCP", 80, 443)]
    assert (tcp.n_packets, tcp.n_timed) == (1, 0)
    assert tcp.mean_iat_ns is None


def test_pcap_flow_stats_consistent_with_pcap_flows(spark):
    """Same 5-tuple keys, same n_packets / n_bytes as the q_pcap_flows
    rollup — the feature table strictly extends it."""
    base = {
        (r.src_ip, r.dst_ip, r.protocol, r.src_port, r.dst_port): r
        for r in QUERIES["q_pcap_flows"](spark, SF0001).collect()
    }
    stats = _flow_rows(spark)
    assert set(base) == set(stats)
    for k, b in base.items():
        assert (stats[k].n_packets, stats[k].n_bytes) == (b.n_packets, b.n_bytes), k


# ---------------------------------------------------------------------------
# q_session_transitions


@pytest.mark.slow  # >=5s
def test_session_transitions_hand_traced(spark, tmp_path):
    """One session view->click->click: transitions view->click,
    click->click, click->END, each count 1; from 'click' the next step
    is a fair coin (click or END) -> entropy exactly 1.0 bit; from
    'view' it is deterministic -> 0.0 bits."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + timedelta(seconds=10), 1, "click", 1.0, "{}"),
        (2, t0 + timedelta(seconds=20), 1, "click", 1.0, "{}"),
    ]
    d = _events_lake(spark, tmp_path, rows)
    out = {(r.from_type, r.to_type): r for r in
           QUERIES["q_session_transitions"](spark, d).collect()}
    assert set(out) == {("view", "click"), ("click", "click"), ("click", "END")}
    assert out[("view", "click")].n_transitions == 1
    assert out[("view", "click")].p_next == 1.0
    assert out[("view", "click")].next_entropy_bits == 0.0
    assert out[("click", "END")].n_from == 2
    assert out[("click", "END")].p_next == 0.5
    assert out[("click", "END")].next_entropy_bits == 1.0  # fair coin


@pytest.mark.slow  # >=5s
def test_session_transitions_sessions_do_not_leak(spark, tmp_path):
    """The last event of session 1 must transition to END, never to
    the first event of session 2 (2 h later) — the gap rule and the
    transition extraction share one session definition."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + timedelta(hours=2), 1, "purchase", 1.0, "{}"),
    ]
    d = _events_lake(spark, tmp_path, rows)
    out = {(r.from_type, r.to_type) for r in
           QUERIES["q_session_transitions"](spark, d).collect()}
    assert out == {("view", "END"), ("purchase", "END")}


def test_session_transitions_resum_to_sessionize(spark):
    """Conservation contracts on real testdata: every event emits
    exactly one outgoing transition (sum == event count) and every
    session terminates exactly once (END column == session count)."""
    tr = QUERIES["q_session_transitions"](spark, SF0001).collect()
    sess = QUERIES["q_sessionize"](spark, SF0001).collect()
    assert sum(r.n_transitions for r in tr) == sum(s.n_events for s in sess)
    assert sum(r.n_transitions for r in tr if r.to_type == "END") == len(sess)
    # per-from probabilities are a distribution
    from collections import defaultdict
    by_from = defaultdict(float)
    for r in tr:
        by_from[r.from_type] += r.p_next
    for f, tot in by_from.items():
        assert abs(tot - 1.0) < 1e-4, (f, tot)


# ---------------------------------------------------------------------------
# q_stream_session_quality


@pytest.mark.slow  # >=5s
def test_stream_session_quality_emits_only_closed_sessions(spark, tmp_path):
    """Two early sessions close well before the watermark horizon and
    are censused; the horizon-holder session (whose end = last + gap
    is past max(ts) - 10 min) is withheld — the emission contract the
    oracle's clip states."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + timedelta(seconds=10), 1, "click", 1.0, "{}"),
        (2, t0 + timedelta(seconds=20), 1, "click", 1.0, "{}"),
        (3, t0, 2, "error", 1.0, "{}"),
        # horizon holder: its own session stays OPEN (end > wm)
        (4, t0 + timedelta(hours=3), 3, "purchase", 1.0, "{}"),
    ]
    d = _events_lake(spark, tmp_path, rows, single_file=True)
    out = {r.entry_type: r for r in
           QUERIES["q_stream_session_quality"](spark, d).collect()}
    assert set(out) == {"view", "error"}  # purchase withheld
    v = out["view"]
    assert (v.n_sessions, v.n_bounce, v.max_depth) == (1, 0, 3)
    assert (v.p50_dwell_s, v.p90_dwell_s) == (20, 20)
    e = out["error"]
    assert (e.n_sessions, e.n_bounce, e.bounce_rate) == (1, 1, 1.0)


@pytest.mark.slow  # >=5s
def test_stream_session_quality_matches_batch_when_all_closed(spark, tmp_path):
    """With every session closed before the horizon and no event pair
    at the exact 30-min boundary (where the batch <= and native <
    conventions differ), the streaming census must equal the batch
    census row for row — same serving code, same numbers."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [
        (0, t0, 1, "view", 1.0, "{}"),
        (1, t0 + timedelta(seconds=10), 1, "click", 1.0, "{}"),
        (2, t0 + timedelta(hours=2), 1, "error", 1.0, "{}"),
        (3, t0, 2, "view", 1.0, "{}"),
        # closer event so the watermark passes every session's end
        (4, t0 + timedelta(hours=6), 9, "view", 1.0, "{}"),
    ]
    d = _events_lake(spark, tmp_path, rows, single_file=True)
    batch = {r.entry_type: r.asDict() for r in
             QUERIES["q_session_quality"](spark, d).collect()}
    stream = {r.entry_type: r.asDict() for r in
              QUERIES["q_stream_session_quality"](spark, d).collect()}
    # the closer's own session is open at the horizon -> withheld from
    # the stream; drop it from the batch side before comparing
    batch["view"]["n_sessions"] -= 1
    batch["view"]["n_bounce"] -= 1
    for k in ("mean_depth", "bounce_rate", "mean_dwell_s",
              "p50_depth", "p90_depth", "p50_dwell_s", "p90_dwell_s"):
        batch["view"].pop(k); stream["view"].pop(k)  # depend on the dropped row
    batch["view"].pop("max_depth"); stream["view"].pop("max_depth")
    assert stream["view"] == batch["view"]
    assert stream["error"] == batch["error"]


# ---------------------------------------------------------------------------
# q_fulfillment_latency


def _oli_lake(spark, path, orders, lineitems):
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(path / "orders.parquet"))
    spark.createDataFrame(
        lineitems,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp",
    ).write.mode("overwrite").parquet(str(path / "lineitem.parquet"))
    return str(path)


def test_fulfillment_latency_hand_traced(spark, tmp_path):
    """Priority '1-URGENT': latencies {10, 100, 100} days -> n_late 2
    (SLA 90), mean 70, p50 = 100 (rank ceil(1.5)=2), p90 = 100;
    priority '2-HIGH': one item shipped 5 days BEFORE the order date
    (latency -5 — the census must not clamp)."""
    t = datetime(2026, 1, 1)
    orders = [
        (1, 1, "O", 1.0, t, "1-URGENT"),
        (2, 1, "O", 1.0, t, "1-URGENT"),
        (3, 1, "O", 1.0, t, "2-HIGH"),
    ]
    li = [
        (1, 1, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t + timedelta(days=10)),
        (1, 2, 1, 2, 1.0, 1.0, 0.0, 0.0, "N", "O", t + timedelta(days=100)),
        (2, 3, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t + timedelta(days=100)),
        (3, 4, 1, 1, 1.0, 1.0, 0.0, 0.0, "N", "O", t - timedelta(days=5)),
    ]
    d = _oli_lake(spark, tmp_path, orders, li)
    out = {r.priority: r for r in
           QUERIES["q_fulfillment_latency"](spark, d).collect()}
    u = out["1-URGENT"]
    assert (u.n_items, u.n_late) == (3, 2)
    assert u.late_share == round(2 / 3, 6)
    assert u.mean_latency_days == 70.0
    assert (u.min_latency_days, u.max_latency_days) == (10, 100)
    assert (u.p50_latency_days, u.p90_latency_days) == (100, 100)
    h = out["2-HIGH"]
    assert (h.n_items, h.n_late, h.min_latency_days) == (1, 0, -5)
    assert h.mean_latency_days == -5.0


def test_fulfillment_latency_counts_every_lineitem(spark):
    """Referential integrity holds on testdata (q_referential_integrity
    pins it), so the inner join drops nothing: census n_items re-sums
    to the lineitem row count, and per-priority item counts match a
    direct lineitem⋈orders count."""
    from pcap_to_parquet_spark.sources import load_table

    out = QUERIES["q_fulfillment_latency"](spark, SF0001).collect()
    n_li = load_table(spark, SF0001, "lineitem").count()
    assert sum(r.n_items for r in out) == n_li
    for r in out:
        assert r.min_latency_days <= r.p50_latency_days <= r.p90_latency_days
        assert r.p90_latency_days <= r.max_latency_days
        assert 0.0 <= r.late_share <= 1.0


# ---------------------------------------------------------------------------
# q_repeat_cadence


def _cadence_lake(spark, path, orders, customers):
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(path / "orders.parquet"))
    spark.createDataFrame(
        customers,
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string",
    ).write.mode("overwrite").parquet(str(path / "customer.parquet"))
    spark.createDataFrame(
        [(0, "ALPHA", 0), (1, "BETA", 0)],
        "n_nationkey int, n_name string, n_regionkey int",
    ).write.mode("overwrite").parquet(str(path / "nation.parquet"))
    return str(path)


def test_repeat_cadence_hand_traced(spark, tmp_path):
    """ALPHA: cust 1 orders on days 0/10/40 (gaps 10, 30), cust 2 one
    order (no repeat). BETA: cust 3 orders on day 0 twice (gap 0 — a
    same-day reorder, not dropped). Every census column hand-checked."""
    t = datetime(2026, 1, 1)
    orders = [
        (1, 1, "O", 1.0, t, "1-URGENT"),
        (2, 1, "O", 1.0, t + timedelta(days=10), "1-URGENT"),
        (3, 1, "O", 1.0, t + timedelta(days=40), "1-URGENT"),
        (4, 2, "O", 1.0, t, "1-URGENT"),
        (5, 3, "O", 1.0, t, "1-URGENT"),
        (6, 3, "O", 1.0, t, "1-URGENT"),
    ]
    customers = [
        (1, "a", 0, 0.0, "BUILDING"),
        (2, "b", 0, 0.0, "BUILDING"),
        (3, "c", 1, 0.0, "BUILDING"),
    ]
    d = _cadence_lake(spark, tmp_path, orders, customers)
    out = {r.nation: r for r in QUERIES["q_repeat_cadence"](spark, d).collect()}
    a = out["ALPHA"]
    assert (a.n_customers, a.n_repeat, a.repeat_rate) == (2, 1, 0.5)
    assert (a.n_gaps, a.mean_gap_days) == (2, 20.0)
    assert (a.min_gap_days, a.max_gap_days) == (10, 30)
    # gaps {10, 30}: p50 rank ceil(1) -> 10; p90 rank ceil(1.8) -> 30
    assert (a.p50_gap_days, a.p90_gap_days) == (10, 30)
    b = out["BETA"]
    assert (b.n_customers, b.n_repeat, b.repeat_rate) == (1, 1, 1.0)
    assert (b.n_gaps, b.min_gap_days, b.max_gap_days) == (1, 0, 0)


def test_repeat_cadence_no_repeat_nation_keeps_nulls(spark, tmp_path):
    """A nation whose only customer never reorders still appears in the
    census: n_gaps 0 and NULL gap features — the LEFT-join contract."""
    t = datetime(2026, 1, 1)
    orders = [(1, 1, "O", 1.0, t, "1-URGENT")]
    customers = [(1, "a", 1, 0.0, "BUILDING")]
    d = _cadence_lake(spark, tmp_path, orders, customers)
    out = QUERIES["q_repeat_cadence"](spark, d).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.nation, r.n_customers, r.n_repeat, r.repeat_rate) == ("BETA", 1, 0, 0.0)
    assert r.n_gaps == 0
    assert r.mean_gap_days is None and r.p90_gap_days is None


def test_repeat_cadence_conservation(spark):
    """On real testdata: customers re-sum to the distinct ordering
    customers, and gaps re-sum to orders minus customers (each
    customer's first order emits no gap)."""
    from pcap_to_parquet_spark.sources import load_table

    out = QUERIES["q_repeat_cadence"](spark, SF0001).collect()
    o = load_table(spark, SF0001, "orders")
    n_orders = o.count()
    n_cust = o.select("o_custkey").distinct().count()
    assert sum(r.n_customers for r in out) == n_cust
    assert sum(r.n_gaps for r in out) == n_orders - n_cust
    for r in out:
        if r.n_gaps:
            assert r.min_gap_days <= r.p50_gap_days <= r.p90_gap_days <= r.max_gap_days


# ---------------------------------------------------------------------------
# q_skew_planner


@pytest.mark.slow  # >=5s
def test_skew_planner_hand_traced(spark, tmp_path):
    """Planted events: user 1 has 89 rows, users 2..12 one each (100
    rows, 12 keys, mean 8.33): user 1 is hot (89*12 = 1068 > 10*100),
    so n_hot 1, hot_share 0.89, max share 0.89; event_type is uniform
    'view' (one key holding everything -> 100*1 > 10*100 is FALSE: a
    single-key table is concentration, not salt-able skew — the
    integer test gets this right, and so does the <= 11-key algebra:
    with n_keys <= 10 no key can ever top 10x the mean)."""
    t0 = datetime(2026, 1, 1, 12, 0, 0)
    rows = [(i, t0, 1 if i < 89 else i - 87, "view", 1.0, "{}") for i in range(100)]
    _events_lake(spark, tmp_path, rows)
    # the other audited tables must exist (empty is fine)
    for name, schema in (
        ("lineitem", "l_orderkey long, l_partkey long, l_suppkey long"),
        ("orders", "o_custkey long"),
        ("documents", "doc_id long, lang string"),
    ):
        spark.createDataFrame([], schema).write.mode("overwrite").parquet(
            str(tmp_path / f"{name}.parquet")
        )
    out = {(r.table_name, r.key_name): r for r in
           QUERIES["q_skew_planner"](spark, str(tmp_path)).collect()}
    u = out[("events", "user_id")]
    assert (u.n_rows, u.n_keys, u.max_rows_per_key) == (100, 12, 89)
    assert u.avg_rows_per_key == round(100 / 12, 6)
    assert (u.max_key_share, u.n_hot_keys, u.hot_share) == (0.89, 1, 0.89)
    e = out[("events", "event_type")]
    assert (e.n_rows, e.n_keys, e.n_hot_keys) == (100, 1, 0)
    assert e.max_key_share == 1.0
    li = out[("lineitem", "l_orderkey")]
    assert (li.n_rows, li.n_keys, li.n_hot_keys) == (0, 0, 0)
    assert li.avg_rows_per_key is None and li.hot_share is None


def test_skew_planner_conservation(spark):
    """On real testdata: n_rows re-sums to the table row counts and
    max <= n_rows; hot mass is a subset of the rows."""
    from pcap_to_parquet_spark.sources import load_table

    out = QUERIES["q_skew_planner"](spark, SF0001).collect()
    counts = {t: load_table(spark, SF0001, t).count()
              for t in {"lineitem", "orders", "events", "documents"}}
    for r in out:
        assert r.n_rows == counts[r.table_name], (r.table_name, r.key_name)
        assert r.max_rows_per_key <= r.n_rows
        assert 0.0 <= r.hot_share <= 1.0
        assert r.n_hot_keys <= r.n_keys


# ---------------------------------------------------------------------------
# round-12 ADVICE hardening pins


def test_lsh_planner_sum_is_partition_order_insensitive(spark):
    """exp_candidates is floor-quantized to an 8dp integer grid before
    the SUM, so the reduction is exact integer
    arithmetic: changing the shuffle partitioning must reproduce every
    value bit-for-bit. A raw double SUM would drift in the last ulp
    with accumulation order and could flip the 4dp rounding."""
    old = spark.conf.get("spark.sql.shuffle.partitions")
    base = {r.rows_per_band: r.exp_candidates
            for r in QUERIES["q_lsh_planner"](spark, SF0001).collect()}
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        alt = {r.rows_per_band: r.exp_candidates
               for r in QUERIES["q_lsh_planner"](spark, SF0001).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert base == alt
    assert len(base) == 5
