"""Round-14 operator tests.

Covers (per the round-13 verdict's next-round items):
- ipv6 composes with the chunked reader: chunked == per-file on the
  v6 golden fixture at EVERY chunk boundary, default stays parity;
- (later this round) watermark-evicted streaming biflow, B>1
  winnowing bands, dual-stack biflow fixture, member-level winnowing
  expansion.
"""

from __future__ import annotations

import pytest  # noqa: E402

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402
from pcap_to_parquet_spark.sources.pcap import decode_pcap_bytes, read_pcap  # noqa: E402
from pcap_to_parquet_spark.sources.pcap_chunked import read_pcap_chunked  # noqa: E402
from pcap_to_parquet_spark.sources.pcap_fixtures import (  # noqa: E402
    v6_golden_pcap_bytes,
)
from tests.conftest import SF0001, _closed_flows_land, _docs_lake  # noqa: E402
from tests.test_pcap_chunked import chunked_rows  # noqa: E402


def test_chunked_v6_every_boundary(tmp_path):
    """Every chunk size over the v6 golden file, both modes: resync is
    L2-agnostic, so v6 frames must survive arbitrary boundaries just
    like v4 ones — and default mode must stay reference parity."""
    buf = v6_golden_pcap_bytes()
    p = tmp_path / "v6.pcap"
    p.write_bytes(buf)
    for mode in (True, False):
        want = decode_pcap_bytes(buf, mode)
        for chunk_bytes in range(16, len(buf) + 16, 16):
            got = chunked_rows(str(p), chunk_bytes, mode)
            assert got == want, f"chunk={chunk_bytes} ipv6={mode}"


def test_closed_flows_state_eviction(spark, tmp_path):
    """The state pin the complete-mode twin can't give: after the
    no-data flush batch, closed flows are EVICTED from the store
    (numRowsRemoved == emitted rows; live state shrinks to open flows
    only) — bounded state on a continuous feed, not per-key history."""
    from pcap_to_parquet_spark.operators.pcap_query import closed_flows_plan
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory_flushed

    result, progress = run_to_memory_flushed(
        closed_flows_plan(spark, _closed_flows_land(spark, tmp_path))
    )
    rows = result.collect()
    assert len(rows) == 3
    flush = [p for p in progress if p["numInputRows"] == 0 and p["stateOperators"]]
    assert flush, "no-data flush batch must appear in progress"
    st = flush[0]["stateOperators"][0]
    assert st["numRowsRemoved"] == 3          # closed flows left the store
    assert st["numRowsTotal"] == 7 - 3        # only open flows remain live
    # the earliest-stamped closed flows are the v6 conversation
    assert {r["src_ip"] for r in rows} == {
        "2001:db8::a1", "2001:db8::b1", "192.168.1.2"
    }


def test_closed_flows_equal_batch_on_closed(spark, tmp_path):
    """Emitted closed flows must equal the BATCH flow table rows for
    the same 5-tuples (n_packets / n_bytes / first_ts) — the
    watermark path changes WHEN a flow emits, never WHAT it says."""
    from pcap_to_parquet_spark.operators.pcap_query import (
        _biflow_fixture_path,
        _flows_frame,
        closed_flows_plan,
    )
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory_flushed

    result, _ = run_to_memory_flushed(
        closed_flows_plan(spark, _closed_flows_land(spark, tmp_path))
    )
    key = ("src_ip", "dst_ip", "protocol", "src_port", "dst_port")
    live = {tuple(r[k] for k in key): r for r in result.collect()}
    batch = {
        tuple(r[k] for k in key): r
        for r in _flows_frame(
            read_pcap(spark, _biflow_fixture_path(), ipv6=True).filter(
                "mm_ts IS NOT NULL"
            )
        ).collect()
    }
    assert set(live) <= set(batch)
    for k, r in live.items():
        b = batch[k]
        assert (r["n_packets"], r["n_bytes"], r["first_ts"]) == (
            b["n_packets"], b["n_bytes"], b["first_ts"]
        )


def test_band_members_expands_groups(spark, tmp_path):
    """q_winnowing_band_members turns rep-level band pairs into
    document pairs: the near-dup pair expands across the duplicated
    group (same exact n_shared for every member pair), and the
    identical-text pair appears as a within-group pair whose n_shared
    is the group's own print count."""
    base = " ".join(f"w{i}" for i in range(14))
    near = " ".join(("Y" if i == 0 else f"w{i}") for i in range(14))
    d = _docs_lake(
        spark,
        tmp_path,
        [
            (0, base, "en", "s", len(base)),
            (1, near, "en", "s", len(near)),
            (7, base, "en", "s", len(base)),  # exact dup of 0 -> same group
        ],
    )
    band = {(r.doc_a, r.doc_b): r.n_shared for r in
            QUERIES["q_winnowing_band"](spark, d).collect()}
    mem = {(r.doc_a, r.doc_b): r.n_shared for r in
           QUERIES["q_winnowing_band_members"](spark, d).collect()}
    assert (0, 1) in band and (0, 7) not in band  # rep-level by design
    # cross-group pairs expand through the dup with the same count
    assert mem[(0, 1)] == band[(0, 1)]
    assert mem[(1, 7)] == band[(0, 1)]
    # the identical pair is a within-group class (its own print count)
    assert (0, 7) in mem and mem[(0, 7)] >= mem[(0, 1)]


def test_band_members_equals_exact_when_recall_full(spark, tmp_path):
    """Cross-op consistency: on near-dup families where the min print
    is shared (band recall 1.0 — the curve test's corpus shape),
    member-level band expansion returns EXACTLY q_winnowing's top-20:
    same pairs, same counts."""
    rows = []
    for fam in range(5):
        base = " ".join(f"w{fam}_{j}" for j in range(15))
        rows.append((3 * fam, base + " tailA", "en", "s", 1))
        rows.append((3 * fam + 1, base + " tailB", "en", "s", 1))
        rows.append((3 * fam + 2, base + " tailA", "en", "s", 1))  # dup of first
    d = _docs_lake(spark, tmp_path, rows)
    mem = sorted(
        (r.doc_a, r.doc_b, r.n_shared)
        for r in QUERIES["q_winnowing_band_members"](spark, d).collect()
    )
    exact = sorted(
        (r.doc_a, r.doc_b, r.n_shared)
        for r in QUERIES["q_winnowing"](spark, d).collect()
    )
    assert mem == exact


def test_band_clusters_families(spark, tmp_path):
    """Planted families: exact dups + near-dups form ONE cluster under
    the component-min label; disjoint docs stay singletons; sub-floor
    (<3 tokens) docs keep their own id."""
    base = " ".join(f"w{i}" for i in range(20))
    near = " ".join(("CHANGED" if i == 10 else f"w{i}") for i in range(20))
    other = " ".join(f"z{i}" for i in range(20))
    d = _docs_lake(
        spark,
        tmp_path,
        [
            (3, base, "en", "s", 1),
            (5, near, "en", "s", 1),          # near-dup of 3 -> same cluster
            (9, base, "en", "s", 1),          # exact dup of 3 -> same cluster
            (11, other, "en", "s", 1),        # disjoint -> singleton
            (12, "tiny doc", "en", "s", 1),   # under the 3-token floor
        ],
    )
    lab = {r.doc_id: r.cluster_id for r in
           QUERIES["q_winnowing_band_clusters"](spark, d).collect()}
    assert lab == {3: 3, 5: 3, 9: 3, 11: 11, 12: 12}


def test_band_clusters_consistent_with_members(spark, tmp_path):
    """Cross-op consistency: every document pair the member-level band
    op reports with n_shared >= the cluster edge threshold must land
    in the same cluster."""
    from pcap_to_parquet_spark.operators.llm import _WINNOW_CLUSTER_TAU

    rows = []
    for fam in range(4):
        base = " ".join(f"w{fam}_{j}" for j in range(15))
        rows.append((2 * fam, base + " tailA", "en", "s", 1))
        rows.append((2 * fam + 1, base + " tailB", "en", "s", 1))
    d = _docs_lake(spark, tmp_path, rows)
    lab = {r.doc_id: r.cluster_id for r in
           QUERIES["q_winnowing_band_clusters"](spark, d).collect()}
    for r in QUERIES["q_winnowing_band_members"](spark, d).collect():
        if r.n_shared >= _WINNOW_CLUSTER_TAU:
            assert lab[r.doc_a] == lab[r.doc_b]


def test_flow_timeout_records_hand_traced(spark):
    """NetFlow record splitting on the timeline fixture, hand-traced:
    the 6-packet 3-s-cadence flow splits on the ACTIVE timeout into a
    4-packet and a 2-packet record (island-start-aligned 10 s grid);
    the 19 s silence splits the idle flow into two 2-packet records;
    the single packet is its own record; the untimed frame is
    excluded."""
    t_ns = 1_700_000_000 * 10**9
    s = 10**9
    rows = {
        (r.src_ip, r.record_start): r
        for r in QUERIES["q_pcap_flow_timeout"](spark, SF0001).collect()
    }
    assert len(rows) == 8
    l1 = rows[("10.1.0.1", t_ns - 30 * s)]
    assert (l1.record_end, l1.n_packets, l1.n_bytes) == (t_ns - 21 * s, 4, 264)
    l2 = rows[("10.1.0.1", t_ns - 18 * s)]
    assert (l2.record_end, l2.n_packets) == (t_ns - 15 * s, 2)
    i1 = rows[("10.2.0.1", t_ns - 30 * s)]
    assert (i1.record_end, i1.n_packets) == (t_ns - 29 * s, 2)
    i2 = rows[("10.2.0.1", t_ns - 10 * s)]
    assert (i2.record_end, i2.n_packets) == (t_ns - 9 * s, 2)
    s1 = rows[("10.3.0.1", t_ns - 5 * s)]
    assert (s1.record_end, s1.n_packets, s1.n_bytes) == (t_ns - 5 * s, 1, 66)
    # the rule-divergent flow under the island-aligned GRID: 3 records
    r1 = rows[("10.5.0.1", t_ns - 28 * s)]
    assert (r1.record_end, r1.n_packets) == (t_ns - 19 * s, 2)
    assert rows[("10.5.0.1", t_ns - 10 * s)].n_packets == 1
    assert rows[("10.5.0.1", t_ns - 1 * s)].n_packets == 1
    assert not any(ip == "10.4.0.1" for ip, _ in rows)


def test_flow_timeout_reset_rule_divergence(spark):
    """The reset rule on the same fixture: identical records for the
    long/idle/short flows (their splits land on packet boundaries that
    both rules cut), but the 9 s-cadence flow gets 2 records instead
    of the grid's 3 — the exporter-rule divergence both ops document,
    made concrete on one fixture."""
    t_ns = 1_700_000_000 * 10**9
    s = 10**9
    grid = {(r.src_ip, r.record_start, r.record_end, r.n_packets)
            for r in QUERIES["q_pcap_flow_timeout"](spark, SF0001).collect()}
    reset = {(r.src_ip, r.record_start, r.record_end, r.n_packets)
             for r in QUERIES["q_pcap_flow_timeout_reset"](spark, SF0001).collect()}
    same = {x for x in grid if not x[0].startswith("10.5.")}
    assert same == {x for x in reset if not x[0].startswith("10.5.")}
    assert {x for x in reset if x[0].startswith("10.5.")} == {
        ("10.5.0.1", t_ns - 28 * s, t_ns - 19 * s, 2),
        ("10.5.0.1", t_ns - 10 * s, t_ns - 1 * s, 2),
    }


def test_stream_flow_records_eviction_and_contents(spark, tmp_path):
    """The elephant-flow state bound: the global active grid forces
    the long-lived flow's first interval to emit and EVICT while the
    flow is still active (the session-window-only shape would hold one
    growing row forever). Hand-traced: the 4-packet epoch-A record of
    the long flow and the first idle island both emit; everything
    within the watermark horizon stays in state."""
    from pcap_to_parquet_spark.operators.pcap_query import (
        _flow_timeline_path,
        _stage_capture,
        stream_flow_records_plan,
    )
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory_flushed

    register_pcap_source(spark)
    land = _stage_capture(_flow_timeline_path(), str(tmp_path), "timeline.pcap")
    result, progress = run_to_memory_flushed(stream_flow_records_plan(spark, land))
    rows = {(r.src_ip, r.record_start): r for r in result.collect()}
    t_us = 1_700_000_000 * 10**6
    s = 10**6
    # horizon = max stamp (t-1) - 2 s watermark = t-3: five records
    # close at or before it (both long-flow epochs, the first idle
    # island, and the rule flow's first two grid epochs); the second
    # idle island, the short flow, and the rule flow's live epoch
    # stay in state
    assert len(rows) == 5
    long_rec = rows[("10.1.0.1", t_us - 30 * s)]
    assert (long_rec.n_packets, long_rec.n_bytes) == (4, 264)
    assert long_rec.record_close == (t_us - 21 * s) + 10 * s
    assert rows[("10.1.0.1", t_us - 18 * s)].n_packets == 2
    assert rows[("10.2.0.1", t_us - 30 * s)].n_packets == 2
    assert rows[("10.5.0.1", t_us - 28 * s)].n_packets == 1
    assert rows[("10.5.0.1", t_us - 19 * s)].n_packets == 1
    flush = [p for p in progress if p["numInputRows"] == 0 and p["stateOperators"]]
    assert flush and flush[0]["stateOperators"][0]["numRowsRemoved"] == 5


def test_method_agreement_planted(spark, tmp_path):
    """Planted disagreement: identical docs are dup under BOTH methods;
    a one-token-changed pair has 3-gram Jaccard 15/21 ≈ 0.71 (< 0.8 —
    not a Jaccard pair) yet shares its winnowing prints (winnow-only);
    a disjoint doc is neither. The pair-set algebra follows: winnowing
    pairs ⊇ jaccard pairs here, so pair_jaccard = |J|/|W|."""
    base = " ".join(f"w{i}" for i in range(20))
    near = " ".join(("CHANGED" if i == 17 else f"w{i}") for i in range(20))
    twin = " ".join(f"t{i}" for i in range(20))
    d = _docs_lake(
        spark,
        tmp_path,
        [
            (0, twin, "en", "s", 1),
            (1, twin, "en", "s", 1),     # identical pair: dup under both
            (2, base, "en", "s", 1),
            (3, near, "en", "s", 1),     # near pair: winnow-only
            (4, " ".join(f"z{i}" for i in range(20)), "en", "s", 1),  # neither
        ],
    )
    r = QUERIES["q_dedup_method_agreement"](spark, d).collect()[0]
    assert r.n_docs == 5
    assert (r.dup_both, r.dup_jaccard_only, r.dup_winnow_only, r.dup_neither) == (
        2, 0, 2, 1
    )
    assert (r.n_pairs_jaccard, r.n_pairs_winnow, r.n_pairs_both) == (1, 2, 1)
    assert r.pair_jaccard == 0.5


@pytest.mark.slow  # >=5s
def test_band_survivors_keep_longest(spark, tmp_path):
    """Survivor selection under band clusters: the longest member wins
    (doc_id tie-break), absorbed near-dups are counted, singletons are
    excluded — and the survivor set is consistent with the cluster
    labels (one survivor per non-trivial cluster)."""
    base = " ".join(f"w{i}" for i in range(20))
    near = " ".join(("CHANGED" if i == 10 else f"w{i}") for i in range(20))
    longer = base + " extra tokens here"
    d = _docs_lake(
        spark,
        tmp_path,
        [
            (0, base, "en", "s", len(base)),
            (1, near, "en", "s", len(near)),
            (2, longer, "en", "s", len(longer)),   # longest in the family
            (9, " ".join(f"z{i}" for i in range(20)), "en", "s", 20),  # singleton
        ],
    )
    out = {r.cluster_id: r for r in
           QUERIES["q_winnowing_band_survivors"](spark, d).collect()}
    labels = {r.doc_id: r.cluster_id for r in
              QUERIES["q_winnowing_band_clusters"](spark, d).collect()}
    assert labels[0] == labels[1] == labels[2] == 0 and labels[9] == 9
    assert set(out) == {0}
    r = out[0]
    assert (r.survivor_doc, r.n_members, r.n_dropped) == (2, 3, 2)
    assert r.survivor_chars == len(longer)


def test_spark_chunked_v6_equals_per_file(spark, tmp_path):
    """read_pcap_chunked(ipv6=True) row-set == read_pcap(ipv6=True) on
    the v6 fixture (forced small chunks → real resync on executors)."""
    buf = v6_golden_pcap_bytes()
    p = tmp_path / "v6.pcap"
    p.write_bytes(buf)
    key = lambda r: (r["len"], r["src_ip"] or "", r["src_port"] or -1)  # noqa: E731
    chunked = sorted(
        (r.asDict() for r in read_pcap_chunked(
            spark, str(p), chunk_bytes=128, ipv6=True).collect()),
        key=key,
    )
    per_file = sorted(
        (r.asDict() for r in read_pcap(spark, str(p), ipv6=True).collect()),
        key=key,
    )
    assert chunked == per_file
    assert any(r["src_ip"] and ":" in r["src_ip"] for r in chunked)
    # default (no flag): chunked reader keeps byte-identical parity
    parity_chunked = sorted(
        (r.asDict() for r in read_pcap_chunked(spark, str(p), chunk_bytes=128).collect()),
        key=lambda r: r["len"],
    )
    parity_ref = sorted(decode_pcap_bytes(buf), key=lambda r: r["len"])
    assert parity_chunked == parity_ref
