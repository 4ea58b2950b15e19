"""Round-15 operator tests.

Covers (per the round-14 verdict's next-round items):
- the live talkers census twin (q_pcap_stream_talkers): batch-equality
  pin against an independent Spark gaps-and-islands closed set, plus a
  hand trace on the dual-stack biflow fixture;
- (later this round) the three-way dedup method agreement and the
  winnowing-band survivors x filter-attribution composition.
"""

from __future__ import annotations

import pytest  # noqa: E402

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pyspark.sql import Window  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from pcap_to_parquet_spark.sources.pcap import read_pcap  # noqa: E402
from tests.conftest import SF0001, _docs_lake  # noqa: E402


def _batch_closed_flows(spark):
    """The batch statement of the closed-flow emission contract:
    gaps-and-islands per 5-tuple over the timed dual-stack fixture,
    clipped to flows whose (last + gap) precedes the watermark horizon
    — computed with plain window functions, independent of both the
    streaming path and the DuckDB oracle."""
    from pcap_to_parquet_spark.operators.pcap_query import (
        FLOW_GAP_SECONDS,
        FLOW_WATERMARK_SECONDS,
        _biflow_fixture_path,
    )

    gap_us = FLOW_GAP_SECONDS * 1_000_000
    pkts = (
        read_pcap(spark, _biflow_fixture_path(), ipv6=True)
        .filter("mm_ts IS NOT NULL")
        .withColumn("evt_us", F.expr("mm_ts div 1000"))
    )
    key = ["src_ip", "dst_ip", "protocol", "src_port", "dst_port"]
    w = Window.partitionBy(*key).orderBy("evt_us")
    seq = pkts.withColumn(
        "brk",
        F.when(F.col("evt_us") - F.lag("evt_us").over(w) >= gap_us, 1).otherwise(0),
    ).withColumn("sid", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    agg = seq.groupBy(*key, "sid").agg(
        F.count(F.lit(1)).cast("long").alias("n_packets"),
        F.sum("len").cast("long").alias("n_bytes"),
        (F.max("evt_us") + gap_us).alias("flow_end"),
    )
    wm = pkts.agg(
        (F.max("evt_us") - FLOW_WATERMARK_SECONDS * 1_000_000).alias("wm")
    )
    return agg.join(F.broadcast(wm)).where(F.col("flow_end") <= F.col("wm"))


@pytest.mark.slow  # >=5s
def test_stream_talkers_equals_batch_census_on_closed(spark):
    """The live talkers census must equal the shared census kernel run
    over the INDEPENDENT batch statement of the closed set — the
    stream changes when flows emit, never what the census says."""
    from pcap_to_parquet_spark.operators.pcap_query import (
        pcap_stream_talkers,
        talkers_census_from_flows,
    )

    live = {
        r["endpoint_ip"]: r for r in pcap_stream_talkers(spark, SF0001).collect()
    }
    batch = {
        r["endpoint_ip"]: r
        for r in talkers_census_from_flows(_batch_closed_flows(spark)).collect()
    }
    assert set(live) == set(batch) and live
    for k, r in live.items():
        b = batch[k]
        for c in (
            "out_packets", "out_bytes", "in_packets", "in_bytes",
            "n_peers", "n_flows", "io_byte_ratio",
        ):
            assert r[c] == b[c], (k, c, r[c], b[c])


def test_stream_talkers_hand_trace(spark):
    """Dual-stack hand trace: the fixture's closed set is the v6
    conversation (both directions) plus one v4 flow, so the census has
    exactly the four endpoints involved, the v6 pair see each other as
    their single peer with traffic BOTH ways, and each byte total is
    the flow-record roll of the closed packets."""
    from pcap_to_parquet_spark.operators.pcap_query import pcap_stream_talkers

    rows = {r["endpoint_ip"]: r for r in pcap_stream_talkers(spark, SF0001).collect()}
    assert len(rows) == 4
    a1, b1 = rows["2001:db8::a1"], rows["2001:db8::b1"]
    # a biflow conversation: each side sends and receives, one peer
    assert a1["n_peers"] == 1 and b1["n_peers"] == 1
    assert a1["out_packets"] > 0 and a1["in_packets"] > 0
    # mirrored roles: a1's out is b1's in, and vice versa
    assert a1["out_bytes"] == b1["in_bytes"]
    assert a1["in_bytes"] == b1["out_bytes"]
    assert a1["out_packets"] == b1["in_packets"]
    # the v4 closed flow is one-directional: its source has no inbound
    v4 = rows["192.168.1.2"]
    assert v4["out_packets"] > 0 and v4["in_packets"] == 0
    assert v4["io_byte_ratio"] is None  # no inbound bytes -> NULL ratio


# ---------------------------------------------------------------------------
# three-way dedup method agreement (SimHash axis added)

from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402


def _components(nodes, edges):
    """Brute-force min-label connected components (pure Python)."""
    lab = {n: n for n in nodes}
    changed = True
    while changed:
        changed = False
        for a, b in edges:
            m = min(lab[a], lab[b])
            for x in (a, b):
                if lab[x] != m:
                    lab[x] = m
                    changed = True
    return lab


@pytest.mark.slow  # >=5s
def test_simhash_clusters_match_bruteforce(spark, tmp_path):
    """Cross-op consistency: the rep-collapsed star-contraction labels
    must equal brute-force connected components over ALL O(n²)
    hamming-≤3 fingerprint pairs — and identical texts (hamming 0)
    always share a cluster, token-free docs stay singletons."""
    from pcap_to_parquet_spark.operators.llm import simhash

    twin = " ".join(f"t{i}" for i in range(20))
    rows = [
        (0, twin, "en", "s", 1),
        (1, twin, "en", "s", 1),                                  # identical pair
        (2, " ".join(f"w{i}" for i in range(20)), "en", "s", 1),
        (3, " ".join(("CHANGED" if i == 17 else f"w{i}") for i in range(20)),
         "en", "s", 1),                                           # near pair (maybe)
        (4, " ".join(f"z{i}" for i in range(25)), "en", "s", 1),
        (5, "   ", "en", "s", 1),                                 # no tokens
    ]
    d = _docs_lake(spark, tmp_path, rows)
    from pcap_to_parquet_spark.sources.tables import load_table

    fps = {
        r.doc_id: r.simhash
        for r in simhash(load_table(spark, d, "documents")).collect()
    }
    assert 5 not in fps  # token-free doc carries no fingerprint
    ids = sorted(fps)
    edges = [
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    ]
    expect = _components([r[0] for r in rows], edges)
    got = {
        r.doc_id: r.cluster_id
        for r in QUERIES["q_dedup_simhash_clusters"](spark, d).collect()
    }
    assert got == expect
    assert got[0] == got[1]  # identical texts share a cluster
    assert got[5] == 5       # token-free doc is a singleton
    # survivors tie out against the labels: one keep-longest survivor
    # per non-trivial cluster, members counted
    from collections import Counter

    sizes = Counter(got.values())
    surv = {
        r.cluster_id: r
        for r in QUERIES["q_dedup_simhash_survivors"](spark, d).collect()
    }
    assert set(surv) == {c for c, n in sizes.items() if n >= 2}
    for c, r in surv.items():
        assert r.n_members == sizes[c] and r.n_dropped == sizes[c] - 1
        assert got[r.survivor_doc] == c


@pytest.mark.slow  # >=5s
def test_method_agreement3_planted_and_consistent(spark, tmp_path):
    """The 2×2×2 census must be the exact brute-force roll of its own
    three input labelings — and its jaccard×winnowing margin must
    equal the two-axis census row on the same fixture (shared labels,
    shared algebra)."""
    base = " ".join(f"w{i}" for i in range(20))
    near = " ".join(("CHANGED" if i == 17 else f"w{i}") for i in range(20))
    twin = " ".join(f"t{i}" for i in range(20))
    d = _docs_lake(
        spark,
        tmp_path,
        [
            (0, twin, "en", "s", 1),
            (1, twin, "en", "s", 1),     # identical: dup under all three
            (2, base, "en", "s", 1),
            (3, near, "en", "s", 1),     # near: winnow-only vs jaccard
            (4, " ".join(f"z{i}" for i in range(20)), "en", "s", 1),
        ],
    )
    labs = {
        k: {
            r.doc_id: r.cluster_id
            for r in QUERIES[q](spark, d).collect()
        }
        for k, q in (
            ("j", "q_dedup_clusters"),
            ("w", "q_winnowing_band_clusters"),
            ("s", "q_dedup_simhash_clusters"),
        )
    }

    def pairs(lab):
        from collections import Counter

        by = Counter(lab.values())
        return sum(c * (c - 1) // 2 for c in by.values())

    def joint(la, lb):
        from collections import Counter

        by = Counter((la[d_], lb[d_]) for d_ in la)
        return sum(c * (c - 1) // 2 for c in by.values())

    def dup(lab):
        from collections import Counter

        by = Counter(lab.values())
        return {d_: by[c] >= 2 for d_, c in lab.items()}

    dj, dw, ds = dup(labs["j"]), dup(labs["w"]), dup(labs["s"])
    r = QUERIES["q_dedup_method_agreement3"](spark, d).collect()[0]
    docs = list(labs["j"])
    assert r.n_docs == len(docs) == 5
    assert r.dup_all == sum(dj[x] and dw[x] and ds[x] for x in docs)
    assert r.dup_jw_only == sum(dj[x] and dw[x] and not ds[x] for x in docs)
    assert r.dup_js_only == sum(dj[x] and ds[x] and not dw[x] for x in docs)
    assert r.dup_ws_only == sum(dw[x] and ds[x] and not dj[x] for x in docs)
    assert r.dup_jaccard_only == sum(
        dj[x] and not dw[x] and not ds[x] for x in docs
    )
    assert r.dup_winnow_only == sum(
        dw[x] and not dj[x] and not ds[x] for x in docs
    )
    assert r.dup_simhash_only == sum(
        ds[x] and not dj[x] and not dw[x] for x in docs
    )
    assert r.dup_none == sum(
        not dj[x] and not dw[x] and not ds[x] for x in docs
    )
    assert (r.n_pairs_jaccard, r.n_pairs_winnow, r.n_pairs_simhash) == (
        pairs(labs["j"]), pairs(labs["w"]), pairs(labs["s"])
    )
    assert (r.n_pairs_jw, r.n_pairs_js, r.n_pairs_ws) == (
        joint(labs["j"], labs["w"]),
        joint(labs["j"], labs["s"]),
        joint(labs["w"], labs["s"]),
    )
    # the jw margin equals the two-axis census on the same fixture
    r2 = QUERIES["q_dedup_method_agreement"](spark, d).collect()[0]
    assert r.n_pairs_jw == r2.n_pairs_both
    assert r.pair_jaccard_jw == r2.pair_jaccard
    assert r.dup_all + r.dup_jw_only == r2.dup_both
    # the per-source drill-down rolls up to the same global margins
    per_src = QUERIES["q_dedup_agreement_by_source"](spark, d).collect()
    assert sum(s.n_docs for s in per_src) == r.n_docs
    assert sum(s.dup_jaccard for s in per_src) == (
        r.dup_all + r.dup_jw_only + r.dup_js_only + r.dup_jaccard_only
    )
    assert sum(s.dup_winnow for s in per_src) == (
        r.dup_all + r.dup_jw_only + r.dup_ws_only + r.dup_winnow_only
    )
    assert sum(s.dup_simhash for s in per_src) == (
        r.dup_all + r.dup_js_only + r.dup_ws_only + r.dup_simhash_only
    )
    assert sum(s.n_disagree for s in per_src) == (
        r.dup_jw_only + r.dup_js_only + r.dup_ws_only
        + r.dup_jaccard_only + r.dup_winnow_only + r.dup_simhash_only
    )


@pytest.mark.slow  # >=5s
def test_band_filter_attribution_planted(spark, tmp_path):
    """Hand-planted removed set with known gate flags: the band dedup
    removes docs 0 and 1 (doc 2 is the keep-longest survivor); doc 0
    fails only the length gate (n_chars 50), doc 1 only the density
    gate (20 tokens over a claimed 200 chars), both fail the
    stopword gate (no stopwords), neither trips punctuation — so each
    rule's already-rejected share and the zero pass-all remainder are
    all hand-checkable, and n_removed ties out against the survivors
    op's n_dropped."""
    base = " ".join(f"w{i}" for i in range(20))
    near = " ".join(("CHANGED" if i == 10 else f"w{i}") for i in range(20))
    longer = base + " extra tokens here"
    d = _docs_lake(
        spark,
        tmp_path,
        [
            (0, base, "en", "s", 50),     # fails length (50 < 100)
            (1, near, "en", "s", 200),    # fails density (20/200 < 0.175)
            (2, longer, "en", "s", 300),  # survivor: longest n_chars
            (9, " ".join(f"z{i}" for i in range(20)), "en", "s", 150),
        ],
    )
    rows = {r.rule: r for r in
            QUERIES["q_band_filter_attribution"](spark, d).collect()}
    assert set(rows) == {"length", "low_density", "high_punct", "low_stopword"}
    r = rows["length"]
    assert (r.n_removed, r.removed_chars, r.n_removed_pass_all) == (2, 250, 0)
    assert (r.n_already_failing, r.chars_already_failing) == (1, 50)
    assert r.share_already_rejected == 0.5
    assert (rows["low_density"].n_already_failing,
            rows["low_density"].chars_already_failing) == (1, 200)
    assert rows["high_punct"].n_already_failing == 0
    assert (rows["low_stopword"].n_already_failing,
            rows["low_stopword"].chars_already_failing) == (2, 250)
    assert rows["low_stopword"].share_already_rejected == 1.0
    # ties out against the survivors deliverable
    dropped = sum(
        r.n_dropped
        for r in QUERIES["q_winnowing_band_survivors"](spark, d).collect()
    )
    assert dropped == rows["length"].n_removed == 2
