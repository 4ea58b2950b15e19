"""Invariant tests for the user-behavior operator family (funnel,
retention, rolling median, heavy hitters, z-order lake) — properties
the DuckDB oracle can't express, plus the preconditions the operators'
exactness guarantees rest on."""

from __future__ import annotations

from collections import defaultdict

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)

from pcap_to_parquet_spark.registry import QUERIES
from pyspark.sql.functions import col as F_col

from tests.conftest import SF0001
import pytest


@pytest.mark.slow  # >=5s
def test_funnel_counts_are_monotone_nonincreasing(spark):
    """Each stage is anchored strictly after the previous stage's first
    event, so stage populations can only shrink."""
    rows = {r.stage: r.n_users for r in QUERIES["q_funnel"](spark, SF0001).collect()}
    assert set(rows) == {"view", "click", "purchase"}
    assert rows["view"] >= rows["click"] >= rows["purchase"]
    assert rows["purchase"] > 0  # sf0.001 has converting users


def test_retention_offset_zero_covers_every_user(spark):
    """Every user is active in their own cohort week, so offset-0 rows
    sum to the distinct-user count and every offset is >= 0."""
    from pcap_to_parquet_spark.sources import load_table

    rows = QUERIES["q_retention_cohort"](spark, SF0001).collect()
    assert all(r.week_offset >= 0 for r in rows)
    zero = sum(r.n_users for r in rows if r.week_offset == 0)
    n_users = load_table(spark, SF0001, "events").select("user_id").distinct().count()
    assert zero == n_users


def test_rolling_median_matches_bruteforce(spark):
    """Windowed sorted-array median equals a per-user brute force over
    the same (ts, event_id)-ordered frame."""
    from pcap_to_parquet_spark.sources import load_table

    got = {
        (r.user_id, r.event_id): r.roll_med
        for r in QUERIES["q_rolling_median"](spark, SF0001).collect()
    }
    events = (
        load_table(spark, SF0001, "events")
        .select("user_id", "event_id", "ts", "value")
        .collect()
    )
    by_user = defaultdict(list)
    for r in events:
        by_user[r.user_id].append(r)
    checked = 0
    for uid in list(by_user)[:5]:
        rs = sorted(by_user[uid], key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(rs):
            frame = sorted(
                v.value for v in rs[max(0, i - 6) : i + 1] if v.value is not None
            )
            n = len(frame)
            if n == 0:
                exp = None
            elif n % 2 == 1:
                exp = frame[n // 2]
            else:
                exp = (frame[n // 2 - 1] + frame[n // 2]) / 2.0
            exp = round(exp, 4) if exp is not None else None
            assert got[(uid, r.event_id)] == exp, (uid, r.event_id)
            checked += 1
    assert checked > 50


def test_heavy_hitters_recall_precondition_holds(spark):
    """The admission pass is exact only while the k-th hitter's count
    exceeds n_tokens/capacity — assert the margin so data drift that
    breaks the guarantee fails loudly here, not as an oracle flake."""
    from pcap_to_parquet_spark.operators.behavior import _HH_CAPACITY, _HH_K
    from pcap_to_parquet_spark.functions.text import whitespace_tokens
    from pcap_to_parquet_spark.sources import load_table
    from pyspark.sql import functions as F

    rows = QUERIES["q_heavy_hitters"](spark, SF0001).collect()
    assert len(rows) == _HH_K
    counts = [r.n for r in rows]
    assert counts == sorted(counts, reverse=True)
    n_tokens = (
        load_table(spark, SF0001, "documents")
        .select(F.explode(whitespace_tokens("text")))
        .count()
    )
    assert counts[-1] > n_tokens / _HH_CAPACITY


def test_zorder_lake_prunes_on_both_dimensions(spark):
    """The clustered copy's parquet footers must let a selective filter
    on user_id skip most files — the point of the z-order rewrite."""
    import glob
    import os

    import pyarrow.parquet as pq

    from pcap_to_parquet_spark.operators.scale_patterns import _ZORDER_KEY
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs

    QUERIES["q_zorder_lake"](spark, SF0001).collect()  # builds the lake
    src = os.path.join(os.path.abspath(SF0001), "events.parquet")
    (out,) = keyed_tmp_dirs("zorder", src, _ZORDER_KEY, "lake")
    parts = glob.glob(os.path.join(out, "*.parquet"))
    assert len(parts) >= 8
    admitting = 0
    for p in parts:
        md = pq.ParquetFile(p).metadata
        lo = min(md.row_group(i).column(2).statistics.min for i in range(md.num_row_groups))
        hi = max(md.row_group(i).column(2).statistics.max for i in range(md.num_row_groups))
        # column 2 is user_id (event_id, ts, user_id, ...)
        if lo <= 7 and hi >= 4:
            admitting += 1
    # z-order keeps user_id locally dense: the 4-user filter must not
    # admit every file (an unsorted write admits all of them) — and the
    # range exists at sf0.001, so at least one file MUST admit it (a
    # zero-admit pass would mean the test never exercised pruning)
    assert admitting > 0, (admitting, len(parts))
    assert admitting <= len(parts) // 2, (admitting, len(parts))


def test_cdc_apply_tombstones_and_op_counts(spark):
    """Users whose chronologically-last op is a delete are absent; the
    surviving rows' op counts plus deleted users' histories cover every
    event."""
    from pcap_to_parquet_spark.sources import load_table

    rows = {r.user_id: r for r in QUERIES["q_cdc_apply"](spark, SF0001).collect()}
    events = load_table(spark, SF0001, "events").select(
        "user_id", "ts", "event_id", "event_type"
    ).collect()
    by_user = defaultdict(list)
    for r in events:
        by_user[r.user_id].append(r)
    total_surviving = 0
    for uid, rs in by_user.items():
        last = max(rs, key=lambda r: (r.ts, r.event_id))
        if last.event_type == "error":
            assert uid not in rows, uid
        else:
            assert uid in rows, uid
            assert rows[uid].n_ops == len(rs), uid
            total_surviving += len(rs)
    assert total_surviving == sum(r.n_ops for r in rows.values())


def test_peak_concurrency_bruteforce_one_day(spark):
    """Sweep-line peak equals a brute-force scan of one day's
    half-open [ts, ts+5min) intervals."""
    from pcap_to_parquet_spark.sources import load_table
    from pyspark.sql import functions as F

    US_DAY, HOLD = 86_400_000_000, 300_000_000
    peaks = {r.day: r.peak for r in QUERIES["q_peak_concurrency"](spark, SF0001).collect()}
    day = sorted(peaks)[3]
    ev = (
        load_table(spark, SF0001, "events")
        .select(F.unix_micros("ts").alias("t"))
        .collect()
    )
    # same boundary convention as the operator: only deltas landing in
    # the day count, sweep starts at zero
    deltas = [(r.t, 1) for r in ev if r.t // US_DAY == day]
    deltas += [(r.t + HOLD, -1) for r in ev if (r.t + HOLD) // US_DAY == day]
    running = peak = 0
    for _, d in sorted(deltas):  # (t, -1) sorts before (t, +1)
        running += d
        peak = max(peak, running)
    assert peaks[day] == peak


def test_rolling_distinct_bounds(spark):
    """WAU(d) is sandwiched between DAU(d) and min(total users,
    cumulative distinct) and is monotone under window growth."""
    from pcap_to_parquet_spark.sources import load_table
    from pyspark.sql import functions as F

    US_DAY = 86_400_000_000
    wau = {r.day: r.wau for r in QUERIES["q_rolling_distinct"](spark, SF0001).collect()}
    e = load_table(spark, SF0001, "events")
    day = F.expr(f"unix_micros(ts) div {US_DAY}")
    dau = {
        r.day: r.dau
        for r in e.groupBy(day.alias("day"))
        .agg(F.countDistinct("user_id").alias("dau"))
        .collect()
    }
    n_users = e.select("user_id").distinct().count()
    for d, w in wau.items():
        assert dau[d] <= w <= n_users, d


def test_orc_lake_reads_orc_files(spark):
    """The round-trip actually wrote ORC, not parquet with a new name."""
    import glob
    import os

    from pcap_to_parquet_spark.sources import keyed_tmp_dirs

    QUERIES["q_orc_lake"](spark, SF0001).collect()
    src = os.path.join(os.path.abspath(SF0001), "events.parquet")
    (out,) = keyed_tmp_dirs("orc", src, "v1-zstd", "lake")
    parts = glob.glob(os.path.join(out, "*.orc"))
    assert parts, os.listdir(out)
    with open(parts[0], "rb") as fh:
        assert fh.read(3) == b"ORC"


def test_markov_rows_are_probabilities(spark):
    """Each prev_state's outgoing probabilities sum to ~1 and the
    transition count total is |events| - |users| (every user timeline
    loses exactly its first event)."""
    from pcap_to_parquet_spark.sources import load_table

    rows = QUERIES["q_markov_transitions"](spark, SF0001).collect()
    by_prev = defaultdict(float)
    for r in rows:
        assert 0.0 < r.p <= 1.0
        by_prev[r.prev_state] += r.p
    for prev, total in by_prev.items():
        assert abs(total - 1.0) < 1e-2, (prev, total)  # 4dp rounding x 5 rows
    e = load_table(spark, SF0001, "events")
    n_events = e.count()
    n_users = e.select("user_id").distinct().count()
    assert sum(r.n for r in rows) == n_events - n_users


def test_basket_pairs_ordered_and_canonical(spark):
    rows = QUERIES["q_basket_pairs"](spark, SF0001).collect()
    assert rows, "sf0.001 has co-ordered parts"
    assert all(r.part_a < r.part_b for r in rows)
    counts = [r.n_orders for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_ab_ttest_consistency(spark):
    """t-stat carries the sign of the mean difference and the arm
    counts cover every event of that type."""
    from pcap_to_parquet_spark.sources import load_table
    from pyspark.sql import functions as F

    rows = QUERIES["q_ab_ttest"](spark, SF0001).collect()
    totals = {
        r.event_type: r.n
        for r in load_table(spark, SF0001, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert len(rows) == len(totals)
    for r in rows:
        assert r.n_a + r.n_b == totals[r.event_type]
        if r.mean_diff != 0:
            assert (r.t_stat > 0) == (r.mean_diff > 0), r


def test_pct_change_first_day_null_then_consistent(spark):
    rows = sorted(QUERIES["q_pct_change"](spark, SF0001).collect(), key=lambda r: r.day)
    assert rows[0].pct_change is None
    for a, b in zip(rows, rows[1:]):
        if a.revenue:
            exp = round((b.revenue - a.revenue) / a.revenue, 4)
            assert abs(b.pct_change - exp) < 5e-4, b.day


def test_time_travel_snapshots_are_isolated(spark):
    """Version 1 must stay byte-stable after the v2 append: the v1
    manifest pins the old file set, and v2 equals the full table."""
    from pcap_to_parquet_spark.sources import load_table

    rows = {r.version: r for r in QUERIES["q_time_travel"](spark, SF0001).collect()}
    assert set(rows) == {1, 2}
    total = load_table(spark, SF0001, "events").count()
    assert rows[2].n_events == total
    assert 0 < rows[1].n_events < rows[2].n_events
    # re-running must serve the SAME v1 (manifest-pinned, not re-listed)
    again = {r.version: r for r in QUERIES["q_time_travel"](spark, SF0001).collect()}
    assert again[1] == rows[1]


def test_cow_delete_rewrites_minority_of_files(spark):
    """Copy-on-write on the z-ordered lake must carry most files over
    untouched (keep-*) and rewrite only the victim-admitting ones."""
    import glob
    import os

    from pcap_to_parquet_spark.operators.scale_patterns import _COWDEL_KEY
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs

    QUERIES["q_cow_delete"](spark, SF0001).collect()
    src = os.path.join(os.path.abspath(SF0001), "events.parquet")
    (dlake,) = keyed_tmp_dirs("cowdel", src, _COWDEL_KEY, "lake")
    kept = glob.glob(os.path.join(dlake, "keep-*.parquet"))
    rewritten = [
        p
        for p in glob.glob(os.path.join(dlake, "*.parquet"))
        if "keep-" not in os.path.basename(p)
    ]
    assert kept and rewritten
    assert len(kept) > len(rewritten), (len(kept), len(rewritten))
    # and no victim survives anywhere
    assert (
        spark.read.parquet(dlake)
        .filter((F_col("user_id") >= 4) & (F_col("user_id") <= 7))
        .count()
        == 0
    )
