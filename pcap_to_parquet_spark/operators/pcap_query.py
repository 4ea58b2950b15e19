"""q_pcap_pipeline: the reference capability end-to-end as a query.

Rows-only check (DuckDB has no pcap reader, SURVEY §2 Part B): the
golden fixture pcap → packets DataFrame. Value-level correctness is
covered by the hand-computed golden rows in tests/test_pcap_decode.py.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources.pcap import read_pcap
from pcap_to_parquet_spark.sources.pcap_fixtures import (
    biflow_golden_pcap_bytes,
    fixture_packets,
    golden_pcap_bytes,
    pcapng_file,
    v6_golden_pcap_bytes,
)


def _cached_fixture_path(stem: str, data: bytes, ext: str = ".pcap") -> str:
    """Write ``data`` to a tempdir file whose name embeds a content
    hash. Keying the cache on md5(data)[:8] (not byte length) means a
    fixture edit that changes content but keeps the size can never
    serve a stale capture across sessions. The file is written under a
    hidden name and renamed into place, so a concurrent reader never
    opens a partial one."""
    import hashlib

    digest = hashlib.md5(data).hexdigest()[:8]
    path = os.path.join(
        tempfile.gettempdir(), f"pcap_to_parquet_spark_{stem}_{digest}{ext}"
    )
    if not os.path.exists(path):
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), prefix=".")
        with os.fdopen(fd, "wb") as f:
            f.write(data)
        os.replace(tmp, path)
    return path


def _stage_capture(src: str, land: str, name: str) -> str:
    """Copy capture ``src`` into directory ``land`` as ``name`` unless
    it is there already; return ``land``. The copy is written under a
    hidden name and renamed into place: ``PcapStreamReader`` skips
    ``_``/``.``-prefixed names as files still being written, so a
    stream tailing ``land``, in this process or another, never lists a
    partial capture."""
    dest = os.path.join(land, name)
    if not os.path.exists(dest):
        os.makedirs(land, exist_ok=True)
        fd, tmp = tempfile.mkstemp(dir=land, prefix=f".{name}")
        os.close(fd)
        shutil.copyfile(src, tmp)
        os.replace(tmp, dest)
    return land


def _landing_dir(prefix: str, src: str, name: str) -> str:
    """The tempdir landing directory that holds capture ``src`` as
    ``name``, keyed by the capture's mtime and size."""
    land = os.path.join(
        tempfile.gettempdir(),
        f"{prefix}_{os.path.getmtime(src):.0f}_{os.path.getsize(src)}",
    )
    return _stage_capture(src, land, name)


def _fixture_path() -> str:
    return _cached_fixture_path("golden", golden_pcap_bytes())


def _v6_fixture_path() -> str:
    return _cached_fixture_path("golden_v6", v6_golden_pcap_bytes())


def _biflow_fixture_path() -> str:
    return _cached_fixture_path("golden_biflow", biflow_golden_pcap_bytes())



# Golden-packet oracle: the 13 fixture packets' decoded rows as a SQL
# literal. The fixture is STATIC (built by sources/pcap_fixtures.py, not
# driver testdata), and every value below is independently hand-computed
# in tests/test_pcap_decode.py from the byte layout (main.rs:128-252
# semantics: innermost-wins trailer stacking, signed mm_ns compare, VLAN
# inner offsets, null-on-malformed). The driver's value-hash compare
# therefore checks the DECODE, exactly as the golden tests do.
_PKT_COLS = "src_ip, dst_ip, len, protocol, src_port, dst_port, mm_ts, mm_id, mm_port"
_PKT_NULLS = ("CAST(NULL AS INTEGER), CAST(NULL AS INTEGER), "
              "CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS SMALLINT)")
_MM_NULLS = "CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS SMALLINT)"
GOLDEN_PACKETS_ORACLE = f"""
SELECT {_PKT_COLS} FROM (VALUES
    (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(10 AS BIGINT), CAST(NULL AS VARCHAR), {_PKT_NULLS}),
    ('10.1.1.1', '10.1.1.2', CAST(38 AS BIGINT), 'ICMP', {_PKT_NULLS}),
    ('10.2.2.1', '224.0.0.1', CAST(38 AS BIGINT), 'IGMP', {_PKT_NULLS}),
    ('10.3.3.1', '10.3.3.2', CAST(38 AS BIGINT), CAST(NULL AS VARCHAR), {_PKT_NULLS}),
    (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(42 AS BIGINT), CAST(NULL AS VARCHAR), {_PKT_NULLS}),
    ('10.0.0.1', '10.0.0.2', CAST(50 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS SMALLINT)),
    ('172.16.0.1', '172.16.0.2', CAST(54 AS BIGINT), 'UDP', CAST(53 AS INTEGER), CAST(5353 AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS SMALLINT)),
    ('192.168.1.10', '192.168.1.20', CAST(54 AS BIGINT), 'TCP', CAST(80 AS INTEGER), CAST(443 AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS SMALLINT)),
    ('10.0.0.1', '10.0.0.2', CAST(66 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS SMALLINT)),
    ('10.0.0.1', '10.0.0.2', CAST(66 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), CAST(1699999998500000123 AS BIGINT), CAST(7 AS INTEGER), CAST(3 AS SMALLINT)),
    ('10.0.0.1', '10.0.0.2', CAST(70 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), CAST(1699999995777777777 AS BIGINT), CAST(9 AS INTEGER), CAST(4 AS SMALLINT)),
    ('10.0.0.1', '10.0.0.2', CAST(82 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), CAST(1699999997111111111 AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS SMALLINT)),
    ('10.9.9.1', '10.9.9.2', CAST(114 AS BIGINT), 'UDP', CAST(7 AS INTEGER), CAST(9 AS INTEGER), CAST(NULL AS BIGINT), CAST(NULL AS INTEGER), CAST(NULL AS SMALLINT))
) AS t({_PKT_COLS})
"""


@query("q_pcap_pipeline", GOLDEN_PACKETS_ORACLE)
def pcap_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = read_pcap(spark, _fixture_path())
    return df.orderBy(F.col("len"), F.col("src_ip").asc_nulls_first(), F.col("mm_id").asc_nulls_first())


def _pcapng_fixture_path() -> str:
    """Golden packets re-containered as pcapng (EPB per packet)."""
    return _cached_fixture_path(
        "golden", pcapng_file(list(fixture_packets().values())), ".pcapng"
    )


@query("q_pcapng_pipeline", GOLDEN_PACKETS_ORACLE)  # same frames, same goldens
def pcapng_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The golden packets through the pcapng container — must equal
    q_pcap_pipeline row-for-row (same frames, same decode chain)."""
    from pcap_to_parquet_spark.sources.pcapng import read_pcapng

    df = read_pcapng(spark, _pcapng_fixture_path())
    return df.orderBy(F.col("len"), F.col("src_ip").asc_nulls_first(), F.col("mm_id").asc_nulls_first())


@query("q_pcap_datasource", GOLDEN_PACKETS_ORACLE)  # connector form, same goldens
def pcap_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference capability through the Spark 4 Python Data Source
    API: ``spark.read.format("pcap")`` over the golden fixture —
    the connector form of q_pcap_pipeline (same decode kernels behind
    the standard source interface; partition-per-chunk parallelism).
    Row-for-row parity with read_pcap is pinned in
    tests/test_pcap_datasource.py."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    df = spark.read.format("pcap").load(_fixture_path())
    return df.orderBy(
        F.col("len"), F.col("src_ip").asc_nulls_first(), F.col("mm_id").asc_nulls_first()
    )


# derived straight from the golden-packet literal (one source of
# truth); hand-check: the 1234->5678 UDP flow carries 50+66+66+70+82
# = 334 bytes over 5 packets
PCAP_FLOWS_ORACLE = f"""
SELECT src_ip, dst_ip, protocol, src_port, dst_port,
       COUNT(*) AS n_packets,
       CAST(SUM(len) AS BIGINT) AS n_bytes
FROM ({GOLDEN_PACKETS_ORACLE}) g
GROUP BY src_ip, dst_ip, protocol, src_port, dst_port
"""


@query("q_pcap_flows", PCAP_FLOWS_ORACLE)
def pcap_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetFlow-style 5-tuple rollup — THE downstream query a capture
    lake exists for: packets and bytes per (src, dst, proto, sport,
    dport). Undecodable packets keep their NULL tuple and aggregate
    into a catch-all flow (SQL GROUP BY null semantics, unlike
    NetFlow's drop policy — nothing silently vanishes). At 100 TB
    this is one partial+final aggregate over the decoded scan; with
    the lake partitioned by (date, type) the scan prunes first.
    Oracle: the hand-computed flow table of the golden capture."""
    df = read_pcap(spark, _fixture_path())
    return (
        df.groupBy("src_ip", "dst_ip", "protocol", "src_port", "dst_port")
        .agg(
            F.count(F.lit(1)).alias("n_packets"),
            F.sum("len").alias("n_bytes"),
        )
    )


# per-flow feature table extending the NetFlow rollup with
# the timing/size statistics an IDS or traffic classifier consumes
_FLOW_KEYS = ["src_ip", "dst_ip", "protocol", "src_port", "dst_port"]
_FLOW_KEYS_SQL = ", ".join(_FLOW_KEYS)

PCAP_FLOW_STATS_ORACLE = f"""
WITH g AS ({GOLDEN_PACKETS_ORACLE}),
wg AS (
    SELECT {_FLOW_KEYS_SQL}, len, mm_ts,
           mm_ts - LAG(mm_ts) OVER (PARTITION BY {_FLOW_KEYS_SQL}
                                    ORDER BY mm_ts ASC NULLS FIRST) AS gap
    FROM g
),
flows AS (
    SELECT {_FLOW_KEYS_SQL},
           CAST(COUNT(*) AS BIGINT) AS n_packets,
           CAST(SUM(len) AS BIGINT) AS n_bytes,
           CAST(MIN(len) AS BIGINT) AS min_len,
           CAST(MAX(len) AS BIGINT) AS max_len,
           ROUND(SUM(len) * 1.0 / COUNT(*), 4) AS mean_len,
           CAST(COUNT(mm_ts) AS BIGINT) AS n_timed,
           CAST(MAX(mm_ts) - MIN(mm_ts) AS BIGINT) AS duration_ns,
           CAST(MIN(gap) AS BIGINT) AS min_iat_ns,
           CAST(MAX(gap) AS BIGINT) AS max_iat_ns
    FROM wg GROUP BY {_FLOW_KEYS_SQL}
)
SELECT {_FLOW_KEYS_SQL},
       n_packets, n_bytes, min_len, max_len, mean_len, n_timed,
       duration_ns,
       CASE WHEN n_timed > 1 THEN duration_ns // (n_timed - 1) END AS mean_iat_ns,
       min_iat_ns, max_iat_ns
FROM flows
"""


# IPv6 golden-packet oracle (engine extension): the 13 v6-fixture
# packets' decoded rows, hand-computed from the byte layout in
# sources/pcap_fixtures.py::v6_fixture_packets. The reference NULLs
# ethertype 0x86DD entirely (main.rs:239-251 dispatches only
# 0x0800/0x8100); ipv6=True is the engine's opt-in extension —
# canonical RFC 5952 addresses (note 2001:db8:0:0:1:0:0:1 renders
# with the LEFTMOST-longest zero run: 2001:db8::1:0:0:1), the
# extension-header chain WALKED to the real L4 (v6_ext: hbh → UDP
# named, zero L4 bytes so ports NULL; v6_chain: hbh → dest-opts →
# UDP 21/22; v6_frag0: atomic fragment, TCP ports present; v6_fragn:
# non-first fragment, TCP named, no L4 header; v6_esp: ESP terminates
# unnamed), mm trailer orthogonal (v6_mm row), parity null-on-short
# (v6_short row), v4 coexisting in the same capture.
V6_GOLDEN_PACKETS_ORACLE = f"""
SELECT {_PKT_COLS} FROM (VALUES
    ('2001:db8::1', '2001:db8::2', CAST(70 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), {_MM_NULLS}),
    ('2001:db8:0:1::10', '2001:db8:0:1::20', CAST(74 AS BIGINT), 'TCP', CAST(443 AS INTEGER), CAST(8443 AS INTEGER), {_MM_NULLS}),
    ('fe80::1', 'ff02::1', CAST(58 AS BIGINT), 'ICMPv6', {_PKT_NULLS}),
    ('2001:db8:ff::a', '2001:db8:ff::b', CAST(74 AS BIGINT), 'UDP', CAST(53 AS INTEGER), CAST(5353 AS INTEGER), {_MM_NULLS}),
    ('2001:db8::dead', '2001:db8::beef', CAST(62 AS BIGINT), 'UDP', {_PKT_NULLS}),
    ('2001:db8:c::1', '2001:db8:c::2', CAST(94 AS BIGINT), 'UDP', CAST(21 AS INTEGER), CAST(22 AS INTEGER), {_MM_NULLS}),
    ('2001:db8:f::1', '2001:db8:f::2', CAST(82 AS BIGINT), 'TCP', CAST(80 AS INTEGER), CAST(443 AS INTEGER), {_MM_NULLS}),
    ('2001:db8:f::1', '2001:db8:f::2', CAST(66 AS BIGINT), 'TCP', {_PKT_NULLS}),
    ('2001:db8:5::1', '2001:db8:5::2', CAST(70 AS BIGINT), CAST(NULL AS VARCHAR), {_PKT_NULLS}),
    ('2001:db8::1:0:0:1', '::1', CAST(70 AS BIGINT), 'UDP', CAST(7 AS INTEGER), CAST(9 AS INTEGER), {_MM_NULLS}),
    ('2001:db8::1', '2001:db8::2', CAST(86 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), CAST(1699999998500000123 AS BIGINT), CAST(7 AS INTEGER), CAST(3 AS SMALLINT)),
    (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(30 AS BIGINT), CAST(NULL AS VARCHAR), {_PKT_NULLS}),
    ('10.0.0.1', '10.0.0.2', CAST(50 AS BIGINT), 'UDP', CAST(1234 AS INTEGER), CAST(5678 AS INTEGER), {_MM_NULLS})
) AS t({_PKT_COLS})
"""

PCAP_V6_FLOWS_ORACLE = f"""
SELECT src_ip, dst_ip, protocol, src_port, dst_port,
       COUNT(*) AS n_packets,
       CAST(SUM(len) AS BIGINT) AS n_bytes
FROM ({V6_GOLDEN_PACKETS_ORACLE}) g
GROUP BY src_ip, dst_ip, protocol, src_port, dst_port
"""


@query("q_pcap_v6_flows", PCAP_V6_FLOWS_ORACLE)
def pcap_v6_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetFlow rollup over a DUAL-STACK capture with the opt-in IPv6
    decode (``read_pcap(..., ipv6=True)``) — the highest-value Part-A
    extension: a 2026 capture lake is
    majority-IPv6 on day one, and the reference silently NULLs
    ethertype 0x86DD (main.rs:239-251 dispatches only 0x0800/0x8100),
    so every v6 packet lands in the catch-all flow. With ipv6=True
    the same PACKET_SCHEMA carries canonical RFC 5952 text addresses,
    the extension-header chain walked to the real L4 (hop-by-hop/
    routing/fragment/dest-options; non-first fragments keep NULL
    ports; AH/ESP terminate unnamed), next-header protocol names
    ({{TCP, UDP, ICMPv6}}), and TCP/UDP ports at the post-chain
    offset; v4 and v6 flows coexist in one table with one GROUP BY.
    Default mode stays byte-identical reference parity — the flag is
    per-read, so a lake can migrate capture-by-capture.

    Scale: identical plan to q_pcap_flows (one decoded scan →
    partial+final aggregate); the only added cost is the per-v6-row
    address text formatting inside the Arrow decode kernel (the
    chain walk is lockstep numpy hops).
    Oracle: hand-computed flow table of the 13-packet v6 golden
    fixture (12 flows: the two 2001:db8::1→::2 UDP packets merge;
    the two fragments differ in ports so they stay separate)."""
    df = read_pcap(spark, _v6_fixture_path(), ipv6=True)
    return (
        df.groupBy("src_ip", "dst_ip", "protocol", "src_port", "dst_port")
        .agg(
            F.count(F.lit(1)).alias("n_packets"),
            F.sum("len").alias("n_bytes"),
        )
    )


@query("q_pcap_flow_stats", PCAP_FLOW_STATS_ORACLE)
def pcap_flow_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-flow FEATURE table — the reference capability deepened past
    the q_pcap_flows rollup into the statistics a traffic classifier /
    IDS consumes per 5-tuple: packet and byte counts, min/max/mean
    frame length, and hardware-timestamp timing features (count of
    Metamako-stamped packets, flow duration in ns, mean/min/max
    inter-arrival gap). Undecodable packets keep their NULL tuple and
    aggregate into the catch-all flow with NULL timing, exactly like
    q_pcap_flows — nothing silently vanishes.

    Scale design — ONE decoded scan, ONE shuffle: the per-flow lag
    window orders mm_ts NULLS FIRST, so untimed packets sit ahead of
    the timed run and every timed packet's lag is either NULL (run
    head / untimed predecessor) or the previous timed stamp — the gap
    column is correct without a second filtered pass; the flow
    aggregate then groups on the window's own partition keys, so the
    subset rule keeps it on the same Exchange (no re-shuffle, no
    join-back; the earlier two-branch draft decoded the capture
    twice). Mean inter-arrival is exact integer arithmetic
    (duration div (n_timed-1) — the telescoping sum of sorted gaps),
    and all ns arithmetic stays in BIGINT end to end (mm_ts ~1.7e18
    exceeds double's 2^53 mantissa).
    Oracle: hand-computed from the golden-packet VALUES literal
    (main.rs:128-183 trailer semantics feed the mm_ts column). The
    oracle computes the iat gaps in the SAME null-safe GROUP BY as
    this implementation (window partitions group NULL keys together
    in both engines) — no 5-tuple equality join, so the NULL-tuple
    catch-all flow receives identical iat features on both sides
    even if an undecodable frame ever carries a Metamako stamp
    (round-13 ADVICE fix; previously a NULL-hostile LEFT JOIN)."""
    df = read_pcap(spark, _fixture_path())
    from pyspark.sql import Window

    w = Window.partitionBy(*_FLOW_KEYS).orderBy(F.col("mm_ts").asc_nulls_first())
    flows = (
        df.withColumn("gap", F.col("mm_ts") - F.lag("mm_ts").over(w))
        .groupBy(*_FLOW_KEYS)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_packets"),
            F.sum("len").cast("long").alias("n_bytes"),
            F.min("len").cast("long").alias("min_len"),
            F.max("len").cast("long").alias("max_len"),
            F.round(F.sum("len") * 1.0 / F.count(F.lit(1)), 4).alias("mean_len"),
            F.count("mm_ts").cast("long").alias("n_timed"),
            (F.max("mm_ts") - F.min("mm_ts")).cast("long").alias("duration_ns"),
            F.min("gap").cast("long").alias("min_iat_ns"),
            F.max("gap").cast("long").alias("max_iat_ns"),
        )
    )
    return flows.select(
        *_FLOW_KEYS,
        "n_packets",
        "n_bytes",
        "min_len",
        "max_len",
        "mean_len",
        "n_timed",
        "duration_ns",
        F.expr(
            "CASE WHEN n_timed > 1 THEN duration_ns div (n_timed - 1) END"
        ).alias("mean_iat_ns"),
        "min_iat_ns",
        "max_iat_ns",
    )


# biflow pairing over a dedicated BIDIRECTIONAL golden
# fixture (the main golden capture is unidirectional per flow). Rows
# hand-computed from sources/pcap_fixtures.py::biflow_fixture_packets.
BIFLOW_GOLDEN_PACKETS_ORACLE = f"""
SELECT {_PKT_COLS} FROM (VALUES
    ('10.0.0.1', '10.0.0.2', CAST(66 AS BIGINT), 'UDP', CAST(1000 AS INTEGER), CAST(2000 AS INTEGER), CAST(1699999995000000000 AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS SMALLINT)),
    ('10.0.0.2', '10.0.0.1', CAST(66 AS BIGINT), 'UDP', CAST(2000 AS INTEGER), CAST(1000 AS INTEGER), CAST(1699999996000000000 AS BIGINT), CAST(1 AS INTEGER), CAST(2 AS SMALLINT)),
    ('10.0.0.1', '10.0.0.2', CAST(60 AS BIGINT), 'UDP', CAST(1000 AS INTEGER), CAST(2000 AS INTEGER), {_MM_NULLS}),
    ('10.0.0.2', '10.0.0.1', CAST(54 AS BIGINT), 'UDP', CAST(2000 AS INTEGER), CAST(1000 AS INTEGER), {_MM_NULLS}),
    ('10.0.0.1', '10.0.0.2', CAST(72 AS BIGINT), 'UDP', CAST(1000 AS INTEGER), CAST(2000 AS INTEGER), {_MM_NULLS}),
    ('192.168.1.2', '192.168.1.1', CAST(70 AS BIGINT), 'TCP', CAST(5000 AS INTEGER), CAST(80 AS INTEGER), CAST(1699999994000000000 AS BIGINT), CAST(2 AS INTEGER), CAST(1 AS SMALLINT)),
    ('192.168.1.1', '192.168.1.2', CAST(70 AS BIGINT), 'TCP', CAST(80 AS INTEGER), CAST(5000 AS INTEGER), CAST(1699999995000000123 AS BIGINT), CAST(2 AS INTEGER), CAST(2 AS SMALLINT)),
    ('10.5.5.1', '10.5.5.2', CAST(42 AS BIGINT), 'UDP', CAST(99 AS INTEGER), CAST(100 AS INTEGER), {_MM_NULLS}),
    ('10.7.7.1', '10.7.7.2', CAST(38 AS BIGINT), 'ICMP', {_PKT_NULLS}),
    ('10.7.7.2', '10.7.7.1', CAST(38 AS BIGINT), 'ICMP', {_PKT_NULLS}),
    (CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR), CAST(10 AS BIGINT), CAST(NULL AS VARCHAR), {_PKT_NULLS}),
    ('2001:db8::a1', '2001:db8::b1', CAST(86 AS BIGINT), 'UDP', CAST(6000 AS INTEGER), CAST(7000 AS INTEGER), CAST(1699999990000000000 AS BIGINT), CAST(3 AS INTEGER), CAST(1 AS SMALLINT)),
    ('2001:db8::b1', '2001:db8::a1', CAST(86 AS BIGINT), 'UDP', CAST(7000 AS INTEGER), CAST(6000 AS INTEGER), CAST(1699999991000000000 AS BIGINT), CAST(3 AS INTEGER), CAST(2 AS SMALLINT)),
    ('2001:db8::1', '2001:db8::2', CAST(86 AS BIGINT), 'UDP', CAST(1000 AS INTEGER), CAST(2000 AS INTEGER), CAST(1699999999000000000 AS BIGINT), CAST(4 AS INTEGER), CAST(1 AS SMALLINT))
) AS t({_PKT_COLS})
"""

PCAP_BIFLOW_ORACLE = f"""
WITH g AS ({BIFLOW_GOLDEN_PACKETS_ORACLE}),
flows AS (
    SELECT {_FLOW_KEYS_SQL},
           CAST(COUNT(*) AS BIGINT) AS n_packets,
           CAST(SUM(len) AS BIGINT) AS n_bytes,
           MIN(mm_ts) AS first_ts
    FROM g GROUP BY {_FLOW_KEYS_SQL}
),
oriented AS (
    SELECT *,
           (COALESCE(src_ip, ''), COALESCE(src_port, -1)) <=
           (COALESCE(dst_ip, ''), COALESCE(dst_port, -1)) AS is_fwd
    FROM flows
),
paired AS (
    SELECT CASE WHEN is_fwd THEN src_ip ELSE dst_ip END AS side1_ip,
           CASE WHEN is_fwd THEN src_port ELSE dst_port END AS side1_port,
           CASE WHEN is_fwd THEN dst_ip ELSE src_ip END AS side2_ip,
           CASE WHEN is_fwd THEN dst_port ELSE src_port END AS side2_port,
           protocol, is_fwd, n_packets, n_bytes, first_ts
    FROM oriented
),
b AS (
    SELECT side1_ip, side1_port, side2_ip, side2_port, protocol,
           CAST(COALESCE(SUM(CASE WHEN is_fwd THEN n_packets END), 0) AS BIGINT) AS fwd_packets,
           CAST(COALESCE(SUM(CASE WHEN is_fwd THEN n_bytes END), 0) AS BIGINT) AS fwd_bytes,
           CAST(COALESCE(SUM(CASE WHEN NOT is_fwd THEN n_packets END), 0) AS BIGINT) AS rev_packets,
           CAST(COALESCE(SUM(CASE WHEN NOT is_fwd THEN n_bytes END), 0) AS BIGINT) AS rev_bytes,
           MIN(CASE WHEN is_fwd THEN first_ts END) AS fwd_first,
           MIN(CASE WHEN NOT is_fwd THEN first_ts END) AS rev_first
    FROM paired
    GROUP BY side1_ip, side1_port, side2_ip, side2_port, protocol
)
SELECT side1_ip, side1_port, side2_ip, side2_port, protocol,
       fwd_packets, fwd_bytes, rev_packets, rev_bytes,
       CASE WHEN rev_bytes > 0 THEN ROUND(fwd_bytes * 1.0 / rev_bytes, 4) END AS bytes_ratio,
       CASE WHEN rev_packets > 0 THEN ROUND(fwd_packets * 1.0 / rev_packets, 4) END AS pkt_ratio,
       CASE WHEN fwd_first IS NULL AND rev_first IS NULL THEN NULL
            WHEN rev_first IS NULL THEN 'side1'
            WHEN fwd_first IS NULL THEN 'side2'
            WHEN fwd_first <= rev_first THEN 'side1' ELSE 'side2' END AS first_speaker,
       fwd_packets > 0 AND rev_packets > 0 AS answered
FROM b
"""


def _biflow_pairing(flows: DataFrame) -> DataFrame:
    """Canonical-key direction pairing over a per-5-tuple flow frame
    (n_packets, n_bytes, first_ts per direction row) — the SHARED
    kernel of batch q_pcap_biflow and its streaming twin, so the two
    modes cannot diverge (the q_stream_session_quality discipline)."""
    is_fwd = F.struct(
        F.coalesce(F.col("src_ip"), F.lit("")).alias("ip"),
        F.coalesce(F.col("src_port"), F.lit(-1)).alias("port"),
    ) <= F.struct(
        F.coalesce(F.col("dst_ip"), F.lit("")).alias("ip"),
        F.coalesce(F.col("dst_port"), F.lit(-1)).alias("port"),
    )
    paired = flows.select(
        F.when(is_fwd, F.col("src_ip")).otherwise(F.col("dst_ip")).alias("side1_ip"),
        F.when(is_fwd, F.col("src_port")).otherwise(F.col("dst_port")).alias("side1_port"),
        F.when(is_fwd, F.col("dst_ip")).otherwise(F.col("src_ip")).alias("side2_ip"),
        F.when(is_fwd, F.col("dst_port")).otherwise(F.col("src_port")).alias("side2_port"),
        "protocol",
        is_fwd.alias("is_fwd"),
        "n_packets",
        "n_bytes",
        "first_ts",
    )
    b = paired.groupBy(
        "side1_ip", "side1_port", "side2_ip", "side2_port", "protocol"
    ).agg(
        F.coalesce(F.sum(F.when(F.col("is_fwd"), F.col("n_packets"))), F.lit(0))
        .cast("long").alias("fwd_packets"),
        F.coalesce(F.sum(F.when(F.col("is_fwd"), F.col("n_bytes"))), F.lit(0))
        .cast("long").alias("fwd_bytes"),
        F.coalesce(F.sum(F.when(~F.col("is_fwd"), F.col("n_packets"))), F.lit(0))
        .cast("long").alias("rev_packets"),
        F.coalesce(F.sum(F.when(~F.col("is_fwd"), F.col("n_bytes"))), F.lit(0))
        .cast("long").alias("rev_bytes"),
        F.min(F.when(F.col("is_fwd"), F.col("first_ts"))).alias("fwd_first"),
        F.min(F.when(~F.col("is_fwd"), F.col("first_ts"))).alias("rev_first"),
    )
    return b.select(
        "side1_ip", "side1_port", "side2_ip", "side2_port", "protocol",
        "fwd_packets", "fwd_bytes", "rev_packets", "rev_bytes",
        F.when(
            F.col("rev_bytes") > 0,
            F.round(F.col("fwd_bytes") * 1.0 / F.col("rev_bytes"), 4),
        ).alias("bytes_ratio"),
        F.when(
            F.col("rev_packets") > 0,
            F.round(F.col("fwd_packets") * 1.0 / F.col("rev_packets"), 4),
        ).alias("pkt_ratio"),
        F.when(
            F.col("fwd_first").isNull() & F.col("rev_first").isNull(), F.lit(None)
        )
        .when(F.col("rev_first").isNull(), F.lit("side1"))
        .when(F.col("fwd_first").isNull(), F.lit("side2"))
        .when(F.col("fwd_first") <= F.col("rev_first"), F.lit("side1"))
        .otherwise(F.lit("side2"))
        .alias("first_speaker"),
        ((F.col("fwd_packets") > 0) & (F.col("rev_packets") > 0)).alias("answered"),
    )


def _flows_frame(df: DataFrame) -> DataFrame:
    """Per-direction flow aggregate (the biflow kernel's input shape):
    one shuffle of the packet frame, batch or streaming."""
    return df.groupBy(*_FLOW_KEYS).agg(
        F.count(F.lit(1)).cast("long").alias("n_packets"),
        F.sum("len").cast("long").alias("n_bytes"),
        F.min("mm_ts").alias("first_ts"),
    )


@query("q_pcap_biflow", PCAP_BIFLOW_ORACLE)
def pcap_biflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BIFLOW pairing — the IDS/traffic-classifier feature set the
    unidirectional flow table can't express: A→B and B→A flows pair
    on the canonical endpoint key (lexicographically smaller
    (ip, port) is side1), yielding per-conversation byte/packet
    counts both ways, byte/packet ratios, who-spoke-first (by
    earliest hardware stamp per direction; NULL when untimed), and
    the unanswered-flow flag (a scan/exfil tell). Portless protocols
    (ICMP) pair on addresses alone; the undecodable catch-all flow
    stays its own NULL-keyed row with answered=false — nothing
    silently vanishes. DUAL-STACK: decodes with ipv6=True,
    so v6 conversations pair on RFC 5952 colon-hex text through the
    same canonical struct compare, and a v6 flow whose PORTS mirror a
    v4 conversation stays its own (unanswered) row — address text
    differs. [engine — not in reference]

    Scale design: packets shuffle ONCE into per-direction flows (the
    same partial+final aggregate as q_pcap_flows, plus min(mm_ts));
    the biflow pairing is then a CENSUS-sized second groupBy over
    flow rows (≤2 per conversation key), not a re-shuffle of the
    packet scan. The canonical-key orientation is pure row-local
    column algebra (one struct compare, null-safe via coalesce
    sentinels '' / -1 — both engines compare strings by codepoint).
    The pairing lives in the shared _biflow_pairing kernel with the
    streaming twin. Oracle: identical algebra over the hand-computed
    golden literal of the BIDIRECTIONAL fixture (two answered pairs
    with opposite first-speakers, an unanswered probe, an ICMP pair,
    a runt)."""
    return _biflow_pairing(
        _flows_frame(read_pcap(spark, _biflow_fixture_path(), ipv6=True))
    )


@query("q_pcap_stream_biflow", PCAP_BIFLOW_ORACLE)
def pcap_stream_biflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biflow pairing ON THE INGEST PATH — q_pcap_biflow's live twin:
    the bidirectional capture lands in a watched directory,
    ``spark.readStream.format("pcap")`` tails it, the per-direction
    flow aggregate runs as a streaming aggregation in complete mode
    (state = one row per active 5-tuple), and the canonical-key
    pairing runs as the serving query over the emitted flow frame —
    the SAME _biflow_pairing kernel as the batch op, so the two modes
    cannot diverge. The unanswered-flow flag live DURING ingest is
    the scan-detection use case: a probe burst shows up as a spike of
    answered=false conversations while the capture is still arriving.
    Same hand-computed oracle as the batch op (availableNow over the
    complete fixture emits the identical flow frame)."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory

    register_pcap_source(spark)
    src = _biflow_fixture_path()
    land = _landing_dir("pcap_biflow_land", src, "biflow.pcap")
    flows = _flows_frame(
        spark.readStream.format("pcap").option("ipv6", "true").load(land)
    )
    # localCheckpoint before the pairing: memory-sink plans are not
    # MultiInstanceRelation (the round-12 lesson) — and the streaming
    # aggregation ran exactly once inside the stream anyway
    emitted = run_to_memory(flows, "complete").localCheckpoint(eager=True)
    return _biflow_pairing(emitted)


# Closed-flow emission parameters: a flow CLOSES after FLOW_GAP_SECONDS
# of idle time on its 5-tuple (the classic NetFlow inactive timeout),
# and is emitted once the watermark (max hardware stamp seen minus
# FLOW_WATERMARK_SECONDS of allowed lateness) passes its close. Sized
# to the fixture's t-10..t-1 stamp spread so both regimes are exercised:
# three flows close and emit, four stay open and are withheld.
FLOW_GAP_SECONDS = 3
FLOW_WATERMARK_SECONDS = 2

PCAP_CLOSED_FLOWS_ORACLE = f"""
WITH g AS ({{golden}}),
timed AS (
    SELECT src_ip, dst_ip, protocol, src_port, dst_port, len, mm_ts,
           mm_ts // 1000 AS evt_us
    FROM g WHERE mm_ts IS NOT NULL
),
seq AS (
    SELECT *,
           CASE WHEN evt_us - LAG(evt_us) OVER w >= {FLOW_GAP_SECONDS} * 1000000
                THEN 1 ELSE 0 END AS brk
    FROM timed
    WINDOW w AS (PARTITION BY src_ip, dst_ip, protocol, src_port, dst_port
                 ORDER BY evt_us)
),
isl AS (
    SELECT *,
           SUM(brk) OVER (PARTITION BY src_ip, dst_ip, protocol, src_port, dst_port
                          ORDER BY evt_us ROWS UNBOUNDED PRECEDING) AS sid
    FROM seq
),
agg AS (
    SELECT src_ip, dst_ip, protocol, src_port, dst_port,
           MIN(evt_us) AS flow_start,
           MAX(evt_us) + {FLOW_GAP_SECONDS} * 1000000 AS flow_end,
           CAST(COUNT(*) AS BIGINT) AS n_packets,
           CAST(SUM(len) AS BIGINT) AS n_bytes,
           MIN(mm_ts) AS first_ts
    FROM isl
    GROUP BY src_ip, dst_ip, protocol, src_port, dst_port, sid
),
horizon AS (
    SELECT MAX(evt_us) - {FLOW_WATERMARK_SECONDS} * 1000000 AS wm FROM timed
)
SELECT src_ip, dst_ip, protocol, src_port, dst_port, flow_start, flow_end,
       n_packets, n_bytes, first_ts
FROM agg, horizon
WHERE flow_end <= wm
""".format(golden=BIFLOW_GOLDEN_PACKETS_ORACLE)


@query("q_pcap_stream_closed_flows", PCAP_CLOSED_FLOWS_ORACLE)
def pcap_stream_closed_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STATE-BOUNDED live flow table — the continuous-capture shape
    q_pcap_stream_biflow's complete-mode aggregation can't take to
    production: state there is one row per 5-tuple EVER SEEN, re-emitted
    whole every trigger, which grows without bound on a capture feed.
    Here the per-5-tuple aggregation runs under a SESSION WINDOW on the
    hardware timestamp with a watermark (the q_stream_session_quality
    discipline applied to flows): a flow closes after FLOW_GAP_SECONDS
    idle, the row EMITS once (append mode) when the watermark passes its
    close, and its state is EVICTED — live state is bounded by flows
    active within the watermark horizon, not by history. Untimed frames
    (no Metamako stamp) carry no event time and stay on the batch path
    — the same packets the who-spoke-first feature already can't order.
    Dual-stack: the ipv6 option is on, so v6 flows close through the
    identical state machine (the fixture's earliest-stamped flows ARE
    the v6 conversation). [engine — not in reference]

    Scale design: one shuffle (packets → keyed session-window state),
    state size = active flows only (eviction pinned by
    tests/test_round14_ops.py::test_closed_flows_state_eviction via
    numRowsRemoved > 0 and the batch-equality pin on closed flows).
    Driven by run_to_memory_flushed: Python data sources never get the
    availableNow no-data flush batch (measured), so a fast
    processing-time trigger runs until the flush batch commits.
    Oracle: gaps-and-islands over the timed golden literal with the
    native session convention (merge on diff < gap, end = last + gap)
    CLIPPED to flow_end <= max(evt) - delay — the exact emission
    contract, stated in SQL (the q_stream_session two-regime
    technique)."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory_flushed

    register_pcap_source(spark)
    src = _biflow_fixture_path()
    land = _landing_dir("pcap_closedflow_land", src, "biflow.pcap")
    result, _progress = run_to_memory_flushed(closed_flows_plan(spark, land))
    return result


# NetFlow record splitting: a flow RECORD (the export unit) closes on
# idle silence (no packet for IDLE) or on the ACTIVE timeout (long
# flows export periodic records instead of one unbounded one). The
# active grid is aligned to each island's first packet (deterministic,
# fully parallel); reset-per-record exporters differ only on packets
# straddling a boundary, and the aligned rule is what a declarative
# engine can state exactly in both engines.
_FLOW_IDLE_NS = 10 * 10**9
_FLOW_ACTIVE_NS = 10 * 10**9

_TIMELINE_ROWS = [
    f"('{net}1', '{net}2', CAST(66 AS BIGINT), 'UDP', CAST(4000 AS INTEGER), "
    f"CAST(5000 AS INTEGER), CAST({(1_700_000_000 + off) * 10**9} AS BIGINT), "
    f"CAST({mmid} AS INTEGER), CAST({k + 1} AS SMALLINT))"
    for net, offs, mmid in (
        ("10.1.0.", (-30, -27, -24, -21, -18, -15), 1),
        ("10.2.0.", (-30, -29, -10, -9), 2),
        ("10.3.0.", (-5,), 3),
        ("10.5.0.", (-28, -19, -10, -1), 4),
    )
    for k, off in enumerate(offs)
] + [
    "('10.4.0.1', '10.4.0.2', CAST(50 AS BIGINT), 'UDP', CAST(4000 AS INTEGER), "
    f"CAST(5000 AS INTEGER), {_MM_NULLS})"
]
TIMELINE_GOLDEN_ORACLE = (
    f"SELECT {_PKT_COLS} FROM (VALUES\n    "
    + ",\n    ".join(_TIMELINE_ROWS)
    + f"\n) AS t({_PKT_COLS})"
)

_FLOW_KEYS_5 = "src_ip, dst_ip, protocol, src_port, dst_port"

FLOW_TIMEOUT_ORACLE = f"""
WITH g AS ({TIMELINE_GOLDEN_ORACLE}),
timed AS (SELECT * FROM g WHERE mm_ts IS NOT NULL),
seq AS (
    SELECT *, CASE WHEN mm_ts - LAG(mm_ts) OVER w >= {_FLOW_IDLE_NS}
                   THEN 1 ELSE 0 END AS brk
    FROM timed
    WINDOW w AS (PARTITION BY {_FLOW_KEYS_5} ORDER BY mm_ts)
),
isl AS (
    SELECT *, SUM(brk) OVER (PARTITION BY {_FLOW_KEYS_5}
                             ORDER BY mm_ts ROWS UNBOUNDED PRECEDING) AS sid
    FROM seq
),
ist AS (
    SELECT *, MIN(mm_ts) OVER (PARTITION BY {_FLOW_KEYS_5}, sid) AS island_start
    FROM isl
),
rec AS (
    SELECT *, (mm_ts - island_start) // {_FLOW_ACTIVE_NS} AS epoch FROM ist
)
SELECT {_FLOW_KEYS_5},
       MIN(mm_ts) AS record_start, MAX(mm_ts) AS record_end,
       CAST(COUNT(*) AS BIGINT) AS n_packets,
       CAST(SUM(len) AS BIGINT) AS n_bytes
FROM rec
GROUP BY {_FLOW_KEYS_5}, sid, epoch
"""


def _flow_timeline_path() -> str:
    from pcap_to_parquet_spark.sources.pcap_fixtures import flow_timeline_pcap_bytes

    return _cached_fixture_path("golden_timeline", flow_timeline_pcap_bytes())


@query("q_pcap_flow_timeout", FLOW_TIMEOUT_ORACLE)
def pcap_flow_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetFlow RECORD SPLITTING — the export semantics every flow
    collector implements and the plain flow table (q_pcap_flows, one
    row per 5-tuple ever) cannot express: a record closes after
    {idle} s of silence on its 5-tuple (idle timeout → gaps-and-islands
    on the hardware stamp) AND a long-lived island exports one record
    per {active} s of activity (active timeout → the island-start-
    aligned epoch grid), so an elephant flow becomes a bounded series
    of records instead of one unbounded accumulator. Untimed frames
    (no Metamako stamp) are excluded — time-based splitting is
    undefined for them (same contract as who-spoke-first and the
    streaming closed-flow table). [engine — not in reference]

    The aligned-grid active split is deterministic and fully parallel;
    reset-per-record exporters (record clock restarts at the first
    packet after a split) differ only for packets straddling a
    boundary — documented divergence, chosen because the grid rule is
    statable as one window + one integer division in BOTH engines
    (the q_sessionize discipline), where reset-per-record is a
    sequential per-key scan.

    Scale design: one shuffle of the packet scan onto the 5-tuple key;
    LAG + running SUM + MIN ride the SAME window partitioning (one
    sort); the record aggregate is a second, census-sized groupBy.
    Elephant keys: the per-key window sort is the only per-key
    sequential stage — a skewed capture salts by the active epoch
    computed from a coarse pre-bucket, the q_skew_planner playbook.
    Oracle: identical algebra over the golden timeline literal (active
    split, idle split, and single-packet record all exercised)."""
    from pyspark.sql import Window as W

    timed = read_pcap(spark, _flow_timeline_path()).where(
        F.col("mm_ts").isNotNull()
    )
    wk = W.partitionBy(*_FLOW_KEYS).orderBy("mm_ts")
    wrun = wk.rowsBetween(W.unboundedPreceding, W.currentRow)
    seq = timed.withColumn(
        "brk",
        F.when(
            F.col("mm_ts") - F.lag("mm_ts").over(wk) >= _FLOW_IDLE_NS, F.lit(1)
        ).otherwise(F.lit(0)),
    )
    isl = seq.withColumn("sid", F.sum("brk").over(wrun))
    wisl = W.partitionBy(*_FLOW_KEYS, "sid")
    # integer div (never float): ns offsets stay exact int64 like the
    # oracle's BIGINT // — float division would be exact here too
    # (< 2^53) but the parity argument shouldn't need that footnote
    rec = isl.withColumn("island_start", F.min("mm_ts").over(wisl)).withColumn(
        "epoch", F.expr(f"(mm_ts - island_start) div {_FLOW_ACTIVE_NS}")
    )
    return rec.groupBy(*_FLOW_KEYS, "sid", "epoch").agg(
        F.min("mm_ts").alias("record_start"),
        F.max("mm_ts").alias("record_end"),
        F.count(F.lit(1)).cast("long").alias("n_packets"),
        F.sum("len").cast("long").alias("n_bytes"),
    ).drop("sid", "epoch")


pcap_flow_timeout.__doc__ = pcap_flow_timeout.__doc__.format(
    idle=_FLOW_IDLE_NS // 10**9, active=_FLOW_ACTIVE_NS // 10**9
)


FLOW_TIMEOUT_RESET_ORACLE = f"""
WITH RECURSIVE g AS ({TIMELINE_GOLDEN_ORACLE}),
timed AS (SELECT * FROM g WHERE mm_ts IS NOT NULL),
t AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY {_FLOW_KEYS_5}
                                 ORDER BY mm_ts) AS rn
    FROM timed
),
walk AS (
    SELECT {_FLOW_KEYS_5}, rn, mm_ts, len, mm_ts AS rec_start, 1 AS rec_id
    FROM t WHERE rn = 1
    UNION ALL
    SELECT t.src_ip, t.dst_ip, t.protocol, t.src_port, t.dst_port,
           t.rn, t.mm_ts, t.len,
           CASE WHEN t.mm_ts - w.mm_ts >= {_FLOW_IDLE_NS}
                  OR t.mm_ts - w.rec_start >= {_FLOW_ACTIVE_NS}
                THEN t.mm_ts ELSE w.rec_start END,
           w.rec_id + CASE WHEN t.mm_ts - w.mm_ts >= {_FLOW_IDLE_NS}
                             OR t.mm_ts - w.rec_start >= {_FLOW_ACTIVE_NS}
                           THEN 1 ELSE 0 END
    FROM walk w
    JOIN t ON t.src_ip = w.src_ip AND t.dst_ip = w.dst_ip
          AND t.protocol = w.protocol AND t.src_port = w.src_port
          AND t.dst_port = w.dst_port AND t.rn = w.rn + 1
)
SELECT {_FLOW_KEYS_5},
       MIN(mm_ts) AS record_start, MAX(mm_ts) AS record_end,
       CAST(COUNT(*) AS BIGINT) AS n_packets,
       CAST(SUM(len) AS BIGINT) AS n_bytes
FROM walk
GROUP BY {_FLOW_KEYS_5}, rec_id
"""


@query("q_pcap_flow_timeout_reset", FLOW_TIMEOUT_RESET_ORACLE)
def pcap_flow_timeout_reset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESET-PER-RECORD flow timeout — the OTHER exporter rule, for
    collectors that restart the active clock at the first packet after
    each split (q_pcap_flow_timeout's docstring names this divergence;
    now both rules ship, oracle-exact, on the same fixture): walk each
    5-tuple's packets in time order, close the record when the idle
    gap OR the record's own age reaches the timeout, and start the
    next record AT the closing packet. On the fixture's rule-divergent
    flow (9 s cadence, so idle never fires) the grid rule cuts 3
    records where this rule cuts 2 — the divergence the two ops
    exist to make explicit. [engine — not in reference]

    Scale design: the rule is intrinsically SEQUENTIAL per key (each
    record's start depends on the previous split), so this is the
    honest applyInPandas shape — one shuffle onto the 5-tuple, one
    Arrow-batched linear walk per key (numpy in, numpy out), then the
    same census-sized record aggregate. That per-key scan is the
    rule's intrinsic cost; a capture whose single hottest 5-tuple
    overflows a task should use the island-aligned grid op, which is
    fully parallel — that trade is exactly why both exist. Oracle: a
    RECURSIVE CTE walking rn → rn+1 per key with the same
    close-and-reset state machine (chains across keys advance in the
    same iteration, so depth = max packets per key)."""
    import pandas as pd

    timed = read_pcap(spark, _flow_timeline_path()).where(
        F.col("mm_ts").isNotNull()
    )

    def walk(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pdf = pdf.sort_values("mm_ts")
        ts = pdf["mm_ts"].to_numpy()
        rec = [0] * len(ts)
        start = prev = ts[0]
        rid = 0
        for i in range(1, len(ts)):
            if ts[i] - prev >= _FLOW_IDLE_NS or ts[i] - start >= _FLOW_ACTIVE_NS:
                rid += 1
                start = ts[i]
            prev = ts[i]
            rec[i] = rid
        return pdf.assign(rec_id=rec)[
            ["src_ip", "dst_ip", "protocol", "src_port", "dst_port",
             "rec_id", "mm_ts", "len"]
        ]

    schema = (
        "src_ip string, dst_ip string, protocol string, src_port int, "
        "dst_port int, rec_id long, mm_ts long, len long"
    )
    walked = timed.groupBy(*_FLOW_KEYS).applyInPandas(walk, schema)
    return walked.groupBy(*_FLOW_KEYS, "rec_id").agg(
        F.min("mm_ts").alias("record_start"),
        F.max("mm_ts").alias("record_end"),
        F.count(F.lit(1)).cast("long").alias("n_packets"),
        F.sum("len").cast("long").alias("n_bytes"),
    ).drop("rec_id")


STREAM_FLOW_RECORDS_ORACLE = f"""
WITH g AS ({TIMELINE_GOLDEN_ORACLE}),
timed AS (
    SELECT *, mm_ts // 1000 AS evt_us, mm_ts // {_FLOW_ACTIVE_NS} AS epoch
    FROM g WHERE mm_ts IS NOT NULL
),
seq AS (
    SELECT *, CASE WHEN evt_us - LAG(evt_us) OVER w >= {_FLOW_IDLE_NS // 1000}
                   THEN 1 ELSE 0 END AS brk
    FROM timed
    WINDOW w AS (PARTITION BY {_FLOW_KEYS_5}, epoch ORDER BY evt_us)
),
isl AS (
    SELECT *, SUM(brk) OVER (PARTITION BY {_FLOW_KEYS_5}, epoch
                             ORDER BY evt_us ROWS UNBOUNDED PRECEDING) AS sid
    FROM seq
),
agg AS (
    SELECT {_FLOW_KEYS_5},
           MIN(evt_us) AS record_start,
           MAX(evt_us) + {_FLOW_IDLE_NS // 1000} AS record_close,
           CAST(COUNT(*) AS BIGINT) AS n_packets,
           CAST(SUM(len) AS BIGINT) AS n_bytes
    FROM isl
    GROUP BY {_FLOW_KEYS_5}, epoch, sid
),
horizon AS (
    SELECT MAX(evt_us) - {FLOW_WATERMARK_SECONDS} * 1000000 AS wm FROM timed
)
SELECT {_FLOW_KEYS_5}, record_start, record_close, n_packets, n_bytes
FROM agg, horizon
WHERE record_close <= wm
"""


@query("q_pcap_stream_flow_records", STREAM_FLOW_RECORDS_ORACLE)
def pcap_stream_flow_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NetFlow record splitting ON THE INGEST PATH — the live twin of
    q_pcap_flow_timeout, and the missing state bound of
    q_pcap_stream_closed_flows: a session window alone bounds state by
    ACTIVE flows, but one elephant flow that never goes idle keeps one
    ever-growing state row and never emits. Here the active timeout is
    a GLOBAL wall-clock grid (epoch = mm_ts div active, a map-side
    integer division — exactly how wall-aligned exporters behave), the
    grid epoch joins the grouping key, and the idle split is a session
    window WITHIN (5-tuple, epoch): an elephant flow now emits one
    record per grid interval as the watermark passes each boundary and
    its state row is evicted — per-key state is bounded by the active
    interval, not by flow lifetime. Divergence from the batch op's
    island-aligned grid (wall-aligned vs island-aligned active split)
    is the same trade every collector documents; both ops carry exact
    oracles of their own rule. [engine — not in reference]

    Scale design: one shuffle (packets → keyed session-window state);
    the epoch key adds no extra exchange (same hash partitioning);
    eviction pinned by tests/test_round14_ops.py (numRowsRemoved ≥ 1,
    emitted records equal the batch algebra's closed set). Oracle:
    islands within (key, epoch) over the timed golden literal CLIPPED
    to record_close <= max(evt) - delay — the q_stream_session
    two-regime technique."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory_flushed

    register_pcap_source(spark)
    src = _flow_timeline_path()
    land = _landing_dir("pcap_flowrec_land", src, "timeline.pcap")
    result, _progress = run_to_memory_flushed(stream_flow_records_plan(spark, land))
    return result


def stream_flow_records_plan(spark: SparkSession, land_dir: str) -> DataFrame:
    """The streaming plan of q_pcap_stream_flow_records, reusable by
    the state-eviction pin test."""
    pkts = spark.readStream.format("pcap").load(land_dir)
    timed = (
        pkts.filter(F.col("mm_ts").isNotNull())
        .withColumn("evt", F.timestamp_micros(F.expr("mm_ts div 1000")))
        .withColumn("epoch", F.expr(f"mm_ts div {_FLOW_ACTIVE_NS}"))
    )
    gap_s = _FLOW_IDLE_NS // 10**9
    return (
        timed.withWatermark("evt", f"{FLOW_WATERMARK_SECONDS} seconds")
        .groupBy(
            F.session_window("evt", f"{gap_s} seconds"),
            *_FLOW_KEYS,
            "epoch",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_packets"),
            F.sum("len").cast("long").alias("n_bytes"),
        )
        .select(
            *_FLOW_KEYS,
            F.unix_micros("session_window.start").alias("record_start"),
            F.unix_micros("session_window.end").alias("record_close"),
            "n_packets",
            "n_bytes",
        )
    )


def closed_flows_plan(spark: SparkSession, land_dir: str) -> DataFrame:
    """The streaming plan of q_pcap_stream_closed_flows, reusable by
    tests that need the raw query handle (state-eviction pin)."""
    pkts = spark.readStream.format("pcap").option("ipv6", "true").load(land_dir)
    timed = pkts.filter(F.col("mm_ts").isNotNull()).withColumn(
        "evt", F.timestamp_micros(F.expr("mm_ts div 1000"))
    )
    return (
        timed.withWatermark("evt", f"{FLOW_WATERMARK_SECONDS} seconds")
        .groupBy(
            F.session_window("evt", f"{FLOW_GAP_SECONDS} seconds"),
            "src_ip", "dst_ip", "protocol", "src_port", "dst_port",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_packets"),
            F.sum("len").cast("long").alias("n_bytes"),
            F.min("mm_ts").alias("first_ts"),
        )
        .select(
            "src_ip", "dst_ip", "protocol", "src_port", "dst_port",
            F.unix_micros("session_window.start").alias("flow_start"),
            F.unix_micros("session_window.end").alias("flow_end"),
            "n_packets", "n_bytes", "first_ts",
        )
    )


PCAP_TALKERS_ORACLE = f"""
WITH g AS ({BIFLOW_GOLDEN_PACKETS_ORACLE}),
roles AS (
    SELECT src_ip AS endpoint_ip, dst_ip AS peer_ip, len, 1 AS is_out FROM g
    UNION ALL
    SELECT dst_ip AS endpoint_ip, src_ip AS peer_ip, len, 0 AS is_out FROM g
)
SELECT endpoint_ip,
       CAST(COALESCE(SUM(CASE WHEN is_out = 1 THEN 1 END), 0) AS BIGINT) AS out_packets,
       CAST(COALESCE(SUM(CASE WHEN is_out = 1 THEN len END), 0) AS BIGINT) AS out_bytes,
       CAST(COALESCE(SUM(CASE WHEN is_out = 0 THEN 1 END), 0) AS BIGINT) AS in_packets,
       CAST(COALESCE(SUM(CASE WHEN is_out = 0 THEN len END), 0) AS BIGINT) AS in_bytes,
       CAST(COUNT(DISTINCT peer_ip) AS BIGINT) AS n_peers,
       CASE WHEN COALESCE(SUM(CASE WHEN is_out = 0 THEN len END), 0) > 0
            THEN ROUND(COALESCE(SUM(CASE WHEN is_out = 1 THEN len END), 0) * 1.0
                       / SUM(CASE WHEN is_out = 0 THEN len END), 4)
       END AS io_byte_ratio
FROM roles
GROUP BY endpoint_ip
"""


@query("q_pcap_talkers", PCAP_TALKERS_ORACLE)
def pcap_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-TALKERS endpoint census — the other classic NetFlow view
    (biflow is per-conversation; this is per-ENDPOINT): every packet
    contributes to its source's 'out' role and its destination's 'in'
    role, yielding per-address out/in packet+byte totals, the distinct
    peer count (fan-out — a scanner's tell), and the out/in byte ratio
    (an exfil tell when it spikes on a workstation). The undecodable
    catch-all keeps a NULL endpoint row; NULL peers don't count toward
    n_peers (COUNT DISTINCT semantics, identical both engines).
    Dual-stack: v6 endpoints census alongside v4 ones —
    one address space, two text shapes. [engine — not in reference]

    Scale design: ONE decoded scan → the two roles EXPLODE map-side
    from each packet row (an inline 2-element struct array — a union
    of two selects would re-run the decode kernel per branch, which
    PLANS.md caught as MapInPandas×2 on the first draft) → one
    partial+final aggregate keyed by endpoint. The distinct-peer
    count rides the same aggregate (Spark expands to a two-phase
    exact distinct). Endpoint cardinality is census-sized relative to
    packets (every packet has exactly 2 roles).
    Oracle: identical algebra over the bidirectional golden literal
    (DuckDB's UNION ALL over the VALUES literal — free there)."""
    df = read_pcap(spark, _biflow_fixture_path(), ipv6=True)
    roles = df.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src_ip").alias("endpoint_ip"),
                    F.col("dst_ip").alias("peer_ip"),
                    F.lit(1).alias("is_out"),
                ),
                F.struct(
                    F.col("dst_ip").alias("endpoint_ip"),
                    F.col("src_ip").alias("peer_ip"),
                    F.lit(0).alias("is_out"),
                ),
            )
        ).alias("r"),
        "len",
    ).select("r.endpoint_ip", "r.peer_ip", "len", "r.is_out")
    out_b = F.coalesce(F.sum(F.when(F.col("is_out") == 1, F.col("len"))), F.lit(0))
    in_b = F.coalesce(F.sum(F.when(F.col("is_out") == 0, F.col("len"))), F.lit(0))
    return roles.groupBy("endpoint_ip").agg(
        F.coalesce(F.sum(F.when(F.col("is_out") == 1, 1)), F.lit(0))
        .cast("long").alias("out_packets"),
        out_b.cast("long").alias("out_bytes"),
        F.coalesce(F.sum(F.when(F.col("is_out") == 0, 1)), F.lit(0))
        .cast("long").alias("in_packets"),
        in_b.cast("long").alias("in_bytes"),
        F.countDistinct("peer_ip").cast("long").alias("n_peers"),
        F.when(in_b > 0, F.round(out_b * 1.0 / in_b, 4)).alias("io_byte_ratio"),
    )


# the talkers census live twin — per-endpoint aggregation over the
# WATERMARK-EVICTED closed flows of q_pcap_stream_closed_flows
PCAP_STREAM_TALKERS_ORACLE = f"""
WITH closed AS ({PCAP_CLOSED_FLOWS_ORACLE}),
roles AS (
    SELECT src_ip AS endpoint_ip, dst_ip AS peer_ip, n_packets, n_bytes,
           1 AS is_out
    FROM closed
    UNION ALL
    SELECT dst_ip AS endpoint_ip, src_ip AS peer_ip, n_packets, n_bytes,
           0 AS is_out
    FROM closed
)
SELECT endpoint_ip,
       CAST(COALESCE(SUM(CASE WHEN is_out = 1 THEN n_packets END), 0) AS BIGINT)
           AS out_packets,
       CAST(COALESCE(SUM(CASE WHEN is_out = 1 THEN n_bytes END), 0) AS BIGINT)
           AS out_bytes,
       CAST(COALESCE(SUM(CASE WHEN is_out = 0 THEN n_packets END), 0) AS BIGINT)
           AS in_packets,
       CAST(COALESCE(SUM(CASE WHEN is_out = 0 THEN n_bytes END), 0) AS BIGINT)
           AS in_bytes,
       CAST(COUNT(DISTINCT peer_ip) AS BIGINT) AS n_peers,
       CAST(COUNT(*) AS BIGINT) AS n_flows,
       CASE WHEN COALESCE(SUM(CASE WHEN is_out = 0 THEN n_bytes END), 0) > 0
            THEN ROUND(COALESCE(SUM(CASE WHEN is_out = 1 THEN n_bytes END), 0) * 1.0
                       / SUM(CASE WHEN is_out = 0 THEN n_bytes END), 4)
       END AS io_byte_ratio
FROM roles
GROUP BY endpoint_ip
"""


def talkers_census_from_flows(flows: DataFrame) -> DataFrame:
    """Per-endpoint census over a closed-flow frame (src/dst 5-tuple
    keys + n_packets/n_bytes): each flow record contributes to its
    source's 'out' role and its destination's 'in' role. Shared by the
    streaming talkers twin and its batch-equality pin so the census
    algebra cannot diverge between modes (the q_stream_session_quality
    discipline). The two roles explode map-side from each flow row —
    an inline 2-element struct array, never a union of two selects
    (which would re-run the upstream source per branch)."""
    roles = flows.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("src_ip").alias("endpoint_ip"),
                    F.col("dst_ip").alias("peer_ip"),
                    F.lit(1).alias("is_out"),
                ),
                F.struct(
                    F.col("dst_ip").alias("endpoint_ip"),
                    F.col("src_ip").alias("peer_ip"),
                    F.lit(0).alias("is_out"),
                ),
            )
        ).alias("r"),
        "n_packets",
        "n_bytes",
    ).select("r.endpoint_ip", "r.peer_ip", "n_packets", "n_bytes", "r.is_out")
    out_b = F.coalesce(
        F.sum(F.when(F.col("is_out") == 1, F.col("n_bytes"))), F.lit(0)
    )
    in_b = F.coalesce(
        F.sum(F.when(F.col("is_out") == 0, F.col("n_bytes"))), F.lit(0)
    )
    return roles.groupBy("endpoint_ip").agg(
        F.coalesce(F.sum(F.when(F.col("is_out") == 1, F.col("n_packets"))), F.lit(0))
        .cast("long").alias("out_packets"),
        out_b.cast("long").alias("out_bytes"),
        F.coalesce(F.sum(F.when(F.col("is_out") == 0, F.col("n_packets"))), F.lit(0))
        .cast("long").alias("in_packets"),
        in_b.cast("long").alias("in_bytes"),
        F.countDistinct("peer_ip").cast("long").alias("n_peers"),
        F.count(F.lit(1)).cast("long").alias("n_flows"),
        F.when(in_b > 0, F.round(out_b * 1.0 / in_b, 4)).alias("io_byte_ratio"),
    )


@query("q_pcap_stream_talkers", PCAP_STREAM_TALKERS_ORACLE)
def pcap_stream_talkers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOP-TALKERS census ON THE INGEST PATH — q_pcap_talkers' live
    twin, and the serving query the round-14 closed-flow substrate was
    built to carry: the unbounded half is the ONE session-window
    aggregation of q_pcap_stream_closed_flows (state bounded by ACTIVE
    flows; closed flows emit once and evict), and the per-endpoint
    census — out/in packets+bytes, distinct-peer fan-out (a scanner's
    tell), closed-flow participation count, out/in byte ratio (an
    exfil tell) — runs as the batch serving query over the emitted
    closed-flow frame via the shared talkers_census_from_flows kernel.
    This is the live SOC dashboard view: a workstation whose byte
    ratio spikes shows up as its flows CLOSE, not in tomorrow's batch
    census. Only closed traffic is census input (open flows are
    withheld by the watermark), so counts are per-FLOW-record rolls of
    the packet-level batch census, restricted to the emitted set.
    Dual-stack by construction: the substrate decodes with ipv6 on.
    [engine — not in reference]

    Scale design: the stream half is unchanged (one shuffle into
    session-window state, eviction pinned by its tests); the census
    half explodes two roles map-side per CLOSED FLOW (flow-record
    cardinality, already far below packet cardinality) and runs one
    partial+final aggregate keyed by endpoint. Oracle: the closed-flow
    oracle nested verbatim + the identical roles/census algebra, so
    the emission contract and the census can't drift apart.
    Batch-equality pin: tests/test_round15_ops.py checks this result
    equals talkers_census_from_flows over the batch gaps-and-islands
    closed set."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory_flushed

    register_pcap_source(spark)
    src = _biflow_fixture_path()
    land = _landing_dir("pcap_closedflow_land", src, "biflow.pcap")
    closed, _progress = run_to_memory_flushed(closed_flows_plan(spark, land))
    return talkers_census_from_flows(closed)


@query("q_pcap_roundtrip", GOLDEN_PACKETS_ORACLE)
def pcap_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture round-trip — the capability the one-way reference never
    had: decode the golden capture, WRITE it back as legacy pcap via
    the data source's writer (``df.write.format("pcap")``), re-decode
    the written files. The oracle is the same golden literal, so every
    written frame must re-decode to exactly the original row —
    including Metamako trailers (re-anchored capture second, trailer
    flush at origlen) and undecodable rows (non-IP frames that keep
    their reported length). This is what makes the engine a capture
    FILTER: read lake → predicate → write pcap hands tcpdump-shaped
    tools a valid capture of just the matching traffic."""
    import os
    import tempfile

    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    src = _fixture_path()
    out = os.path.join(
        tempfile.gettempdir(),
        f"pcap_rt_{os.path.getmtime(src):.0f}_{os.path.getsize(src)}",
    )
    if not os.path.isdir(out) or not os.listdir(out):
        spark.read.format("pcap").load(src).write.format("pcap").mode("append").save(out)
    return spark.read.format("pcap").load(os.path.join(out, "*.pcap"))


@query("q_pcap_stream_flows", PCAP_FLOWS_ORACLE)
def pcap_stream_flows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING packet analytics end-to-end: the golden capture lands
    in a watched directory, ``spark.readStream.format("pcap")`` tails
    it (one partition per arriving file), and the NetFlow rollup runs
    as a streaming aggregation in complete mode — the live twin of
    q_pcap_flows with the SAME hand-computed oracle. This is the
    capture-directory → live flow table pipeline: at scale the
    aggregation state is one row per active flow, and the same plan
    keeps running as new captures arrive."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
    from pcap_to_parquet_spark.streaming.stream_queries import run_to_memory

    register_pcap_source(spark)
    src = _fixture_path()
    land = _landing_dir("pcap_land", src, "golden.pcap")
    flows = (
        spark.readStream.format("pcap")
        .load(land)
        .groupBy("src_ip", "dst_ip", "protocol", "src_port", "dst_port")
        .agg(
            F.count(F.lit(1)).alias("n_packets"),
            F.sum("len").alias("n_bytes"),
        )
    )
    return run_to_memory(flows, "complete")
