"""Round-16 optimization hardening tests.

- broadcast_threshold_bytes must parse every unit spelling the JVM
  accepts and fall back to 0 (= never broadcast) on anything exotic:
  the scale-adaptive join gates in q_triangle_count / q_pagerank read
  it from driver-provided sessions whose values the engine doesn't
  control (r15 advisor: a '10MB' value crashed the old int() parse).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pcap_to_parquet_spark.session import broadcast_threshold_bytes, parse_byte_conf
from tests.conftest import SF0001

KEY = "spark.sql.autoBroadcastJoinThreshold"


@pytest.mark.parametrize(
    ("raw", "expect"),
    [
        ("67108864", 64 << 20),
        ("10485760b", 10 << 20),
        ("10MB", 10 << 20),
        ("10mb", 10 << 20),
        ("64m", 64 << 20),
        ("1g", 1 << 30),
        ("2GB", 2 << 30),
        ("1t", 1 << 40),
        ("512k", 512 << 10),
        (" 64m ", 64 << 20),
        ("-1", 0),  # disabled -> never broadcast
        ("garbage", 0),  # unparseable -> never broadcast
        ("", 0),
        # the JVM accepts integers only: no fraction, no exponent
        ("10.5m", 0),
        ("1e6", 0),
        ("1.0", 0),
        ("-1m", 0),
        ("10xb", 0),
    ],
)
def test_parse_byte_conf_jvm_unit_suffixes(raw, expect):
    # pure-parser test: a LIVE session validates values on conf.set, but
    # a driver-built session can carry any spelling via builder config —
    # the parser must absorb them all without raising
    assert parse_byte_conf(raw) == expect


def test_broadcast_threshold_reads_live_session_conf(spark):
    old = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "10MB")
        assert broadcast_threshold_bytes(spark) == 10 << 20
        spark.conf.set(KEY, "-1")
        assert broadcast_threshold_bytes(spark) == 0
    finally:
        spark.conf.set(KEY, old)


def test_triangle_count_survives_suffixed_threshold(spark, tiny_docs_dir):
    """The r15 advisor's crash case: an external session carrying a
    unit-suffixed threshold must fall through to a (correct) plan, not
    raise ValueError inside the gate."""
    import pcap_to_parquet_spark.operators  # noqa: F401
    from pcap_to_parquet_spark.registry import QUERIES

    old = spark.conf.get(KEY)
    try:
        spark.conf.set(KEY, "10MB")
        df = QUERIES["q_triangle_count"](spark, SF0001)
        row = df.collect()[0]
        assert row.n_edges >= 0 and row.n_triangles >= 0
    finally:
        spark.conf.set(KEY, old)
