"""Shared fixtures: one local SparkSession for the whole test run, the
testdata paths, the writers that build hand-traced table lakes, and the
hand-computed rows of the IPv6 golden capture."""

from __future__ import annotations

import datetime as dt
import os
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))
from observe import read_status_store, window_counters  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"

_T0 = dt.datetime(2024, 1, 1, 0, 0, 0)

_DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"
_EVENT_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _write(spark, path, rows, schema=_DOC_SCHEMA, name="documents"):
    """Write ``rows`` as table ``name`` of the lake at ``path``."""
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(path / f"{name}.parquet")
    )


def _docs_lake(spark, path, rows):
    """A lake at ``path`` whose only table is ``documents``."""
    _write(spark, path, rows)
    return str(path)


def _events_lake(spark, path, rows, single_file=False):
    dest = path / "events.parquet"
    # write micros, not INT96: the streaming source's footer-dispatched
    # schema (events_raw_schema) supports nanos-as-long / micros / tz
    # encodings, and INT96 is none of them
    old = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        spark.createDataFrame(rows, _EVENT_SCHEMA).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(dest))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", old)
    if single_file:
        # the streaming file source stages sf_dir/events.parquet as a
        # FILE (like the testdata); collapse the directory write
        import glob
        import shutil

        part = glob.glob(str(dest / "part-*.parquet"))[0]
        tmp = str(path / "_events_single.parquet")
        shutil.move(part, tmp)
        shutil.rmtree(str(dest))
        shutil.move(tmp, str(dest))
    return str(path)


def _closed_flows_land(spark, tmp_path) -> str:
    """A landing dir under ``tmp_path`` holding the biflow capture, with
    the pcap stream source registered."""
    from pcap_to_parquet_spark.operators.pcap_query import (
        _biflow_fixture_path,
        _stage_capture,
    )
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    return _stage_capture(_biflow_fixture_path(), str(tmp_path), "biflow.pcap")


def _null_row(length: int) -> dict:
    return {
        "src_ip": None,
        "dst_ip": None,
        "len": length,
        "protocol": None,
        "src_port": None,
        "dst_port": None,
        "mm_ts": None,
        "mm_id": None,
        "mm_port": None,
    }


def _row(src, dst, length, proto, sport, dport, mm_ts=None, mm_id=None, mm_port=None):
    return {
        "src_ip": src,
        "dst_ip": dst,
        "len": length,
        "protocol": proto,
        "src_port": sport,
        "dst_port": dport,
        "mm_ts": mm_ts,
        "mm_id": mm_id,
        "mm_port": mm_port,
    }


# the ipv6=True decode of sources/pcap_fixtures.v6_golden_pcap_bytes,
# hand-computed from the byte layout in v6_fixture_packets (fixture
# insertion order); every assertion on it is independent of the decoder
V6_GOLDEN_ROWS = [
    _row("2001:db8::1", "2001:db8::2", 70, "UDP", 1234, 5678),
    _row("2001:db8:0:1::10", "2001:db8:0:1::20", 74, "TCP", 443, 8443),
    _row("fe80::1", "ff02::1", 58, "ICMPv6", None, None),
    _row("2001:db8:ff::a", "2001:db8:ff::b", 74, "UDP", 53, 5353),
    # hop-by-hop walked to UDP, zero L4 bytes left: named, ports NULL
    _row("2001:db8::dead", "2001:db8::beef", 62, "UDP", None, None),
    # two-hop chain (hbh -> dest-opts) lands ports at 40+8+16
    _row("2001:db8:c::1", "2001:db8:c::2", 94, "UDP", 21, 22),
    # atomic fragment (offset 0): L4 present
    _row("2001:db8:f::1", "2001:db8:f::2", 82, "TCP", 80, 443),
    # non-first fragment: protocol named from the chain, no L4 header
    _row("2001:db8:f::1", "2001:db8:f::2", 66, "TCP", None, None),
    # ESP terminates the walk unnamed: addresses only
    _row("2001:db8:5::1", "2001:db8:5::2", 70, None, None, None),
    _row("2001:db8::1:0:0:1", "::1", 70, "UDP", 7, 9),  # RFC 5952 leftmost run
    _row("2001:db8::1", "2001:db8::2", 86, "UDP", 1234, 5678,
         1699999998500000123, 7, 3),  # trailer orthogonal to L3 stack
    _null_row(30),  # truncated below the 40-byte v6 header
    _row("10.0.0.1", "10.0.0.2", 50, "UDP", 1234, 5678),  # dual-stack v4
]


def count_jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, from the status store."""
    sc = spark.sparkContext
    start = time.time()
    fn()
    end = time.time()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_times, stages = read_status_store(spark)
    return int(window_counters(job_times, stages, start, end, sc.defaultParallelism)["jobs"])


def count_actions(spark, fn) -> int:
    """SQL executions (actions: each localCheckpoint, count, collect or
    write) that ``fn`` runs, from the SQL status store. Counts the
    execution ids above the highest one recorded before ``fn``: the
    store keeps only the newest ``spark.sql.ui.retainedExecutions``, so
    in a long session its length stops growing."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids() -> list[int]:
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    before = max(ids(), default=-1)
    fn()
    return sum(1 for i in ids() if i > before)


@pytest.fixture(scope="session")
def spark():
    from pcap_to_parquet_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tiny_docs_dir(spark, tmp_path_factory):
    """A minimal sf_dir with a planted-duplicate documents table:

    - docs 0 and 1: identical text (exact + near dup)
    - doc 2: one word changed out of 30 (near dup of 0/1, not exact)
    - doc 3: unrelated text
    - doc 4: short (< 3 tokens → zero shingles)
    """
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(("CHANGED" if i == 7 else f"w{i}") for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    rows = [
        (0, base, "en", "srcA", len(base)),
        (1, base, "en", "srcB", len(base)),
        (2, near, "en", "srcA", len(near)),
        (3, other, "en", "srcA", len(other)),
        (4, "too short", "en", "srcA", 9),
    ]
    d = tmp_path_factory.mktemp("tinysf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)
