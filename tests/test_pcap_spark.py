"""Spark pcap pipeline: golden fixture → DataFrame → zstd parquet → DuckDB.

The DuckDB readback IS the reference's contract: "write standard
Parquet; query it with any SQL engine" (reference README.md:20-40).
"""

from __future__ import annotations

import duckdb
import pytest

from pcap_to_parquet_spark.operators.pcap_query import _fixture_path
from pcap_to_parquet_spark.operators.udtf_udaf import pcap_records
from pcap_to_parquet_spark.schema import PACKET_SCHEMA
from pcap_to_parquet_spark.sources.pcap import PcapFormatError, convert_pcap, read_pcap
from pcap_to_parquet_spark.sources.pcap_chunked import read_pcap_chunked
from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source
from pcap_to_parquet_spark.sources.pcap_fixtures import (
    BASE_TS,
    fixture_packets,
    golden_pcap_bytes,
    pcap_file,
)
from pcap_to_parquet_spark.sources.pcapng import PCAPNG_MAGIC, read_pcapng


def test_read_pcap_schema_and_rowcount(spark):
    df = read_pcap(spark, _fixture_path())
    assert df.schema == PACKET_SCHEMA
    assert df.count() == len(fixture_packets())  # one row per packet, always


def test_read_pcap_exact_int64_timestamps(spark):
    # ns-scale int64 must survive the Arrow/pandas batch exactly
    # (plain pandas int-with-None columns silently become float64)
    rows = {r.mm_id: r for r in read_pcap(spark, _fixture_path()).collect() if r.mm_id}
    assert rows[9].mm_ts == (BASE_TS - 5) * 10**9 + 777_777_777
    assert rows[1].mm_ts == (BASE_TS - 3) * 10**9 + 111_111_111


def test_convert_pcap_duckdb_readback(spark, tmp_path):
    out = str(tmp_path / "packets")
    convert_pcap(spark, _fixture_path(), out)
    con = duckdb.connect()
    n, n_udp, mm_max = con.execute(
        f"""SELECT COUNT(*), COUNT(*) FILTER (protocol = 'UDP'),
                   MAX(mm_ts) FROM '{out}/*.parquet'"""
    ).fetchone()
    assert n == len(fixture_packets())
    assert n_udp >= 4  # udp_plain, vlan_udp, mm_* carriers
    assert mm_max == (BASE_TS - 2) * 10**9 + 500_000_123  # exact, not float-rounded
    # codec parity with the reference (main.rs:72-75)
    comp = con.execute(
        f"SELECT DISTINCT compression FROM parquet_metadata('{out}/*.parquet')"
    ).fetchall()
    assert all("ZSTD" in c[0].upper() for c in comp)


def test_convert_pcap_partitioned_pruning(spark, tmp_path):
    out = str(tmp_path / "packets_by_proto")
    convert_pcap(spark, _fixture_path(), out, partition_cols=["protocol"])
    df = spark.read.parquet(out).filter("protocol = 'UDP'")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the filter must become a PartitionFilter (directory pruning),
    # not a post-scan predicate
    assert "PartitionFilters: [isnotnull(protocol" in plan
    assert df.count() >= 4
    # round-trip values survive the partition column moving into the path
    back = {(r.src_ip, r.src_port) for r in df.collect()}
    assert ("10.0.0.1", 1234) in back


def _format_pcap(spark, path):
    register_pcap_source(spark)
    return spark.read.format("pcap").load(path)


ENTRY_POINTS = {
    "read_pcap": read_pcap,
    "read_pcap_chunked": read_pcap_chunked,
    "format_pcap": _format_pcap,
    "pcap_records": pcap_records,
}

BAD_INPUTS = {
    "short": b"\x00" * 10,
    "pcapng_header": PCAPNG_MAGIC + b"\x00" * 20,  # exactly 24 bytes
    "pcapng": PCAPNG_MAGIC + b"\x00" * 100,
}


def _fails_as_pcap_format_error(read) -> None:  # noqa: ANN001
    """``read()`` raises ``PcapFormatError``: on the driver, or wrapped
    by Spark from a planner or executor worker."""
    with pytest.raises(Exception) as err:
        read()
    assert isinstance(err.value, PcapFormatError) or "PcapFormatError" in str(err.value)


@pytest.mark.parametrize("entry", list(ENTRY_POINTS))
def test_read_pcap_rejects_non_pcap(spark, tmp_path, entry):
    """Every pcap entry point gives the same outcome on the same input:
    short or non-pcap files and an empty directory fail loud, a
    header-only capture is zero rows, and ``_``/``.``-prefixed files in
    a directory are skipped."""
    read = ENTRY_POINTS[entry]
    empty = tmp_path / "empty"
    empty.mkdir()
    _fails_as_pcap_format_error(lambda: read(spark, str(empty)).collect())
    for name, content in BAD_INPUTS.items():
        bad = tmp_path / f"{name}.pcap"
        bad.write_bytes(content)
        with pytest.raises(Exception, match="PcapFormatError"):
            read(spark, str(bad)).collect()

    header_only = tmp_path / "header_only.pcap"
    header_only.write_bytes(pcap_file([]))
    assert read(spark, str(header_only)).count() == 0

    captures = tmp_path / "captures"
    captures.mkdir()
    for name in ("a.pcap", "_hidden.pcap", ".dot.pcap"):
        (captures / name).write_bytes(golden_pcap_bytes())
    assert read(spark, str(captures)).count() == len(fixture_packets())


def test_pcap_records_packs_units_like_the_scan(spark, tmp_path):
    """``pcap_records`` packs its whole-file units with ``pack_units``,
    as the pcap scan does: one partition per bin, each holding the
    records of that bin's files."""
    from pcap_to_parquet_spark.sources.pcap import _WHOLE_FILE
    from pcap_to_parquet_spark.sources.pcap_chunked import chunk_specs, pack_units

    n = spark.sparkContext.defaultParallelism + 2
    records = {}
    for k in range(n):  # one big capture, the rest of growing size
        count = 8 * n if k == 0 else k
        records[str(tmp_path / f"f{k:02d}.pcap")] = count
        frame = bytes(60)
        (tmp_path / f"f{k:02d}.pcap").write_bytes(
            pcap_file([(i, len(frame), frame) for i in range(count)])
        )
    bins = pack_units(chunk_specs(str(tmp_path), _WHOLE_FILE), n - 2)
    got = pcap_records(spark, str(tmp_path)).rdd.glom().map(len).collect()
    assert got == [sum(records[f] for f, _s, _e in b) for b in bins]


def test_read_pcapng_rejects_legacy_pcap(spark, tmp_path):
    with pytest.raises(Exception, match="PcapFormatError"):
        read_pcapng(spark, _fixture_path()).collect()
    _fails_as_pcap_format_error(lambda: read_pcapng(spark, str(tmp_path)).collect())  # empty dir
