"""Chunked pcap reader: chunked == unchunked, at every boundary."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pcap_to_parquet_spark.sources.pcap import decode_pcap_bytes
from pcap_to_parquet_spark.sources.pcap_chunked import (
    chunk_specs,
    decode_chunk,
    read_pcap_chunked,
)
from pcap_to_parquet_spark.sources.pcap_fixtures import (
    BASE_TS,
    eth,
    golden_pcap_bytes,
    ipv4,
    mixed_pcap_bytes,
    pcap_file,
    tcp,
    udp,
)


def chunked_rows(path: str, chunk_bytes: int, ipv6: bool = False) -> list[dict]:
    """Decode every chunk standalone and concatenate (no Spark)."""
    rows: list[dict] = []
    for p, s, e in chunk_specs(path, chunk_bytes):
        rows.extend(decode_pcap_bytes(decode_chunk(p, s, e), ipv6))
    return rows


@pytest.mark.parametrize("chunk_bytes", [256, 1000, 4096, 10**9])
def test_chunked_equals_whole(tmp_path, chunk_bytes):
    buf = mixed_pcap_bytes(200)
    p = tmp_path / "mix.pcap"
    p.write_bytes(buf)
    assert chunked_rows(str(p), chunk_bytes) == decode_pcap_bytes(buf)


def test_every_boundary_offset(tmp_path):
    """Exhaustive: every possible chunk size over the golden file —
    boundaries land inside headers, payloads, and trailers."""
    buf = golden_pcap_bytes()
    p = tmp_path / "golden.pcap"
    p.write_bytes(buf)
    want = decode_pcap_bytes(buf)
    for chunk_bytes in range(16, len(buf) + 16, 16):
        assert chunked_rows(str(p), chunk_bytes) == want, f"chunk={chunk_bytes}"


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(1, 40),
    chunk=st.integers(64, 2048),
    payload=st.binary(min_size=0, max_size=60),
)
def test_random_payload_boundaries(tmp_path_factory, n, chunk, payload):
    frame = eth(ipv4(17, "1.2.3.4", "5.6.7.8", udp(9, 9, payload)))
    buf = pcap_file([(BASE_TS + i, len(frame), frame) for i in range(n)])
    d = tmp_path_factory.mktemp("rnd")
    p = d / "r.pcap"
    p.write_bytes(buf)
    assert chunked_rows(str(p), chunk) == decode_pcap_bytes(buf)


def test_long_capture_fails_loud(tmp_path):
    """A capture spanning more than ±ts_tol of its first record must
    raise on resync (the old fallback silently decoded garbage), and
    must succeed when ts_tol is raised to cover the span."""
    from pcap_to_parquet_spark.sources.pcap import PcapFormatError

    frame = eth(ipv4(17, "1.2.3.4", "5.6.7.8", udp(9, 9, b"x" * 40)))
    week = 7 * 24 * 3600
    buf = pcap_file([(BASE_TS + i * week, len(frame), frame) for i in range(60)])
    p = tmp_path / "drift.pcap"
    p.write_bytes(buf)
    # a boundary after the drift exceeds the default +-48h anchor window
    with pytest.raises(PcapFormatError, match="resynchronize"):
        for spec in chunk_specs(str(p), 1000):
            decode_chunk(*spec)
    # widening the tolerance to cover the capture's span restores parity
    rows: list[dict] = []
    for pp, s, e in chunk_specs(str(p), 1000):
        rows.extend(decode_pcap_bytes(decode_chunk(pp, s, e, ts_tol=61 * week)))
    assert rows == decode_pcap_bytes(buf)


def test_truncated_tail_still_silent(tmp_path):
    """A truncated final record stays a silent drop (per-file splitter
    parity) for every chunk boundary, including ones inside the
    truncated record's claimed data."""
    frame = eth(ipv4(6, "1.1.1.1", "2.2.2.2", tcp(1, 2)))
    buf = pcap_file([(BASE_TS + i, len(frame), frame) for i in range(20)])
    # append a record header claiming 5000 bytes but deliver only 100
    hdr = (
        (BASE_TS + 20).to_bytes(4, "little")
        + (0).to_bytes(4, "little")
        + (5000).to_bytes(4, "little")
        + (5000).to_bytes(4, "little")
    )
    buf_trunc = buf + hdr + b"\x00" * 100
    p = tmp_path / "trunc.pcap"
    p.write_bytes(buf_trunc)
    want = decode_pcap_bytes(buf_trunc)
    assert len(want) == 20  # splitter drops the truncated tail
    for chunk_bytes in range(64, len(buf_trunc) + 16, 64):
        assert chunked_rows(str(p), chunk_bytes) == want, f"chunk={chunk_bytes}"


def test_convert_auto_chunk_policy(spark, tmp_path, monkeypatch):
    """convert_pcap auto-selects: per-file below the threshold, chunked
    above it — and the chunked output is row-identical."""
    import duckdb

    from pcap_to_parquet_spark.sources import pcap as pcap_mod

    buf = mixed_pcap_bytes(300)
    p = tmp_path / "cap.pcap"
    p.write_bytes(buf)
    assert pcap_mod._auto_chunk_bytes(spark, str(p)) is None  # small file

    monkeypatch.setattr(pcap_mod, "_AUTO_CHUNK_THRESHOLD", 1024)
    par = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(pcap_mod, "_MIN_CHUNK", len(buf))
    assert pcap_mod._auto_chunk_bytes(spark, str(p)) == len(buf)  # floor wins
    monkeypatch.setattr(pcap_mod, "_MIN_CHUNK", 64)
    assert len(buf) // par > 64
    assert pcap_mod._auto_chunk_bytes(spark, str(p)) == len(buf) // par  # size/parallelism wins
    # format("pcap") bound to the session's parallelism chunks by the same rule
    from pcap_to_parquet_spark.sources.pcap_datasource import PcapBatchReader

    bound = PcapBatchReader({"path": str(p)}, par).partitions()
    assert sorted(u for b in bound for u in b.units) == chunk_specs(str(p), len(buf) // par)

    out_a = str(tmp_path / "auto")
    out_b = str(tmp_path / "perfile")
    pcap_mod.convert_pcap(spark, str(p), out_a)  # auto -> chunked
    pcap_mod.convert_pcap(spark, str(p), out_b, chunk_bytes=0)  # forced per-file
    q = "SELECT * FROM '{}/*.parquet' ORDER BY ALL"
    assert duckdb.sql(q.format(out_a)).fetchall() == duckdb.sql(q.format(out_b)).fetchall()


def test_convert_auto_falls_back_on_resync_error(spark, tmp_path, monkeypatch):
    """A valid capture spanning more than ±ts_tol fails the chunked
    reader's resync — the AUTO path must fall back to per-file decode
    and succeed; an explicit chunk_bytes keeps fail-loud."""
    import duckdb

    from pcap_to_parquet_spark.sources import pcap as pcap_mod

    frame = eth(ipv4(17, "1.2.3.4", "5.6.7.8", udp(9, 9, b"x" * 40)))
    week = 7 * 24 * 3600
    buf = pcap_file([(BASE_TS + i * week, len(frame), frame) for i in range(60)])
    p = tmp_path / "drift.pcap"
    p.write_bytes(buf)

    monkeypatch.setattr(pcap_mod, "_AUTO_CHUNK_THRESHOLD", 256)
    monkeypatch.setattr(pcap_mod, "_MIN_CHUNK", 512)
    out = str(tmp_path / "auto_fallback")
    pcap_mod.convert_pcap(spark, str(p), out)  # auto: chunked fails -> per-file
    got = duckdb.sql(f"SELECT COUNT(*) FROM '{out}/*.parquet'").fetchone()[0]
    assert got == 60

    with pytest.raises(Exception, match="PcapFormatError|resynchronize"):
        pcap_mod.convert_pcap(spark, str(p), str(tmp_path / "loud"), chunk_bytes=512)


def test_spark_chunked_reader(spark, tmp_path):
    buf = mixed_pcap_bytes(5000)
    p = tmp_path / "big.pcap"
    p.write_bytes(buf)
    df = read_pcap_chunked(spark, str(p), chunk_bytes=50_000)
    rows = sorted(tuple(r) for r in df.collect())
    want = sorted(
        tuple(r.values()) for r in decode_pcap_bytes(buf)
    )
    assert len(rows) == 5000
    assert rows == want
