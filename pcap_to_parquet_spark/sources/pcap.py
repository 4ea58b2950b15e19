"""pcap → packets: the reference's entire capability (SURVEY §2 Part A),
re-expressed Spark-first.

Semantics reproduce /root/reference/src/main.rs exactly for well-formed
captures:

- legacy libpcap only (main.rs:66,108) — pcapng rejected;
- one output row per packet, unconditionally (main.rs:88-107);
- ``len`` = original wire length ``origlen``, not captured length
  (main.rs:90);
- Metamako trailer heuristic + innermost-trailer-wins stacking + FCS
  fallback (main.rs:128-183, see §2.1 of SURVEY.md);
- Ethernet II / 802.1Q-VLAN → IPv4 → {ICMP, IGMP, TCP, UDP} decode
  with everything else left NULL (main.rs:185-252).

Deliberate divergence (SURVEY §2.2): malformed/truncated packets never
raise — fields stay NULL (the reference panics on slice overruns,
main.rs:190-191,237).

Execution model: every entry point (``read_pcap``, ``read_pcap_chunked``,
``read_pcapng``, ``convert_pcap``) is a ``spark.read.format("pcap")``
(or ``"pcapng"``) scan of the Python data source in
sources/pcap_datasource.py: the ``(path, start, end)`` units of
``pcap_chunked.chunk_specs``, packed into at most ``defaultParallelism``
partitions, each unit decoded by the vectorized numpy kernel
(sources/pcap_vec.py) into one Arrow batch. A unit is a whole file or,
for large captures, a byte-range chunk with boundary resync. The
decoded table is then plain column algebra — Catalyst sees through
everything downstream.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, SparkSession

# legacy pcap magic numbers: (byte order, timestamp unit). pcapng
# (0x0a0d0d0a) is NOT here — unsupported, as in the reference (main.rs:108).
_MAGICS: dict[bytes, tuple[str, int]] = {
    b"\xa1\xb2\xc3\xd4": ("big", 6),       # big-endian, microseconds
    b"\xd4\xc3\xb2\xa1": ("little", 6),    # little-endian, microseconds
    b"\xa1\xb2\x3c\x4d": ("big", 9),       # big-endian, nanoseconds
    b"\x4d\x3c\xb2\xa1": ("little", 9),    # little-endian, nanoseconds
}

_GLOBAL_HEADER_LEN = 24
_RECORD_HEADER_LEN = 16


class PcapFormatError(ValueError):
    """Raised for files that are not legacy libpcap captures."""


def split_pcap_records(buf: bytes) -> Iterator[tuple[int, int, int, bytes]]:
    """Yield ``(ts_sec, ts_subsec, origlen, data)`` per record.

    Pure splitter over the trivial legacy-pcap framing: 24-byte global
    header, then 16-byte record headers (ts_sec, ts_subsec, incl_len,
    orig_len) followed by ``incl_len`` captured bytes. A truncated final
    record is dropped (the reference's reader likewise stops at
    Incomplete-then-Eof rather than emitting a partial block).
    """
    if len(buf) < _GLOBAL_HEADER_LEN:
        raise PcapFormatError("file shorter than pcap global header")
    try:
        order, _unit = _MAGICS[buf[:4]]
    except KeyError:
        raise PcapFormatError(f"not a legacy pcap file (magic={buf[:4].hex()})") from None
    pos = _GLOBAL_HEADER_LEN
    n = len(buf)
    while pos + _RECORD_HEADER_LEN <= n:
        ts_sec = int.from_bytes(buf[pos : pos + 4], order)
        ts_sub = int.from_bytes(buf[pos + 4 : pos + 8], order)
        incl_len = int.from_bytes(buf[pos + 8 : pos + 12], order)
        origlen = int.from_bytes(buf[pos + 12 : pos + 16], order)
        pos += _RECORD_HEADER_LEN
        if pos + incl_len > n:
            break  # truncated capture tail
        yield ts_sec, ts_sub, origlen, buf[pos : pos + incl_len]
        pos += incl_len


# ---------------------------------------------------------------------------
# per-packet decoders (reference semantics, null-on-malformed)


def _parse_metamako_trailer(
    data: bytes, fields: dict[str, Any], pcap_ts: int, length: int
) -> int | None:
    """One trailer attempt at offset ``length`` (main.rs:157-183).

    Accept iff |pcap_ts − mm_s| < 300 s and mm_ns < 1e9 (signed compare:
    negative mm_ns passes, as in the reference's i32 check, main.rs:174).
    Returns 16 (min trailer length) on acceptance, else None. Out-of-range
    reads return None instead of panicking (engine policy, SURVEY §2.2).
    """
    if length < 12 or length > len(data):
        return None
    mm_s = int.from_bytes(data[length - 12 : length - 8], "big", signed=True)
    mm_ns = int.from_bytes(data[length - 8 : length - 4], "big", signed=True)
    if abs(pcap_ts - mm_s) < 5 * 60 and mm_ns < 1_000_000_000:
        fields["mm_id"] = int.from_bytes(data[length - 3 : length - 1], "big")
        fields["mm_port"] = data[length - 1]
        fields["mm_ts"] = mm_s * 10**9 + mm_ns
        return 16
    return None


def enumerate_trailers(data: bytes, pcap_ts: int, length: int) -> list[dict[str, Any]]:
    """Stacked-trailer scan with FCS fallback (main.rs:128-148): every
    trailer that parses, outermost first.

    End-anchored attempt, then slide inward; a failed inner parse
    slides 1 byte (``unwrap_or(1)``, main.rs:138). Only when the
    end-anchored attempt fails does the scan retry 4 bytes in, past
    an FCS."""
    found: list[dict[str, Any]] = []

    def attempt(end: int) -> int | None:
        fields: dict[str, Any] = {}
        got = _parse_metamako_trailer(data, fields, pcap_ts, end)
        if got is not None:
            found.append(fields)
        return got

    for fcs in (0, 4):
        tr = attempt(length - fcs)
        if tr is not None:
            i = tr
            while i <= length - tr - fcs:
                i += attempt(length - i - fcs) or 1
            break
    return found


def _extract_all_metamako_trailers(
    data: bytes, fields: dict[str, Any], pcap_ts: int, length: int
) -> None:
    """The reference's trailer fields: every successful parse
    OVERWRITES mm_*, so the innermost (earliest-appended) trailer of
    ``enumerate_trailers`` wins (main.rs:124-127 doc comment + overwrite
    at main.rs:175-177)."""
    hits = enumerate_trailers(data, pcap_ts, length)
    if hits:
        fields.update(hits[-1])


def _parse_ports(l4: bytes, fields: dict[str, Any]) -> None:
    """TCP/UDP share the first 4 bytes: BE u16 src/dst ports
    (main.rs:213-231; payload parsing is //TODO in the reference)."""
    if len(l4) < 4:
        return  # reference panics (main.rs:214); engine leaves NULL
    fields["src_port"] = int.from_bytes(l4[0:2], "big")
    fields["dst_port"] = int.from_bytes(l4[2:4], "big")


_PROTOCOL_NAMES = {1: "ICMP", 2: "IGMP", 6: "TCP", 17: "UDP"}

# IPv6 next-header naming (opt-in engine extension; reference parity
# keeps 0x86DD NULL — main.rs:239-251 handles only 0x0800/0x8100).
_PROTOCOL_NAMES_V6 = {6: "TCP", 17: "UDP", 58: "ICMPv6"}

# walked extension headers (RFC 8200): hop-by-hop (0), routing (43),
# fragment (44), destination options (60). Layout: [next:1][len:1]...,
# total (len+1)*8 bytes — except fragment, fixed 8 bytes with a 13-bit
# offset at byte 2-3 (<<3). AH (51) and ESP (50) are NOT walked: AH
# uses a different length formula and ESP encrypts everything after
# itself, so both terminate the chain (protocol NULL — not nameable).
_V6_EXT_HEADERS = (0, 43, 44, 60)
_V6_MAX_EXT_HOPS = 8  # real chains have 0-2; the bound kills loops


def _parse_ipv4(pkt: bytes, fields: dict[str, Any]) -> None:
    """IPv4 header decode (main.rs:185-211): IPs always set, protocol
    name only for {1,2,6,17}, ports only for TCP/UDP. No fragment or
    IHL sanity handling, matching the reference."""
    if len(pkt) < 20:
        return  # reference panics (main.rs:190-191); engine leaves NULL
    header_length = (pkt[0] & 0x0F) * 4
    proto = pkt[9]
    fields["src_ip"] = ".".join(str(b) for b in pkt[12:16])
    fields["dst_ip"] = ".".join(str(b) for b in pkt[16:20])
    name = _PROTOCOL_NAMES.get(proto)
    if name is not None:
        fields["protocol"] = name
    if proto in (6, 17):
        _parse_ports(pkt[header_length:], fields)


def _parse_ipv6(pkt: bytes, fields: dict[str, Any]) -> None:
    """IPv6 decode (engine extension, opt-in): 40-byte fixed header →
    canonical RFC 5952 text addresses (ipaddress.compressed:
    lowercase hex, leftmost-longest zero-run ``::``), then the
    extension-header chain is WALKED (hop-by-hop/routing/fragment/
    dest-options, ≤{hops} hops) to the REAL L4: next-header naming
    for {{TCP, UDP, ICMPv6}}, ports for TCP/UDP at the post-chain
    offset. Non-first fragments (fragment offset ≠ 0) carry no L4
    header, so their ports stay NULL (protocol still named from the
    chain). A truncated extension header stops the walk with that
    header type as the final protocol (unnamed → NULL) —
    null-on-malformed like every other decode path."""
    if len(pkt) < 40:
        return
    import ipaddress

    next_header = pkt[6]
    fields["src_ip"] = ipaddress.IPv6Address(pkt[8:24]).compressed
    fields["dst_ip"] = ipaddress.IPv6Address(pkt[24:40]).compressed
    off = 40
    frag_nonzero = False
    for _ in range(_V6_MAX_EXT_HOPS):
        if next_header not in _V6_EXT_HEADERS or len(pkt) - off < 8:
            break
        nxt = pkt[off]
        if next_header == 44:
            frag_nonzero |= (int.from_bytes(pkt[off + 2 : off + 4], "big") >> 3) != 0
            ext_bytes = 8
        else:
            ext_bytes = (pkt[off + 1] + 1) * 8
        next_header, off = nxt, off + ext_bytes
    name = _PROTOCOL_NAMES_V6.get(next_header)
    if name is not None:
        fields["protocol"] = name
    if next_header in (6, 17) and not frag_nonzero:
        _parse_ports(pkt[off:], fields)


_parse_ipv6.__doc__ = _parse_ipv6.__doc__.format(hops=_V6_MAX_EXT_HOPS)


def _parse_ethernet(data: bytes, fields: dict[str, Any], ipv6: bool = False) -> None:
    """Ethernet II dispatch (main.rs:234-252): 0x0800 → IPv4@14;
    0x8100 VLAN → inner ethertype@16, IPv4@18; everything else ignored
    (no ARP/QinQ/MPLS — fields stay NULL). ``ipv6=True`` additionally
    dispatches 0x86DD → IPv6 (plain and VLAN-tagged) — an opt-in
    engine extension; the default reproduces the reference, which
    leaves IPv6 NULL (main.rs:239-251)."""
    if len(data) < 14:
        return  # reference panics (main.rs:237); engine leaves NULL
    ether_type = int.from_bytes(data[12:14], "big")
    if ether_type == 0x0800:
        _parse_ipv4(data[14:], fields)
    elif ipv6 and ether_type == 0x86DD:
        _parse_ipv6(data[14:], fields)
    elif ether_type == 0x8100:
        if len(data) < 18:
            return
        inner = int.from_bytes(data[16:18], "big")
        if inner == 0x0800:
            _parse_ipv4(data[18:], fields)
        elif ipv6 and inner == 0x86DD:
            _parse_ipv6(data[18:], fields)


def decode_packet(
    data: bytes, ts_sec: int, origlen: int, ipv6: bool = False
) -> dict[str, Any]:
    """Full per-packet decode chain (main.rs:88-107): len → trailers
    (origlen ≥ 16 gate, main.rs:92) → ethernet. One record per packet,
    always."""
    fields: dict[str, Any] = {
        "src_ip": None,
        "dst_ip": None,
        "len": origlen,
        "protocol": None,
        "src_port": None,
        "dst_port": None,
        "mm_ts": None,
        "mm_id": None,
        "mm_port": None,
    }
    if origlen >= 16:
        _extract_all_metamako_trailers(data, fields, ts_sec, origlen)
    _parse_ethernet(data, fields, ipv6)
    return fields


def decode_pcap_bytes(buf: bytes, ipv6: bool = False) -> list[dict[str, Any]]:
    """Decode a whole in-memory pcap file to packet records."""
    return [
        decode_packet(data, ts_sec, origlen, ipv6)
        for ts_sec, _sub, origlen, data in split_pcap_records(buf)
    ]


# ---------------------------------------------------------------------------
# Spark pipeline


# on no read path: kept because perfbench's kernel probe times it as
# pcap.arrow_handoff_us_per_pkt
def _arrays_to_pandas(a: dict):  # type: ignore[no-untyped-def]
    """Columnar decode arrays → one Arrow-ready pandas batch. Nullable
    ints ride pandas extension arrays end-to-end: a plain int-with-None
    column silently becomes float64 and corrupts ns-scale timestamps
    (int64 > 2^53)."""
    import numpy as np
    import pandas as pd

    def masked(values, valid, dtype):  # noqa: ANN001
        return pd.arrays.IntegerArray(values.astype(dtype), mask=~valid)

    n = len(a["len"])
    all_valid = np.ones(n, dtype=bool)
    cols = {
        "src_u32": masked(a["src_u32"], a["ip_valid"], np.int64),
        "dst_u32": masked(a["dst_u32"], a["ip_valid"], np.int64),
        "len": masked(a["len"], all_valid, np.int64),
        "proto": masked(a["proto"], a["proto_valid"], np.int64),
        "src_port": masked(a["src_port"], a["ports_valid"], np.int32),
        "dst_port": masked(a["dst_port"], a["ports_valid"], np.int32),
        "mm_ts": masked(a["mm_ts"], a["mm_valid"], np.int64),
        "mm_id": masked(a["mm_id"], a["mm_valid"], np.int32),
        "mm_port": masked(a["mm_port"].astype(np.int16), a["mm_valid"], np.int16),
    }
    return pd.DataFrame(cols)


_WHOLE_FILE = 1 << 62  # a chunk size no file reaches: one unit per file


def read_pcap(spark: SparkSession, path: str, ipv6: bool = False) -> DataFrame:
    """pcap file(s)/dir/glob → packets DataFrame (PACKET_SCHEMA):
    ``format("pcap")`` with ``chunk_mb=0``, one whole-file unit per
    capture. For single large captures use
    ``sources.pcap_chunked.read_pcap_chunked`` (intra-file parallelism,
    O(chunk) task memory).

    ``ipv6=True`` additionally decodes ethertype 0x86DD (plain and
    VLAN-tagged): canonical RFC 5952 addresses into src_ip/dst_ip,
    the extension-header chain walked to the real L4 (see
    ``_parse_ipv6``), next-header names {TCP, UDP, ICMPv6} into
    protocol, TCP/UDP ports at the post-chain offset. Same
    PACKET_SCHEMA either way. Default False = byte-identical
    reference parity (the reference NULLs IPv6, main.rs:239-251).
    """
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    return spark.read.format("pcap").option("chunk_mb", 0).option("ipv6", ipv6).load(path)


# auto-chunk policy: captures above this size decode via the chunked
# reader (measured local[32], 73 MB/1M packets: 5.6 s per-file vs 1.5 s
# chunked; 17 MB/250k packets 1.57 s per-file vs 1.06 s at 8 MiB
# chunks, and the parquet write parallelizes with the decode tasks).
# Below ~2 chunks' worth of the 8 MiB floor there is nothing to split:
# per-chunk resync slack IO eats the gain.
_AUTO_CHUNK_THRESHOLD = 16 << 20
_MIN_CHUNK = 8 << 20


def _auto_chunk_bytes(spark: SparkSession, in_path: str) -> int | None:
    """``_auto_chunk_size`` of the files under ``in_path`` at the
    session's parallelism; None (per-file) for unreadable paths."""
    from pcap_to_parquet_spark.sources.pcap_chunked import chunk_specs

    try:
        specs = chunk_specs(in_path, _WHOLE_FILE)
    except (OSError, PcapFormatError):
        return None
    return _auto_chunk_size([e for _f, _s, e in specs], spark.sparkContext.defaultParallelism)


def _auto_chunk_size(sizes: list[int], parallelism: int) -> int | None:
    """Chunk size for big single-file captures, else None (per-file).

    Chunks sized ``max(largest_file / parallelism, 8 MiB)``: smaller
    chunks stop helping once every core has work, and each chunk pays
    a fixed resync-slack read (~2 MB) that small chunks drown in."""
    biggest = max(sizes, default=0)
    if biggest <= _AUTO_CHUNK_THRESHOLD:
        return None
    return max(biggest // max(parallelism, 1), _MIN_CHUNK)


def convert_pcap(
    spark: SparkSession,
    in_path: str,
    out_path: str,
    partition_cols: list[str] | None = None,
    chunk_bytes: int | None = None,
    ts_tol: int | None = None,
    ipv6: bool = False,
) -> None:
    """The reference CLI, as an engine API (main.rs:59-122): pcap in,
    ZSTD parquet out (codec parity with main.rs:72-75; exact writer
    version is a non-goal — DuckDB-readability is the contract).

    ``partition_cols`` (e.g. ``["protocol"]``, or a derived capture
    date/hour) lays the lake out for partition pruning: a 100-TB
    packet lake queried by protocol/day reads only matching
    directories — the scan's PartitionFilters, not post-hoc filters.

    ``chunk_bytes``: ``None`` (default) auto-selects — per-file decode
    normally, the chunked reader (intra-file parallelism, deterministic
    boundary resync) when any input file exceeds
    ``_AUTO_CHUNK_THRESHOLD``. An explicit int forces chunked at that
    size; ``0`` forces per-file (e.g. for captures spanning more than
    the chunked reader's ±48 h timestamp anchor, which fail loud rather
    than resync wrong).

    ``ts_tol`` (seconds) widens that resync anchor for long captures —
    the remedy the chunked reader's error message names, reachable
    here and via the CLI's ``--ts-tol-hours`` so auto-chunked big
    captures never dead-end.

    Auto-selection must never make a valid capture fail that per-file
    decode handles (e.g. one spanning more than ±ts_tol): if the
    AUTO-chunked write dies on a resync ``PcapFormatError``, it falls
    back to per-file decode and succeeds. An explicit ``chunk_bytes``
    keeps fail-loud — the caller asked for chunked semantics.

    ``ipv6=True`` decodes 0x86DD too (see ``read_pcap``) on either
    physical path — per-file and chunked readers share the vectorized
    decode kernel, so the flag composes with ``chunk_bytes`` (record
    resync anchors on pcap record headers, never packet contents).
    """
    auto = chunk_bytes is None
    if auto:
        chunk_bytes = _auto_chunk_bytes(spark, in_path)
    if chunk_bytes:
        from pcap_to_parquet_spark.sources.pcap_chunked import (
            _TS_TOL,
            read_pcap_chunked,
        )

        df = read_pcap_chunked(
            spark,
            in_path,
            chunk_bytes,
            ts_tol if ts_tol is not None else _TS_TOL,
            ipv6,
        )
    else:
        df = read_pcap(spark, in_path, ipv6)
    try:
        _write_packets(df, out_path, partition_cols)
    except Exception as exc:  # noqa: BLE001 - executor errors arrive as Py4J wrappers
        # The resync failure surfaces at the write action, wrapped by
        # Py4J; match its message rather than type. Scoped to the
        # RESYNC error specifically: a corrupt-region PcapFormatError
        # would fail per-file too, so falling back there only re-decodes
        # a doomed capture and masks the sharper chunked diagnostic.
        if not (auto and chunk_bytes and "cannot resynchronize" in str(exc)):
            raise
        _write_packets(read_pcap(spark, in_path, ipv6), out_path, partition_cols)


def _write_packets(df: DataFrame, out_path: str, partition_cols: list[str] | None) -> None:
    w = df.write.mode("overwrite").option("compression", "zstd")
    if partition_cols:
        w = w.partitionBy(*partition_cols)
    w.parquet(out_path)
