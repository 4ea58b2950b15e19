"""pcapng (next-generation capture) reader — an engine EXTENSION.

The reference explicitly rejects pcapng (`unreachable!()`,
/root/reference/src/main.rs:108), and ``read_pcap`` keeps that parity.
Modern tooling (Wireshark, tshark) writes pcapng by default, so the
engine additionally supports it here: block walk → per-packet
``(ts_sec, origlen, data)`` stream → the SAME packet decode chain as
legacy pcap (sources/pcap_vec.py), so Metamako/VLAN/IPv4 semantics are
identical across container formats.

Supported blocks: Section Header (endianness per section), Interface
Description (per-interface ``if_tsresol``), Enhanced Packet, Simple
Packet (origlen capped by the interface snaplen). Unknown block types
are skipped by length — the format's own forward-compat rule.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession

from pcap_to_parquet_spark.sources.pcap import PcapFormatError

PCAPNG_MAGIC = b"\x0a\x0d\x0d\x0a"

_SHB = 0x0A0D0D0A
_IDB = 0x00000001
_SPB = 0x00000003
_EPB = 0x00000006


def _u(buf: bytes, off: int, n: int, order: str) -> int:
    return int.from_bytes(buf[off : off + n], order)


def _tsresol_divisor(options: bytes, order: str) -> int:
    """Ticks-per-second from the if_tsresol option (default 10^6)."""
    off = 0
    n = len(options)
    while off + 4 <= n:
        code = _u(options, off, 2, order)
        length = _u(options, off + 2, 2, order)
        if code == 0:  # opt_endofopt
            break
        if code == 9 and length >= 1:  # if_tsresol
            b = options[off + 4]
            return (1 << (b & 0x7F)) if (b & 0x80) else 10 ** (b & 0x7F)
        off += 4 + ((length + 3) & ~3)
    return 10**6


def split_pcapng_records(buf: bytes) -> Iterator[tuple[int, int, int, bytes]]:
    """Yield ``(ts_sec, ts_subsec_ticks, origlen, data)`` per packet —
    the same shape as the legacy splitter. Malformed/truncated trailing
    blocks terminate the stream (parity with the legacy splitter's
    truncated-tail rule); a malformed FIRST block is a format error."""
    if len(buf) < 12 or buf[:4] != PCAPNG_MAGIC:
        raise PcapFormatError(
            f"not a pcapng file (magic={buf[:4].hex() if len(buf) >= 4 else buf.hex()})"
        )
    n = len(buf)
    pos = 0
    order = "little"
    interfaces: list[int] = []  # tsresol divisor per interface, per section
    snaplens: list[int] = []
    while pos + 12 <= n:
        # SHB carries its own endianness; detect before reading lengths
        if buf[pos : pos + 4] == PCAPNG_MAGIC:
            bom = buf[pos + 8 : pos + 12]
            if bom == b"\x4d\x3c\x2b\x1a":  # 0x1A2B3C4D little-endian
                order = "little"
            elif bom == b"\x1a\x2b\x3c\x4d":
                order = "big"
            else:
                if pos == 0:
                    raise PcapFormatError("pcapng SHB with invalid byte-order magic")
                break
            interfaces = []
            snaplens = []
            btype = _SHB
        else:
            btype = _u(buf, pos, 4, order)
        total = _u(buf, pos + 4, 4, order)
        if total < 12 or total % 4 != 0 or pos + total > n:
            if pos == 0:
                raise PcapFormatError("pcapng first block malformed")
            break  # truncated tail
        body = buf[pos + 8 : pos + total - 4]
        if btype == _IDB:
            if len(body) >= 8:
                snaplens.append(_u(body, 4, 4, order))
                interfaces.append(_tsresol_divisor(body[8:], order))
            else:
                # malformed IDB still OWNS its interface id: appending
                # defaults keeps if_id indexing aligned for every later
                # EPB in the section (skipping would silently resolve
                # the wrong tsresol for all subsequent interfaces)
                snaplens.append(0)
                interfaces.append(10**6)
        elif btype == _EPB and len(body) >= 20:
            if_id = _u(body, 0, 4, order)
            ts = (_u(body, 4, 4, order) << 32) | _u(body, 8, 4, order)
            caplen = _u(body, 12, 4, order)
            origlen = _u(body, 16, 4, order)
            divisor = interfaces[if_id] if if_id < len(interfaces) else 10**6
            data = body[20 : 20 + caplen]
            if len(data) == caplen:
                # mask seconds to u32: the unified record shape is the
                # LEGACY splitter's (u32 ts_sec on the wire), and a
                # garbage far-future EPB timestamp must not be able to
                # raise later in the re-framing path (malformed input
                # never raises; trailer matching just fails)
                yield (ts // divisor) & 0xFFFFFFFF, ts % divisor, origlen, data
        elif btype == _SPB and len(body) >= 4:
            # Simple Packet Block: no timestamp, origlen only; captured
            # bytes are min(origlen, snaplen) padded to 4
            origlen = _u(body, 0, 4, order)
            snap = snaplens[0] if snaplens and snaplens[0] else origlen
            caplen = min(origlen, snap)
            data = body[4 : 4 + caplen]
            if len(data) == caplen:
                yield 0, 0, origlen, data
        pos += total


def decode_pcapng_bytes(buf: bytes) -> list[dict]:
    """Whole in-memory pcapng file → packet records (reference decode
    chain; scalar path, used by tests as the semantic authority)."""
    from pcap_to_parquet_spark.sources.pcap import decode_packet

    return [
        decode_packet(data, ts_sec, origlen)
        for ts_sec, _sub, origlen, data in split_pcapng_records(buf)
    ]


def reframe_legacy(raw: bytes) -> bytes:
    """pcapng bytes → an equivalent in-memory LEGACY pcap buffer.

    Every field re-packed here is already range-safe: ts_sec is masked
    to u32 by the splitter and len(data)/origlen are u32 reads, so no
    input can raise past the splitter's own format checks (fuzzed in
    tests/test_pcapng.py through this exact path)."""
    import struct

    parts = [struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)]
    for ts_sec, _sub, origlen, data in split_pcapng_records(raw):
        parts.append(struct.pack("<IIII", ts_sec, 0, len(data), origlen))
        parts.append(data)
    return b"".join(parts)


def read_pcapng(spark: SparkSession, path: str, ipv6: bool = False) -> DataFrame:
    """pcapng file(s)/dir/glob → packets DataFrame (PACKET_SCHEMA):
    ``format("pcapng")``, the pcap data source over one whole-file unit
    per capture, each re-framed into the legacy record layout in-memory
    (``reframe_legacy``) before ``decode_pcap_arrays`` runs unchanged.
    ``ipv6=True`` enables the opt-in v6 decode exactly as in
    ``read_pcap`` (default = reference parity)."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    return spark.read.format("pcapng").option("ipv6", ipv6).load(path)
