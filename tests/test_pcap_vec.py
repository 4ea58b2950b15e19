"""Vectorized decoder ≡ scalar reference decoder, on goldens and
random inputs. The scalar path (decode_pcap_bytes) is the semantic
authority; pcap_vec must agree byte-for-byte."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from pcap_to_parquet_spark.sources.pcap import decode_pcap_bytes
from pcap_to_parquet_spark.sources.pcap_fixtures import (
    BASE_TS,
    eth,
    golden_pcap_bytes,
    ipv4,
    mm_trailer,
    pcap_file,
    udp,
)
from pcap_to_parquet_spark.sources.pcap_vec import decode_pcap_arrays

_PROTO = {1: "ICMP", 2: "IGMP", 6: "TCP", 17: "UDP"}


def rows_from_arrays(buf: bytes, v6: bool = False) -> list[dict]:
    """Arrays+masks → the scalar decoder's row-dict shape (mirrors the
    JVM-side finishing in read_pcap)."""
    a = decode_pcap_arrays(buf, v6)

    def quad(u32: int) -> str:
        return ".".join(str((u32 >> s) & 255) for s in (24, 16, 8, 0))

    out = []
    for i in range(len(a["len"])):
        ipv = bool(a["ip_valid"][i])
        pv = bool(a["ports_valid"][i])
        mmv = bool(a["mm_valid"][i])
        src = quad(int(a["src_u32"][i])) if ipv else None
        dst = quad(int(a["dst_u32"][i])) if ipv else None
        proto = _PROTO.get(int(a["proto"][i])) if a["proto_valid"][i] else None
        if v6 and src is None and a["src6"][i] is not None:
            src, dst = a["src6"][i], a["dst6"][i]
        if v6 and proto is None:
            proto = a["proto6"][i]
        out.append(
            {
                "src_ip": src,
                "dst_ip": dst,
                "len": int(a["len"][i]),
                "protocol": proto,
                "src_port": int(a["src_port"][i]) if pv else None,
                "dst_port": int(a["dst_port"][i]) if pv else None,
                "mm_ts": int(a["mm_ts"][i]) if mmv else None,
                "mm_id": int(a["mm_id"][i]) if mmv else None,
                "mm_port": int(a["mm_port"][i]) if mmv else None,
            }
        )
    return out


def test_golden_equivalence():
    buf = golden_pcap_bytes()
    assert rows_from_arrays(buf) == decode_pcap_bytes(buf)


def test_stacked_and_fcs_trailers_equivalence():
    base = eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1, 2)))
    t = BASE_TS
    frames = [
        base + mm_trailer(t - 1, 9, 1, 1),
        base + mm_trailer(t - 3, 7, 2, 2) + mm_trailer(t - 1, 8, 3, 3),
        base + mm_trailer(t - 2, 5, 4, 4) + b"\x00\x01\x02\x03",  # FCS
        base + mm_trailer(t - 500, 5, 5, 5),  # rejected
        base,
    ]
    buf = pcap_file([(t, len(f), f) for f in frames])
    assert rows_from_arrays(buf) == decode_pcap_bytes(buf)


def test_stacked_walk_skips_candidate_inside_previous_hit():
    """After an inner trailer parses at offset i the walk resumes at
    i + 16, so an acceptable candidate 8 bytes further in is never
    tried; one exactly 16 bytes further in still wins."""
    import struct

    base = eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1, 2)))
    t = BASE_TS
    be32 = lambda v: struct.pack(">i", v)  # noqa: E731
    # inner trailer ending 16 bytes before the frame end, whose first
    # word is a valid ns: with the 4 bytes before it as a valid sec, a
    # trailer ending 24 bytes before the frame end also parses
    inner = be32(5) + be32(t - 1) + be32(7) + struct.pack(">BHB", 0, 11, 1)
    outer = mm_trailer(t, 9, 99, 9)
    # a trailer ending 32 bytes before the end whose last word is that sec
    innermost = be32(0) + be32(t - 3) + be32(3) + be32(t - 2)
    frames = [
        base + be32(t - 2) + inner + outer,
        base + innermost + inner + outer,
    ]
    buf = pcap_file([(t, len(f), f) for f in frames])
    rows = rows_from_arrays(buf)
    assert rows == decode_pcap_bytes(buf)
    assert (rows[0]["mm_ts"], rows[0]["mm_id"], rows[0]["mm_port"]) == ((t - 1) * 10**9 + 7, 11, 1)
    assert rows[1]["mm_ts"] == (t - 3) * 10**9 + 3


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.tuples(st.binary(max_size=100), st.integers(0, 120)),
        min_size=0,
        max_size=12,
    )
)
def test_random_equivalence(specs):
    recs = [(BASE_TS, origlen, data) for data, origlen in specs]
    buf = pcap_file(recs)
    assert rows_from_arrays(buf) == decode_pcap_bytes(buf)


@settings(max_examples=60, deadline=None)
@given(st.data())
def test_random_trailerish_equivalence(data):
    """Random payloads with plausible trailer bytes appended — stresses
    the acceptance boundaries and the chain walk."""
    n = data.draw(st.integers(1, 6))
    frames = []
    for _ in range(n):
        body = data.draw(st.binary(min_size=0, max_size=60))
        sec = BASE_TS + data.draw(st.integers(-400, 400))
        ns = data.draw(st.integers(-10, 2_000_000_000))
        frame = body + mm_trailer(sec, ns, 9, 9)
        if data.draw(st.booleans()):
            frame += b"\xca\xfe\xba\xbe"
        frames.append(frame)
    buf = pcap_file([(BASE_TS, len(f), f) for f in frames])
    assert rows_from_arrays(buf) == decode_pcap_bytes(buf)
