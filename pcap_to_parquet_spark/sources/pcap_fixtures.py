"""Deterministic golden pcap fixtures (FIXTURES.md §2).

Hand-assembled legacy-pcap bytes, one packet per decode path of the
reference. Used by the unit tests (expected rows are hand-computed
there) and by ``q_pcap_pipeline`` to exercise the Spark pipeline.
"""

from __future__ import annotations

import struct

BASE_TS = 1_700_000_000  # fixed capture second for every fixture packet


def pcap_file(records: list[tuple[int, int, bytes]]) -> bytes:
    """Build a little-endian legacy pcap: records = [(ts_sec, origlen, data)]."""
    parts = [struct.pack("<IHHiIII", 0xA1B2C3D4, 2, 4, 0, 0, 65535, 1)]
    for ts_sec, origlen, data in records:
        parts.append(struct.pack("<IIII", ts_sec, 0, len(data), origlen))
        parts.append(data)
    return b"".join(parts)


def pcapng_file(records: list[tuple[int, int, bytes]]) -> bytes:
    """Build a little-endian pcapng holding the same records as
    :func:`pcap_file`: one section header, one Ethernet interface at
    the default microsecond resolution, one enhanced packet block per
    record."""

    def block(btype: int, body: bytes) -> bytes:
        pad = -len(body) % 4
        total = 12 + len(body) + pad
        return (
            struct.pack("<II", btype, total)
            + body
            + b"\x00" * pad
            + struct.pack("<I", total)
        )

    parts = [
        block(0x0A0D0D0A, struct.pack("<IHHq", 0x1A2B3C4D, 1, 0, -1)),
        block(0x00000001, struct.pack("<HHI", 1, 0, 65535)),
    ]
    for ts_sec, origlen, data in records:
        ts = ts_sec * 10**6
        parts.append(
            block(
                0x00000006,
                struct.pack("<IIIII", 0, ts >> 32, ts & 0xFFFFFFFF, len(data), origlen)
                + data,
            )
        )
    return b"".join(parts)


def eth(payload: bytes, ethertype: int = 0x0800) -> bytes:
    return bytes(range(6)) + bytes(range(6, 12)) + struct.pack(">H", ethertype) + payload


def vlan_eth(payload: bytes, inner_ethertype: int = 0x0800) -> bytes:
    return (
        bytes(range(6))
        + bytes(range(6, 12))
        + struct.pack(">H", 0x8100)
        + b"\x00\x64"  # TCI (vlan 100)
        + struct.pack(">H", inner_ethertype)
        + payload
    )


def ipv4(proto: int, src: str, dst: str, l4: bytes) -> bytes:
    src_b = bytes(int(x) for x in src.split("."))
    dst_b = bytes(int(x) for x in dst.split("."))
    header = struct.pack(
        ">BBHHHBBH", 0x45, 0, 20 + len(l4), 0x1234, 0, 64, proto, 0
    ) + src_b + dst_b
    return header + l4


def udp(sport: int, dport: int, payload: bytes = b"\x00" * 8) -> bytes:
    return struct.pack(">HHHH", sport, dport, 8 + len(payload), 0) + payload


def tcp(sport: int, dport: int) -> bytes:
    # 20-byte minimal TCP header; only the first 4 bytes are ever decoded
    return struct.pack(">HHIIBBHHH", sport, dport, 1, 0, 0x50, 0x02, 8192, 0, 0)


def mm_trailer(sec: int, ns: int, device_id: int, port: int, flags: int = 0) -> bytes:
    """16-byte Metamako trailer: [orig FCS:4][sec:4 BE][ns:4 BE][flags:1]
    [device:2 BE][port:1] (layout implied by main.rs:163-177)."""
    return b"\xde\xad\xbe\xef" + struct.pack(">iiBHB", sec, ns, flags, device_id, port)


FCS = b"\xca\xfe\xba\xbe"


def fixture_packets() -> dict[str, tuple[int, int, bytes]]:
    """name → (ts_sec, origlen, data) covering every decode path."""
    t = BASE_TS
    udp_frame = eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1234, 5678)))
    tcp_frame = eth(ipv4(6, "192.168.1.10", "192.168.1.20", tcp(80, 443)))
    icmp_frame = eth(ipv4(1, "10.1.1.1", "10.1.1.2", b"\x08\x00\x00\x00"))
    igmp_frame = eth(ipv4(2, "10.2.2.1", "224.0.0.1", b"\x11\x00\x00\x00"))
    gre_frame = eth(ipv4(47, "10.3.3.1", "10.3.3.2", b"\x00\x00\x08\x00"))
    vlan_frame = vlan_eth(ipv4(17, "172.16.0.1", "172.16.0.2", udp(53, 5353)))
    arp_frame = eth(b"\x00\x01\x08\x00\x06\x04\x00\x01" + b"\x00" * 20, ethertype=0x0806)
    mm_single = udp_frame + mm_trailer(t - 2, 500_000_123, 7, 3)
    # stacked: innermost (first-appended, device 1) must win (main.rs:124-127)
    mm_stacked = udp_frame + mm_trailer(t - 3, 111_111_111, 1, 1) + mm_trailer(
        t - 1, 222_222_222, 2, 2
    )
    mm_fcs = udp_frame + mm_trailer(t - 5, 777_777_777, 9, 4) + FCS
    mm_reject = udp_frame + mm_trailer(t - 400, 1, 5, 5)  # |Δts| ≥ 300 s → reject
    short = b"\x01\x02\x03\x04\x05\x06\x07\x08\x09\x0a"  # origlen < 16 and < eth header
    truncated = eth(ipv4(17, "10.9.9.1", "10.9.9.2", udp(7, 9)))  # caplen < origlen

    return {
        "udp_plain": (t, len(udp_frame), udp_frame),
        "tcp_plain": (t, len(tcp_frame), tcp_frame),
        "icmp": (t, len(icmp_frame), icmp_frame),
        "igmp": (t, len(igmp_frame), igmp_frame),
        "proto_other": (t, len(gre_frame), gre_frame),
        "vlan_udp": (t, len(vlan_frame), vlan_frame),
        "non_ip": (t, len(arp_frame), arp_frame),
        "mm_single": (t, len(mm_single), mm_single),
        "mm_stacked": (t, len(mm_stacked), mm_stacked),
        "mm_fcs": (t, len(mm_fcs), mm_fcs),
        "mm_reject": (t, len(mm_reject), mm_reject),
        "short_frame": (t, len(short), short),
        "truncated": (t, len(truncated) + 64, truncated),
    }


def golden_pcap_bytes() -> bytes:
    """All fixture packets in one deterministic legacy pcap file."""
    return pcap_file(list(fixture_packets().values()))


def mixed_pcap_bytes(n: int) -> bytes:
    """A legacy pcap of ``n`` packets cycling a plain UDP frame, a TCP
    frame and a Metamako-stamped UDP frame."""
    udp_f = eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1234, 5678)))
    tcp_f = eth(ipv4(6, "192.168.1.10", "192.168.1.20", tcp(80, 443)))
    mm_f = udp_f + mm_trailer(BASE_TS - 2, 500_000_123, 7, 3)
    mix = [udp_f, tcp_f, mm_f]
    return pcap_file([(BASE_TS, len(mix[i % 3]), mix[i % 3]) for i in range(n)])


# ---------------------------------------------------------------------------
# IPv6 fixtures (engine extension — the reference NULLs ethertype 0x86DD,
# main.rs:239-251; these exercise the opt-in ``ipv6=True`` decode)


def ipv6(next_header: int, src: str, dst: str, l4: bytes, hop: int = 64) -> bytes:
    """40-byte fixed IPv6 header + payload. version=6, tc/flow=0."""
    import ipaddress

    header = (
        struct.pack(">IHBB", 0x6000_0000, len(l4), next_header, hop)
        + ipaddress.IPv6Address(src).packed
        + ipaddress.IPv6Address(dst).packed
    )
    return header + l4


def v6_fixture_packets() -> dict[str, tuple[int, int, bytes]]:
    """name → (ts_sec, origlen, data): every v6 decode path, plus one
    v4 frame to prove the two stacks coexist in one capture. The
    ``zero_runs`` addresses exercise RFC 5952 canonical compression
    (leftmost-longest zero run: 2001:db8:0:0:1:0:0:1 must render
    ``2001:db8::1:0:0:1``, not ``2001:db8:0:0:1::1``)."""
    t = BASE_TS
    v6_udp = eth(
        ipv6(17, "2001:db8::1", "2001:db8::2", udp(1234, 5678)), ethertype=0x86DD
    )
    v6_tcp = eth(
        ipv6(6, "2001:db8:0:1::10", "2001:db8:0:1::20", tcp(443, 8443)),
        ethertype=0x86DD,
    )
    v6_icmp6 = eth(
        ipv6(58, "fe80::1", "ff02::1", b"\x80\x00\x00\x00"), ethertype=0x86DD
    )
    v6_vlan = vlan_eth(
        ipv6(17, "2001:db8:ff::a", "2001:db8:ff::b", udp(53, 5353)),
        inner_ethertype=0x86DD,
    )
    # hop-by-hop extension header (next inside the ext hdr = 0x11 UDP,
    # len 0 → 8 bytes): the chain walk reaches UDP but zero L4 bytes
    # remain → protocol named, ports NULL
    v6_ext = eth(
        ipv6(0, "2001:db8::dead", "2001:db8::beef", b"\x11\x00\x00\x00\x00\x00\x00\x00"),
        ethertype=0x86DD,
    )
    # hop-by-hop → dest-options(len 1 → 16 bytes) → UDP with ports:
    # the two-hop chain must land the ports at offset 40+8+16
    v6_chain = eth(
        ipv6(
            0,
            "2001:db8:c::1",
            "2001:db8:c::2",
            b"\x3c\x00" + b"\x00" * 6          # hop-by-hop: next=60, len 0
            + b"\x11\x01" + b"\x00" * 14        # dest-opts: next=17, len 1
            + udp(21, 22),
        ),
        ethertype=0x86DD,
    )
    # atomic fragment (offset 0): L4 present, ports decode
    v6_frag0 = eth(
        ipv6(
            44,
            "2001:db8:f::1",
            "2001:db8:f::2",
            b"\x06\x00\x00\x00\x00\x00\x00\x01" + tcp(80, 443),
        ),
        ethertype=0x86DD,
    )
    # non-first fragment (offset 185 → bytes 185<<3 = 0x05c8): no L4
    # header in this packet — protocol named from the chain, ports NULL
    v6_fragn = eth(
        ipv6(
            44,
            "2001:db8:f::1",
            "2001:db8:f::2",
            b"\x06\x00\x05\xc8\x00\x00\x00\x01" + b"\xde\xad\xbe\xef",
        ),
        ethertype=0x86DD,
    )
    # ESP (50) terminates the walk unnamed: addresses only
    v6_esp = eth(
        ipv6(50, "2001:db8:5::1", "2001:db8:5::2", b"\x00" * 16), ethertype=0x86DD
    )
    v6_zero_runs = eth(
        ipv6(17, "2001:db8:0:0:1:0:0:1", "::1", udp(7, 9)), ethertype=0x86DD
    )
    v6_mm = eth(
        ipv6(17, "2001:db8::1", "2001:db8::2", udp(1234, 5678)), ethertype=0x86DD
    ) + mm_trailer(t - 2, 500_000_123, 7, 3)
    # truncated below the 40-byte v6 header: everything NULL but len
    v6_short = eth(ipv6(17, "2001:db8::1", "2001:db8::2", b""), ethertype=0x86DD)[:30]
    v4_mixed = eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1234, 5678)))

    return {
        "v6_udp": (t, len(v6_udp), v6_udp),
        "v6_tcp": (t, len(v6_tcp), v6_tcp),
        "v6_icmp6": (t, len(v6_icmp6), v6_icmp6),
        "v6_vlan": (t, len(v6_vlan), v6_vlan),
        "v6_ext": (t, len(v6_ext), v6_ext),
        "v6_chain": (t, len(v6_chain), v6_chain),
        "v6_frag0": (t, len(v6_frag0), v6_frag0),
        "v6_fragn": (t, len(v6_fragn), v6_fragn),
        "v6_esp": (t, len(v6_esp), v6_esp),
        "v6_zero_runs": (t, len(v6_zero_runs), v6_zero_runs),
        "v6_mm": (t, len(v6_mm), v6_mm),
        "v6_short": (t, len(v6_short), v6_short),
        "v4_mixed": (t, len(v4_mixed), v4_mixed),
    }


def v6_golden_pcap_bytes() -> bytes:
    """All v6 fixture packets in one deterministic legacy pcap file."""
    return pcap_file(list(v6_fixture_packets().values()))


# ---------------------------------------------------------------------------
# biflow fixture: BIDIRECTIONAL traffic for q_pcap_biflow (the golden
# capture is deliberately unidirectional per flow, so direction pairing
# needs its own fixture)


def biflow_fixture_packets() -> dict[str, tuple[int, int, bytes]]:
    """name → (ts_sec, origlen, data): two answered v4 flow pairs (one
    where each side speaks first, by Metamako stamp), an unanswered
    flow, a portless ICMP pair, an undecodable runt — plus
    a DUAL-STACK extension: an answered IPv6 conversation and a v6
    packet whose ports MIRROR the v4 udp conversation (1000→2000) but
    must NOT pair with it (the canonical key compares address text,
    colon-hex ≠ dotted-quad). All three v6 packets carry Metamako
    stamps so the watermark-evicted streaming flow table has a timed
    population spanning t-10..t-1. Hand-traced expectations live in
    the q_pcap_biflow oracle and tests/test_round13_ops.py."""
    t = BASE_TS
    a2b = lambda pay: eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1000, 2000, pay)))  # noqa: E731
    b2a = lambda pay: eth(ipv4(17, "10.0.0.2", "10.0.0.1", udp(2000, 1000, pay)))  # noqa: E731
    p1 = a2b(b"\x00" * 8) + mm_trailer(t - 5, 0, 1, 1)      # len 66, side1 speaks first
    p2 = b2a(b"\x00" * 8) + mm_trailer(t - 4, 0, 1, 2)      # len 66
    p3 = a2b(b"\x00" * 18)                                  # len 60
    p4 = b2a(b"\x00" * 12)                                  # len 54
    p5 = a2b(b"\x00" * 30)                                  # len 72
    c1 = eth(ipv4(6, "192.168.1.2", "192.168.1.1", tcp(5000, 80))) + mm_trailer(
        t - 6, 0, 2, 1
    )                                                       # len 70, side2 speaks first
    c2 = eth(ipv4(6, "192.168.1.1", "192.168.1.2", tcp(80, 5000))) + mm_trailer(
        t - 5, 123, 2, 2
    )                                                       # len 70
    u1 = eth(ipv4(17, "10.5.5.1", "10.5.5.2", udp(99, 100, b"")))  # len 42, unanswered
    i1 = eth(ipv4(1, "10.7.7.1", "10.7.7.2", b"\x08\x00\x00\x00"))  # len 38
    i2 = eth(ipv4(1, "10.7.7.2", "10.7.7.1", b"\x00\x00\x00\x00"))  # len 38
    junk = b"\x01" * 10                                     # undecodable runt
    # v6 conversation (answered, side1 speaks first) — len 86 each
    d1 = eth(
        ipv6(17, "2001:db8::a1", "2001:db8::b1", udp(6000, 7000)), ethertype=0x86DD
    ) + mm_trailer(t - 10, 0, 3, 1)
    d2 = eth(
        ipv6(17, "2001:db8::b1", "2001:db8::a1", udp(7000, 6000)), ethertype=0x86DD
    ) + mm_trailer(t - 9, 0, 3, 2)
    # v4↔v6 NON-pair: same ports as the v4 udp conversation, v6 text
    x1 = eth(
        ipv6(17, "2001:db8::1", "2001:db8::2", udp(1000, 2000)), ethertype=0x86DD
    ) + mm_trailer(t - 1, 0, 4, 1)

    pkts = {
        "udp_a1": p1, "udp_b1": p2, "udp_a2": p3, "udp_b2": p4, "udp_a3": p5,
        "tcp_c1": c1, "tcp_c2": c2, "udp_unanswered": u1,
        "icmp_req": i1, "icmp_rep": i2, "runt": junk,
        "v6_d1": d1, "v6_d2": d2, "v6_mirror": x1,
    }
    return {k: (t, len(v), v) for k, v in pkts.items()}


def flow_timeline_fixture_packets() -> dict[str, tuple[int, int, bytes]]:
    """name → (ts_sec, origlen, data): hardware-stamped packet
    timelines for the NetFlow record-splitting op (q_pcap_flow_timeout)
    — the biflow fixture's stamps are one-per-direction, too sparse to
    exercise active/idle record boundaries. Three UDP flows + one
    untimed frame:

    - flow L ("long-lived"): 6 packets 3 s apart (t-30 .. t-15) — no
      idle gap ever reaches the 10 s timeout, but the 10 s ACTIVE
      timeout splits the island into two records ([t-30..t-21] epoch 0,
      [t-18..t-15] epoch 1 on the island-start-aligned grid);
    - flow I ("idle-split"): packets at t-30, t-29 then t-10, t-9 —
      the 19 s silence exceeds the idle timeout, two islands, one
      record each;
    - flow S: a single packet at t-5 — one one-packet record;
    - flow R ("rule-divergent"): packets at t-28, t-19,
      t-10, t-1 — 9 s apart, so the idle timeout never fires, and the
      two active rules genuinely DIVERGE: the island-aligned grid cuts
      at offsets 10/20 → 3 records ([t-28,t-19], [t-10], [t-1]) while
      the reset-per-record rule restarts the clock at the packet
      after each split → 2 records ([t-28,t-19], [t-10,t-1]);
    - one UNTIMED frame (no trailer): time-based record splitting is
      undefined for it, pinned excluded."""
    t = BASE_TS

    def pkt(src: str, dst: str, off: int, mmid: int, mmport: int) -> bytes:
        return eth(ipv4(17, src, dst, udp(4000, 5000))) + mm_trailer(
            t + off, 0, mmid, mmport
        )

    pkts: dict[str, bytes] = {}
    for k, off in enumerate((-30, -27, -24, -21, -18, -15)):
        pkts[f"long_{k}"] = pkt("10.1.0.1", "10.1.0.2", off, 1, k + 1)
    for k, off in enumerate((-30, -29, -10, -9)):
        pkts[f"idle_{k}"] = pkt("10.2.0.1", "10.2.0.2", off, 2, k + 1)
    pkts["short_0"] = pkt("10.3.0.1", "10.3.0.2", -5, 3, 1)
    for k, off in enumerate((-28, -19, -10, -1)):
        pkts[f"rule_{k}"] = pkt("10.5.0.1", "10.5.0.2", off, 4, k + 1)
    pkts["untimed"] = eth(ipv4(17, "10.4.0.1", "10.4.0.2", udp(4000, 5000)))
    return {k: (t, len(v), v) for k, v in pkts.items()}


def flow_timeline_pcap_bytes() -> bytes:
    """All flow-timeline fixture packets in one deterministic pcap."""
    return pcap_file(list(flow_timeline_fixture_packets().values()))


def biflow_golden_pcap_bytes() -> bytes:
    """All biflow fixture packets in one deterministic legacy pcap."""
    return pcap_file(list(biflow_fixture_packets().values()))
