"""Seeded legacy-pcap capture generator with ground truth.

Frames are assembled from ``pcap_to_parquet_spark.sources.pcap_fixtures``
(``eth``/``vlan_eth``/``ipv4``/``tcp``/``udp``/``mm_trailer``/``pcap_file``)
and drawn from a fixed flow table: IMIX frame sizes (7:4:1 of 64, 576 and
1500 bytes), a share of VLAN-tagged frames, of Metamako-tagged frames
(some with two stacked trailers) and of non-IP (ARP) frames. Every packet
also yields its expected decoded row, so the program's output can be
checked exactly.

The trailer walk accepts any 4-byte big-endian word within 300 s of the
record's timestamp as a trailer's seconds field, and the timestamps used
here all start with byte 0x65. No byte of a frame other than a real
trailer's seconds field may therefore be 0x65: addresses, ports and
device ids are drawn from values without that byte, and payload bytes
equal to 0x65 are replaced. Otherwise a payload could form a plausible
inner trailer and the ground truth would be silently wrong.
"""

from __future__ import annotations

import os
import struct
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa

from pcap_to_parquet_spark.sources.pcap_fixtures import (
    BASE_TS,
    eth,
    ipv4,
    mm_trailer,
    pcap_file,
    tcp,
    udp,
    vlan_eth,
)

GENERATOR_VERSION = 1

_FORBIDDEN = 0x65  # first byte of every timestamp near BASE_TS
assert BASE_TS >> 24 == _FORBIDDEN
_IMIX_SIZES = np.array([64, 576, 1500])
_IMIX_WEIGHTS = np.array([7, 4, 1]) / 12
_PROTO_NAMES = {1: "ICMP", 6: "TCP", 17: "UDP"}
_ARP = b"\x00\x01\x08\x00\x06\x04\x00\x01" + b"\x00" * 20

PACKET_ARROW_SCHEMA = pa.schema(
    [
        ("src_ip", pa.string()),
        ("dst_ip", pa.string()),
        ("len", pa.int64()),
        ("protocol", pa.string()),
        ("src_port", pa.int32()),
        ("dst_port", pa.int32()),
        ("mm_ts", pa.int64()),
        ("mm_id", pa.int32()),
        ("mm_port", pa.int16()),
    ]
)


@dataclass(frozen=True)
class CaptureSpec:
    """Input properties of one generated capture set."""

    files: int
    packets_per_file: int
    flows: int
    vlan_share: float
    trailer_share: float
    stacked_share: float  # share of trailer-tagged frames with two trailers
    non_ip_share: float
    snaplen: int  # bytes kept per record; 65535 keeps whole frames


@dataclass
class Capture:
    paths: list[str]
    truth: pa.Table  # one expected row per packet, PACKET_ARROW_SCHEMA
    props: dict  # measured input properties, recorded with each result


def _safe_ints(rng: np.random.Generator, lo: int, hi: int, n: int, nbytes: int) -> np.ndarray:
    """Integers in [lo, hi) whose big-endian bytes avoid 0x65."""
    out = rng.integers(lo, hi, n)
    for _ in range(64):
        bad = np.zeros(n, dtype=bool)
        for k in range(nbytes):
            bad |= ((out >> (8 * k)) & 0xFF) == _FORBIDDEN
        if not bad.any():
            return out
        out[bad] = rng.integers(lo, hi, int(bad.sum()))
    raise RuntimeError("could not draw 0x65-free integers")


def _dotted(u32: np.ndarray) -> list[str]:
    return [f"{v >> 24}.{(v >> 16) & 255}.{(v >> 8) & 255}.{v & 255}" for v in u32.tolist()]


def _flow_table(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    src = (10 << 24) | _safe_ints(rng, 0, 1 << 24, n, 3)
    dst = (192 << 24) | (168 << 16) | _safe_ints(rng, 0, 1 << 16, n, 2)
    proto = rng.choice(np.array([6, 17, 1]), n, p=[0.6, 0.35, 0.05])
    return {
        "src_ip": np.array(_dotted(src), dtype=object),
        "dst_ip": np.array(_dotted(dst), dtype=object),
        "proto": proto,
        "sport": _safe_ints(rng, 1024, 65536, n, 2),
        "dport": rng.choice(np.array([53, 80, 443, 123, 8080, 9000]), n),
    }


def _frame(proto: int, src: str, dst: str, sport: int, dport: int, size: int,
           vlan: bool, payload: bytes) -> bytes:
    """One Ethernet frame of ``size`` bytes (at least its headers)."""
    header = 14 + (4 if vlan else 0) + 20 + {6: 20, 17: 8, 1: 4}[proto]
    body = payload[: max(size - header, 0)]
    if proto == 6:
        l4 = tcp(sport, dport) + body
    elif proto == 17:
        l4 = udp(sport, dport, body)
    else:
        l4 = b"\x08\x00\x00\x00" + body
    ip = ipv4(proto, src, dst, l4)
    return vlan_eth(ip) if vlan else eth(ip)


def _one_file(rng: np.random.Generator, spec: CaptureSpec, flows: dict, t0: int):
    n = spec.packets_per_file
    fid = rng.integers(0, spec.flows, n)
    size = rng.choice(_IMIX_SIZES, n, p=_IMIX_WEIGHTS)
    vlan = rng.random(n) < spec.vlan_share
    non_ip = rng.random(n) < spec.non_ip_share
    tagged = rng.random(n) < spec.trailer_share
    stacked = tagged & (rng.random(n) < spec.stacked_share)
    ts = t0 + np.arange(n) // 1000  # 1000 packets per second
    mm_sec = ts - rng.integers(0, 4, n)
    mm_ns = rng.integers(0, 1_000_000_000, n)
    mm_id = _safe_ints(rng, 1, 4096, n, 2)
    mm_port = _safe_ints(rng, 1, 64, n, 1)
    pool = rng.integers(0, 256, 1600, dtype=np.uint8)
    pool[pool == _FORBIDDEN] = 0x66
    payload = pool.tobytes()

    counts = {
        "vlan": int((vlan & ~non_ip).sum()),
        "tagged": int(tagged.sum()),
        "stacked": int(stacked.sum()),
    }
    # a frame and its decoded fields depend only on (flow, size, vlan)
    frames: dict[tuple, tuple[bytes, tuple]] = {}
    arp = (eth(_ARP, ethertype=0x0806), (None, None, None, None, None))
    records, rows = [], []
    no_mm = (None, None, None)
    for f, sz, vl, nip, tag, stk, t, sec, ns, dev, port in zip(
        fid.tolist(), size.tolist(), vlan.tolist(), non_ip.tolist(), tagged.tolist(),
        stacked.tolist(), ts.tolist(), mm_sec.tolist(), mm_ns.tolist(), mm_id.tolist(),
        mm_port.tolist(),
    ):
        if nip:
            frame, fields = arp
        else:
            key = (f, sz, vl)
            if key not in frames:
                proto = int(flows["proto"][f])
                src_ip, dst_ip = flows["src_ip"][f], flows["dst_ip"][f]
                sport, dport = int(flows["sport"][f]), int(flows["dport"][f])
                ports = (sport, dport) if proto in (6, 17) else (None, None)
                frames[key] = (
                    _frame(proto, src_ip, dst_ip, sport, dport, sz, vl, payload),
                    (src_ip, dst_ip, _PROTO_NAMES[proto]) + ports,
                )
            frame, fields = frames[key]
        mm = no_mm
        if tag:
            frame = frame + mm_trailer(sec, ns, dev, port)
            if stk:  # the innermost (first-appended) trailer wins
                frame += mm_trailer(sec - 1, (ns + 1) % 1_000_000_000, 7, 99)
            mm = (sec * 1_000_000_000 + ns, dev, port)
        records.append((t, len(frame), frame[: spec.snaplen]))
        rows.append((fields[0], fields[1], len(frame)) + fields[2:] + mm)
    data = pcap_file(records)
    if spec.snaplen != 65535:  # pcap_file always declares 65535
        data = data[:16] + struct.pack("<I", spec.snaplen) + data[20:]
    return data, rows, counts


def generate(spec: CaptureSpec, seed: int, out_dir: str) -> Capture:
    """Write ``spec.files`` captures under a directory keyed by seed,
    generator version and spec, and return them with their ground truth.
    An existing complete directory for the same key is reused (its truth
    is regenerated, which is deterministic)."""
    key = f"s{seed}-v{GENERATOR_VERSION}-" + "-".join(f"{v:g}" for v in asdict(spec).values())
    cap_dir = os.path.join(out_dir, f"pcap-{key}")
    rng = np.random.default_rng([seed, GENERATOR_VERSION])
    flows = _flow_table(rng, spec.flows)
    reuse = os.path.exists(os.path.join(cap_dir, "_COMPLETE"))
    os.makedirs(cap_dir, exist_ok=True)
    paths, all_rows, total_bytes = [], [], 0
    counts = {"vlan": 0, "tagged": 0, "stacked": 0}
    for k in range(spec.files):
        data, rows, c = _one_file(rng, spec, flows, BASE_TS + k * 3600)
        counts = {name: counts[name] + c[name] for name in counts}
        path = os.path.join(cap_dir, f"cap{k:03d}.pcap")
        if not reuse:
            with open(path, "wb") as fh:
                fh.write(data)
        paths.append(path)
        all_rows.extend(rows)
        total_bytes += len(data)
    if not reuse:
        open(os.path.join(cap_dir, "_COMPLETE"), "w").close()
    columns = list(zip(*all_rows)) if all_rows else [()] * len(PACKET_ARROW_SCHEMA)
    truth = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, PACKET_ARROW_SCHEMA)],
        schema=PACKET_ARROW_SCHEMA,
    )
    n = truth.num_rows
    lens = np.asarray(truth["len"])
    proto = truth["protocol"]
    props = {
        "files": spec.files,
        "packets": n,
        "bytes": total_bytes,
        "mean_frame_len": round(float(lens.mean()), 2),
        "snaplen": spec.snaplen,
        "vlan_share": round(counts["vlan"] / n, 4),
        "trailer_share": round(1 - truth["mm_ts"].null_count / n, 4),
        "stacked_share_of_tagged": round(counts["stacked"] / max(counts["tagged"], 1), 4),
        "non_ip_share": round(truth["src_ip"].null_count / n, 4),
        "tcp_share": round(sum(1 for p in proto.to_pylist() if p == "TCP") / n, 4),
        "distinct_flows": len(
            set(zip(truth["src_ip"].to_pylist(), truth["dst_ip"].to_pylist(),
                    truth["src_port"].to_pylist(), truth["dst_port"].to_pylist()))
            - {(None, None, None, None)}
        ),
    }
    return Capture(paths=paths, truth=truth, props=props)
