"""pcap read units: file listing, byte-range chunks, boundary resync.

Every pcap reader scans ``(path, start, end)`` units from
``chunk_specs`` and reads each through ``read_unit``: a unit covering
its whole file is the raw file; a smaller one is a byte-range chunk, so
a single 10 GB capture decodes in parallel in O(chunk) task memory
instead of on one core:

- chunk boundaries are arbitrary byte offsets; each task *resyncs* to
  the first real record header at-or-after its start offset by
  validating a chain of 6 consecutive plausible record headers
  (timestamp within ±48 h of the file's first record — the tolerance
  must exceed the capture's duration — incl_len ≤ 256 KiB; near EOF,
  shorter chains only if they land exactly on EOF or have ≥2 links) —
  periodic or random payload bytes essentially never fake that;
- the sync function is deterministic in (file bytes, offset), and a
  chunk ends where the *next* chunk's sync begins, so neighbors agree
  on ownership without coordination: no gaps, no double-decodes;
- each task seeks/reads only its range (+ a small tail for the record
  straddling the boundary) — O(chunk) memory, never O(file).

Local-filesystem ``open()`` is used here; on a cluster the same seek/
read contract maps to ``pyarrow.fs`` / HDFS range reads.
"""

from __future__ import annotations

import os
from glob import glob

from pyspark.sql import DataFrame, SparkSession

from pcap_to_parquet_spark.sources.pcap import (
    _AUTO_CHUNK_THRESHOLD,
    _GLOBAL_HEADER_LEN,
    _MAGICS,
    _RECORD_HEADER_LEN,
    PcapFormatError,
)

# ±48 h around the file's first-record ts: must exceed the capture's
# duration (typical capture files span minutes-to-hours). Wide windows
# admit more fake headers — at ±2 years, ~3% of random 4-byte values
# pass, and fuzzing produced a fake header bridging onto the real
# record lattice; at ±48 h that first fake hop is ~360× rarer.
_TS_TOL = 48 * 3600
_MAX_INCL = 256 << 10  # 256 KiB cap on captured length (snaplen envelope;
# real captures are <= 64 KiB frames — the cap bounds the per-chunk slack
# read, which costs (window + chain x cap) extra IO per task)
_SYNC_CHAIN = 6  # consecutive plausible headers required
_WIDE_TOL = 20 * 365 * 24 * 3600  # ±20 y diagnostic rescan: distinguishes
# "records exist but drifted past ts_tol" (fail loud, tell the user to
# raise ts_tol) from "genuine garbage" (truncated-tail drop at EOF)
_SYNC_WINDOW = (256 << 10) + 4096  # window must exceed the record cap so a
# boundary landing inside any supported record still finds the next header


def _plausible(
    buf: bytes, o: int, n: int, order: str, ref_ts: int, ts_tol: int = _TS_TOL
) -> int | None:
    """If a plausible record header starts at ``o``, return the offset
    just past its data; else None. Plausibility anchors the timestamp
    to the file's first record (±ts_tol): periodic or random payloads
    can fake self-consistent header chains, but faking the capture's
    own narrow epoch window takes adversarial data — for which the
    per-file reader remains the safe path."""
    if o + _RECORD_HEADER_LEN > n:
        return None
    ts = int.from_bytes(buf[o : o + 4], order)
    incl = int.from_bytes(buf[o + 8 : o + 12], order)
    if not (abs(ts - ref_ts) <= ts_tol and incl <= _MAX_INCL):
        return None
    return o + _RECORD_HEADER_LEN + incl


# slack past the chunk end so every sync candidate in the window has a
# full validation chain available in-buffer: then a short read means
# true EOF, and neighboring chunks (whose buffers share these bytes)
# always compute the SAME sync point — the no-gap/no-overlap invariant.
_SLACK = _SYNC_WINDOW + _SYNC_CHAIN * (_RECORD_HEADER_LEN + _MAX_INCL)


def _candidate_offsets(
    buf: bytes, start: int, stop: int, order: str, ref_ts: int, ts_tol: int = _TS_TOL
):
    """Offsets in [start, stop) whose leading 4 bytes read as an
    in-window timestamp — a vectorized prefilter so the chain
    validator never walks unparseable regions byte-by-byte (measured:
    a 1 MiB garbage window costs seconds in pure Python, ~2 ms here).
    Purely a subset of what the scalar loop would accept: every
    candidate still runs the full chain validation."""
    import numpy as np

    if stop <= start:
        return []
    b = np.frombuffer(buf, dtype=np.uint8)
    if len(b) < 4:
        return []
    w4 = np.lib.stride_tricks.sliding_window_view(b, 4)
    weights = (
        np.array([1, 1 << 8, 1 << 16, 1 << 24], dtype=np.int64)
        if order == "little"
        else np.array([1 << 24, 1 << 16, 1 << 8, 1], dtype=np.int64)
    )
    hi = min(stop, len(w4))
    ts = w4[start:hi] @ weights
    return (start + np.flatnonzero(np.abs(ts - ref_ts) <= ts_tol)).tolist()


def sync_offset(
    buf: bytes, start: int, order: str, ref_ts: int, ts_tol: int = _TS_TOL
) -> int | None:
    """First record-header offset at-or-after ``start`` (relative to
    ``buf``), validated by a chain of ``_SYNC_CHAIN`` plausible
    headers (fewer suffice when the chain cleanly reaches EOF).
    Deterministic in (file bytes, offset).

    Returns the buffer end when the search window is empty (at/past
    EOF — nothing left to own), and ``None`` when the window held
    bytes but no candidate validated: the caller must decide whether
    that region is a tolerable truncated tail or a loud failure —
    silently guessing an offset here would decode garbage (the
    pre-round-2 behavior)."""
    n = len(buf)
    stop = min(start + _SYNC_WINDOW, n)
    if start >= stop:
        return min(start, n)
    for o in _candidate_offsets(buf, start, stop, order, ref_ts, ts_tol):
        p: int | None = o
        ok = 0
        while p is not None and ok < _SYNC_CHAIN:
            nxt = _plausible(buf, p, n, order, ref_ts, ts_tol)
            if nxt is None:
                break
            ok += 1
            p = nxt
        # full chain; or a short chain that ends exactly at EOF; or a
        # ≥2-link chain that overruns EOF (truncated final record).
        # A single header claiming data past EOF is NOT enough — one
        # lucky fake near the tail (e.g. trailer bytes reading as an
        # in-epoch timestamp + huge incl) would otherwise hijack the
        # boundary and orphan the real tail records.
        if ok == _SYNC_CHAIN or (
            p is not None
            and ((ok >= 1 and p == n) or (ok >= 2 and p + _RECORD_HEADER_LEN > n))
        ):
            return o
    return None


HIDDEN = ("_", ".")  # name prefixes every pcap listing skips, as Spark's file sources do


def chunk_specs(path: str, chunk_bytes: int) -> list[tuple[str, int, int]]:
    """(path, start, end) byte ranges per file; start=24 for the first.

    Directories and globs list non-recursively, skipping subdirectories,
    other non-files and ``HIDDEN`` names. Every file gets at least one
    unit, so a header-only capture reads as zero rows and a short or
    non-pcap file fails loud in ``read_unit``; only a path that matches
    no files is an error here."""
    if any(c in path for c in "*?["):
        candidates = [f for f in glob(path) if not os.path.basename(f).startswith(HIDDEN)]
    elif os.path.isdir(path):
        candidates = [os.path.join(path, f) for f in os.listdir(path) if not f.startswith(HIDDEN)]
    else:
        candidates = [path]
    files = sorted(f for f in candidates if os.path.isfile(f))
    if not files:
        raise PcapFormatError(f"no pcap files under {path!r}")
    specs: list[tuple[str, int, int]] = []
    for f in files:
        size = max(os.path.getsize(f), _GLOBAL_HEADER_LEN)
        starts = range(_GLOBAL_HEADER_LEN, size, chunk_bytes) or [_GLOBAL_HEADER_LEN]
        specs.extend((f, s, min(s + chunk_bytes, size)) for s in starts)
    return specs


def pack_units(specs: list[tuple[str, int, int]], n: int) -> list[list[tuple[str, int, int]]]:
    """``specs`` in at most ``n`` non-empty bins: largest unit first, each
    onto the lightest bin (then the one with fewest units, so zero-byte
    units spread too). The heaviest bin outweighs the lightest by at most
    the largest unit; bins keep spec order and sort by their first spec."""
    bins: list[list[int]] = [[] for _ in range(min(max(n, 1), len(specs)))]
    load = [0] * len(bins)
    for i in sorted(range(len(specs)), key=lambda i: specs[i][1] - specs[i][2]):
        b = min(range(len(bins)), key=lambda b: (load[b], len(bins[b])))
        bins[b].append(i)
        load[b] += specs[i][2] - specs[i][1]
    return [[specs[i] for i in b] for b in sorted(sorted(b) for b in bins)]


def read_unit(path: str, start: int, end: int, ts_tol: int = _TS_TOL) -> bytes:
    """One ``chunk_specs`` unit as a standalone pcap buffer: the raw
    file when the unit covers it whole (the decoder then rejects short
    or non-pcap files), else ``decode_chunk``."""
    with open(path, "rb") as fh:
        if start == _GLOBAL_HEADER_LEN and end >= os.fstat(fh.fileno()).st_size:
            return fh.read()
    return decode_chunk(path, start, end, ts_tol)


def decode_chunk(path: str, start: int, end: int, ts_tol: int = _TS_TOL) -> bytes:
    """Read [start, end) plus resync slack and return a synthetic
    standalone pcap buffer (global header + owned records).

    A sync failure (bytes present but no validated record header in
    the window) is tolerated only when the unparseable region fits
    inside one truncated final record's envelope at EOF — the case the
    per-file reader also drops silently. Anywhere else it fails LOUD:
    the old fallback (decode from the window cap) silently produced
    garbage/dropped rows whenever a capture spanned more than ±ts_tol
    of its first record or a mid-file region was corrupt."""
    with open(path, "rb") as fh:
        header = fh.read(_GLOBAL_HEADER_LEN)
        try:
            order, _unit = _MAGICS[header[:4]]
        except KeyError:
            raise PcapFormatError(
                f"not a legacy pcap file (magic={header[:4].hex()})"
            ) from None
        # the first record's ts anchors plausibility for every chunk of
        # this file — identical, known-real, and cheap to read
        first_hdr = fh.read(4)
        ref_ts = int.from_bytes(first_hdr, order) if len(first_hdr) == 4 else 0
        fh.seek(start)
        buf = fh.read((end - start) + _SLACK)
    file_size = os.path.getsize(path)
    tail_envelope = _RECORD_HEADER_LEN + _MAX_INCL

    def _resolve(rel_start: int, abs_start: int, what: str) -> int:
        o = sync_offset(buf, rel_start, order, ref_ts, ts_tol)
        if o is not None:
            return o
        # Diagnose before tolerating: rescan with a very wide tolerance.
        # A validated chain out there means the bytes ARE records whose
        # timestamps drifted past ±ts_tol of the first record — silently
        # dropping them (the pre-round-2 fallback) loses real data, so
        # fail loud and name the fix.
        if sync_offset(buf, rel_start, order, ref_ts, _WIDE_TOL) is not None:
            raise PcapFormatError(
                f"cannot resynchronize {what} at {path}:{abs_start}: records "
                f"found whose timestamps exceed ±{ts_tol}s of the file's first "
                "record — the capture outlives the plausibility anchor; pass a "
                "larger ts_tol to read_pcap_chunked (CLI: --ts-tol-hours) or "
                "use read_pcap / per-file decode (CLI: --chunk-mb 0)"
            )
        if file_size - abs_start <= tail_envelope:
            # no records even at wide tolerance, and the region fits one
            # truncated final record at EOF: drop silently (parity with
            # the per-file splitter); neighbors compute the same answer
            # from the same bytes
            return min(rel_start + _SYNC_WINDOW, len(buf))
        raise PcapFormatError(
            f"cannot resynchronize {what} at {path}:{abs_start}: no valid record "
            f"header in a {_SYNC_WINDOW}-byte window — corrupt or non-pcap "
            "region; use read_pcap / per-file decode (CLI: --chunk-mb 0)"
        )

    lo = _resolve(0, start, "chunk start") if start > _GLOBAL_HEADER_LEN else 0
    hi = _resolve(end - start, end, "chunk end")
    # walk records from lo; a record is OWNED iff its header starts
    # before hi (a straddler's data extends past hi — that's fine, the
    # slack covers it and the next chunk starts at hi, not before)
    n = len(buf)
    pos = lo
    while pos < hi:
        if pos + _RECORD_HEADER_LEN > n:
            break
        nxt = pos + _RECORD_HEADER_LEN + int.from_bytes(buf[pos + 8 : pos + 12], order)
        if nxt > n:
            if start + nxt <= file_size:
                # record extends past the slack mid-file: its incl_len
                # exceeds the chunked-mode envelope (_MAX_INCL) — silent
                # drop here would lose data, so fail loud
                raise PcapFormatError(
                    f"record at {path}:{start + pos} has incl_len > {_MAX_INCL} "
                    "bytes; chunked mode caps record size — use read_pcap"
                )
            break  # truncated straddler (true EOF tail): drop, parity with splitter
        pos = nxt
    return header + buf[lo:pos]


def read_pcap_chunked(
    spark: SparkSession,
    path: str,
    chunk_bytes: int = _AUTO_CHUNK_THRESHOLD,
    ts_tol: int = _TS_TOL,
    ipv6: bool = False,
) -> DataFrame:
    """pcap file(s) → packets DataFrame with intra-file parallelism:
    ``format("pcap")`` with one unit per ``chunk_bytes`` byte range,
    passed as the ``chunk_mb`` and ``ts_tol_hours`` options (both
    round-trip exactly). Same output as ``read_pcap`` (tests assert
    row-set equality), different physical shape: a single large
    capture fans out across the cluster.

    ``ipv6=True`` enables the opt-in 0x86DD decode (see ``read_pcap``)
    inside the same chunked kernel — resync is L2-agnostic (it anchors
    on record headers, not packet contents), so the boundary contract
    is unchanged. Default False = reference parity (main.rs:239-251).
    ``chunk_bytes`` must be positive: whole-file units are ``read_pcap``."""
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

    if chunk_bytes <= 0:
        raise ValueError(f"chunk_bytes must be positive, got {chunk_bytes}")
    register_pcap_source(spark)
    return (
        spark.read.format("pcap")
        .option("chunk_mb", chunk_bytes / 2**20)
        .option("ts_tol_hours", ts_tol / 3600)
        .option("ipv6", ipv6)
        .load(path)
    )
