"""pcap as a first-class Spark data source: ``spark.read.format("pcap")``.

The Spark 4 Python Data Source API gives the reference capability its
idiomatic connector form (reference CLI: /root/reference/src/main.rs:59-61),
and it is the engine's only pcap scan: ``read_pcap``,
``read_pcap_chunked``, ``read_pcapng`` and ``convert_pcap`` are thin
``spark.read.format(...)`` calls over it.

- **batch**: ``spark.read.format("pcap").load(path)`` — the
  ``chunk_specs`` units of the captures (whole small files, byte-range
  chunks of big ones), packed by ``pack_units`` into at most
  ``defaultParallelism`` size-balanced partitions. Each unit decodes
  with the vectorized numpy kernels (sources/pcap_vec.py) into one
  Arrow record batch, strings built by ``pyarrow.compute``.
- **pcapng**: ``spark.read.format("pcapng").load(path)`` — batch only,
  one whole-file unit per capture, re-framed into legacy pcap
  (``pcapng.reframe_legacy``) before the same decode.
- **streaming**: ``spark.readStream.format("pcap").load(dir)`` — a
  landing-directory tail: each micro-batch decodes the files that
  arrived since the last committed offset (offset = sorted seen-file
  list), giving the capture-directory → packets table pipeline a
  Structured Streaming front end.

Options: ``chunk_mb`` (0 = one unit per file; default auto, sized by
``pcap._auto_chunk_size`` as in ``convert_pcap``; fractional MiB
allowed), ``ts_tol_hours`` (resync anchor, chunked mode), ``ipv6``
(opt-in 0x86DD decode).

Importing this module installs ``worker_daemon``'s zipimport fix. Spark
plans a Python data source in worker processes of its own (one runs
``.load()``, one plans each query and lists its partitions), and those
ignore ``spark.python.daemon.module``; but every one of them imports
this module to unpickle ``PcapDataSource``. Without the fix each
planning call re-parses pyspark.zip once per zip importer.
"""

from __future__ import annotations

import operator
import os
from collections.abc import Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceWriter,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from pcap_to_parquet_spark import worker_daemon
from pcap_to_parquet_spark.schema import PACKET_SCHEMA
from pcap_to_parquet_spark.sources.pcap import (
    _AUTO_CHUNK_THRESHOLD,
    _GLOBAL_HEADER_LEN,
    _PROTOCOL_NAMES,
    _WHOLE_FILE,
    _auto_chunk_size,
)
from pcap_to_parquet_spark.sources.pcap_chunked import (
    _TS_TOL,
    HIDDEN,
    chunk_specs,
    pack_units,
    read_unit,
)
from pcap_to_parquet_spark.sources.pcapng import reframe_legacy

worker_daemon.install()  # for the planner workers: see the module docstring

# lookup tables for _decode_to_arrow: byte value → its decimal text,
# IPv4 protocol number → its name (NULL when unnamed)
_OCTETS = pa.array([str(i) for i in range(256)], type=pa.string())
_PROTO_BY_NUM = pa.array([_PROTOCOL_NAMES.get(i) for i in range(256)], type=pa.string())


class PcapPartition(InputPartition):
    """A list of ``chunk_specs`` units, decoded one Arrow batch each."""

    def __init__(self, units: list[tuple[str, int, int]], ts_tol: int) -> None:
        self.units = units
        self.ts_tol = ts_tol

    def unit_buffer(self, path: str, start: int, end: int) -> bytes:
        return read_unit(path, start, end, self.ts_tol)

    def decode(self, filters: Sequence = (), ipv6: bool = False) -> Iterator[pa.RecordBatch]:
        for unit in self.units:
            yield _decode_to_arrow(self.unit_buffer(*unit), filters, ipv6)


class PcapngPartition(PcapPartition):
    """Whole pcapng captures, each re-framed into legacy pcap."""

    def unit_buffer(self, path: str, start: int, end: int) -> bytes:
        return reframe_legacy(super().unit_buffer(path, start, end))


# pushdown-eligible columns → the decoded array carrying them and its
# validity array (None = always valid); protocol is compared by name,
# see _filter_mask
_PUSH_COLS = {
    "len": ("len", None),
    "src_port": ("src_port", "ports_valid"),
    "dst_port": ("dst_port", "ports_valid"),
    "protocol": None,
}
# pushed comparison → its numpy form (IsNotNull is the validity mask)
_PUSH_OPS = {
    EqualTo: operator.eq,
    In: np.isin,
    GreaterThan: operator.gt,
    GreaterThanOrEqual: operator.ge,
    LessThan: operator.lt,
    LessThanOrEqual: operator.le,
}


def _filter_mask(a, filters, ipv6=False):  # type: ignore[no-untyped-def]
    """AND of pushed filters as one numpy mask over the decoded arrays
    (SQL semantics: a NULL column value never satisfies a comparison).
    Protocol filters compare NAMES in both modes, as SQL compares the
    string column: an ordering or a literal naming no protocol ('T',
    'TCPX') has no protocol-number equivalent, and in ipv6 mode the
    next-header names live in the proto6 string array. Each filter runs
    once per distinct name of the dictionary-encoded column, then
    gathers by row; index ``len(words)`` is the NULL row, never a hit.
    The shared port arrays already carry v6 ports, so port/len filters
    work unchanged."""
    mask = np.ones(len(a["len"]), dtype=bool)
    words = rows = None
    for f in filters:
        (col,) = f.attribute
        if col == "protocol":
            if words is None:
                names = _protocol_names(a, ipv6).dictionary_encode()
                words = names.dictionary.to_numpy(zero_copy_only=False)
                rows = names.indices.fill_null(len(words)).to_numpy()
            arr, valid = words, np.ones(len(words), dtype=bool)
            conv = str
        else:
            arr_name, valid_name = _PUSH_COLS[col]
            arr = a[arr_name]
            valid = a[valid_name] if valid_name else np.ones(len(arr), dtype=bool)
            conv = int
        if isinstance(f, IsNotNull):
            hit = valid
        else:
            value = [conv(v) for v in f.value] if isinstance(f, In) else conv(f.value)
            hit = valid & _PUSH_OPS[type(f)](arr, value)
        if col == "protocol":
            hit = np.append(hit, False)[rows]
        mask &= hit
    return mask


def _protocol_names(a, ipv6):  # type: ignore[no-untyped-def]
    """The protocol column: IPv4 number → name (NULL when invalid or
    unnamed); in ``ipv6`` mode a v6 next-header name wins."""
    import pyarrow.compute as pc

    names = _PROTO_BY_NUM.take(pa.array(a["proto"].astype("uint8"), mask=~a["proto_valid"]))
    if ipv6:
        names = pc.coalesce(pa.array(a["proto6"], type=pa.string()), names)
    return names


def _decode_to_arrow(buf: bytes, filters=(), ipv6=False):  # type: ignore[no-untyped-def]
    """One in-memory capture → one Arrow RecordBatch (PACKET_SCHEMA).

    The numeric decode is the shared vectorized kernel; the
    dotted-quad/protocol-name formatting happens here, as Arrow
    compute over whole columns: octet and protocol-name lookups
    joined element-wise, nullable ints masked by their validity.
    Pushed filters apply as a numpy mask BETWEEN decode and string
    formatting — pruned packets never cross the Arrow boundary.
    ``ipv6`` merges the v6 text columns into the same output fields."""
    import pyarrow.compute as pc

    from pcap_to_parquet_spark.sources.pcap_vec import decode_pcap_arrays

    a = decode_pcap_arrays(buf, ipv6)
    if filters:
        keep = _filter_mask(a, filters, ipv6)
        a = {k: v[keep] for k, v in a.items()}

    def nullable(values: np.ndarray, valid: np.ndarray, type_: pa.DataType) -> pa.Array:
        return pa.array(values.astype(type_.to_pandas_dtype()), mask=~valid, type=type_)

    def dotted(u32: np.ndarray) -> pa.Array:
        octets = [
            _OCTETS.take(nullable((u32 >> s) & 255, a["ip_valid"], pa.uint8()))
            for s in (24, 16, 8, 0)
        ]
        return pc.binary_join_element_wise(*octets, ".")

    src, dst = dotted(a["src_u32"]), dotted(a["dst_u32"])
    if ipv6:
        src = pc.coalesce(pa.array(a["src6"], type=pa.string()), src)
        dst = pc.coalesce(pa.array(a["dst6"], type=pa.string()), dst)

    return pa.record_batch(
        [
            src,
            dst,
            pa.array(a["len"].astype("int64")),
            _protocol_names(a, ipv6),
            nullable(a["src_port"], a["ports_valid"], pa.int32()),
            nullable(a["dst_port"], a["ports_valid"], pa.int32()),
            nullable(a["mm_ts"], a["mm_valid"], pa.int64()),
            nullable(a["mm_id"], a["mm_valid"], pa.int32()),
            nullable(a["mm_port"], a["mm_valid"], pa.int16()),
        ],
        names=PACKET_SCHEMA.names,
    )


def chunk_bytes_of(chunk_mb: str | float) -> int:
    """Bytes in ``chunk_mb`` MiB, fractions allowed, rounded down."""
    return int(float(chunk_mb) * 2**20)


class PcapBatchReader(DataSourceReader):
    """``parallelism`` (bound by ``register_pcap_source``) caps the
    partitions; None plans one per unit, chunked at the threshold.
    ``chunk_mb`` and ``ts_tol_hours`` parse back exactly what
    ``read_pcap_chunked`` passes: bytes / 2**20 is an exact float, and
    the seconds need ``round`` (``int`` would truncate 115 s to 114 s)."""

    partition = PcapPartition

    def __init__(self, options: dict, parallelism: int | None = None) -> None:
        self.parallelism = parallelism
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pcap source requires a path: .load('<file-or-glob>')")
        chunk_mb = options.get("chunk_mb")
        self.chunk_bytes = chunk_bytes_of(chunk_mb) if chunk_mb is not None else None
        if self.chunk_bytes is not None and self.chunk_bytes < 0:
            raise ValueError(f"chunk_mb must be >= 0 (0 = one unit per file), got {chunk_mb}")
        tol_h = options.get("ts_tol_hours")
        self.ts_tol = round(float(tol_h) * 3600) if tol_h is not None else _TS_TOL
        self.ipv6 = str(options.get("ipv6", "false")).lower() == "true"
        self.pushed: list = []

    def pushFilters(self, filters):  # type: ignore[no-untyped-def]
        """Accept equality/range/membership filters on the decoded
        numeric columns (len, ports, protocol). Accepted filters run as
        a vectorized numpy mask inside the decode kernel, so pruned
        packets never become Python strings or Arrow rows; everything
        else stays with Spark. Each accepted filter is implemented
        EXACTLY (SQL null semantics included), so nothing accepted is
        re-yielded for re-evaluation."""
        for f in filters:
            if (
                isinstance(f, (IsNotNull, *_PUSH_OPS))
                and len(f.attribute) == 1
                and f.attribute[0] in _PUSH_COLS
            ):
                self.pushed.append(f)
            else:
                yield f

    def unit_bytes(self) -> int:
        if self.chunk_bytes is not None:
            return self.chunk_bytes or _WHOLE_FILE
        if self.parallelism:
            sizes = [e for _p, _s, e in chunk_specs(self.path, _WHOLE_FILE)]
            return _auto_chunk_size(sizes, self.parallelism) or _WHOLE_FILE
        return _AUTO_CHUNK_THRESHOLD

    def partitions(self) -> Sequence[PcapPartition]:
        units = chunk_specs(self.path, self.unit_bytes())
        bins = pack_units(units, self.parallelism or len(units))
        return [self.partition(b, self.ts_tol) for b in bins]

    def read(self, partition: PcapPartition) -> Iterator:  # type: ignore[override]
        yield from partition.decode(self.pushed, self.ipv6)


class PcapStreamReader(DataSourceStreamReader):
    """Landing-directory tail: offset = the sorted list of files already
    committed; each planned batch covers the newly arrived files (one
    partition per file — arriving captures are the parallelism unit)."""

    def __init__(self, options) -> None:  # type: ignore[no-untyped-def]
        self.dir = options.get("path")
        if not self.dir:
            raise ValueError("pcap stream source requires a directory path")
        self.ipv6 = str(options.get("ipv6", "false")).lower() == "true"

    def _list(self) -> list[str]:
        """Landed captures; ``_``/``.``-prefixed names (files still being
        written) are skipped, as ``chunk_specs`` skips them for batch."""
        import glob

        files = glob.glob(os.path.join(self.dir, "*.pcap"))
        return sorted(f for f in files if not os.path.basename(f).startswith(HIDDEN))

    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": self._list()}

    def partitions(self, start: dict, end: dict) -> Sequence[PcapPartition]:
        new = [f for f in end["files"] if f not in set(start["files"])]
        if not new:
            # NO-DATA batch (same offset both ends): the engine plans
            # these to advance the watermark and evict/emit closed
            # state (e.g. session-window flows). An empty partition
            # list aborts the batch before the stateful operators run,
            # so yield one sentinel partition that decodes to 0 rows.
            return [PcapPartition([], _TS_TOL)]
        return [PcapPartition([(f, _GLOBAL_HEADER_LEN, _WHOLE_FILE)], _TS_TOL) for f in new]

    def read(self, partition: PcapPartition) -> Iterator:  # type: ignore[override]
        yield from partition.decode(ipv6=self.ipv6)

    def commit(self, end: dict) -> None:
        pass  # offsets are checkpointed by the engine; nothing to clean


def render_packet_record(r):  # type: ignore[no-untyped-def]
    """One PACKET_SCHEMA row → a (ts_sec, origlen, frame_bytes) pcap
    record whose re-decode returns exactly the row.

    The decoder anchors trailers at ORIGLEN (main.rs:92,138): render
    exactly origlen bytes, trailer flush at the end, zero padding
    between body and trailer (a zero sec field can never pass the
    ±300 s accept test, so padding is trailer-scan-inert). Rows whose
    len is smaller than the canonical encoding re-decode best-effort
    as truncated. Property-fuzzed in tests/test_pcap_datasource.py."""
    from pcap_to_parquet_spark.sources.pcap_fixtures import (
        eth,
        ipv4,
        mm_trailer,
        tcp,
        udp,
    )

    proto_l4 = {
        "TCP": (6, lambda r: tcp(r.src_port or 0, r.dst_port or 0)),
        "UDP": (17, lambda r: udp(r.src_port or 0, r.dst_port or 0)),
        "ICMP": (1, lambda r: b"\x08\x00\x00\x00"),
        "IGMP": (2, lambda r: b"\x11\x00\x00\x00"),
    }
    origlen = int(r.len)
    if r.mm_ts is not None:
        sec, ns = divmod(int(r.mm_ts), 1_000_000_000)
        tail = mm_trailer(sec, ns, int(r.mm_id or 0), int(r.mm_port or 0))
        ts_sec = sec  # anchor inside the ±300 s heuristic window
    else:
        tail, ts_sec = b"", 1_700_000_000
    if r.src_ip is None:
        body = eth(b"\x00" * 28, ethertype=0x0806)  # non-IP frame
    else:
        num, l4 = proto_l4.get(r.protocol, (47, lambda r: b"\x00\x00\x08\x00"))
        body = eth(ipv4(num, r.src_ip, r.dst_ip, l4(r)))
    room = origlen - len(tail)
    body = body[:room] if len(body) > room else body + b"\x00" * (room - len(body))
    return ts_sec, origlen, body + tail


class PcapWriter(DataSourceWriter):
    """Rows → legacy pcap: the reverse direction the reference never
    had. Each partition renders its rows as minimal Ethernet/IPv4
    frames (UDP/TCP ports, ICMP/IGMP markers, GRE for ip-but-no-name
    protocols, non-IP ethertype for undecodable rows; a Metamako
    trailer is appended when mm_* fields are set, with the capture
    second anchored to the trailer second so re-decode accepts it) and
    writes one .pcap per non-empty partition. ``origlen`` is the row's
    ``len``, so the reported length survives even though the rendered
    frame is canonical rather than byte-original. Round-trip contract
    (re-decode returns exactly the written rows) is pinned by
    q_pcap_roundtrip and tests/test_pcap_datasource.py."""

    def __init__(self, options, overwrite: bool) -> None:  # type: ignore[no-untyped-def]
        self.path = options.get("path")
        if not self.path:
            raise ValueError("pcap sink requires a path: .save('<dir>')")
        self.overwrite = overwrite

    def write(self, rows) -> WriterCommitMessage:  # type: ignore[no-untyped-def]
        import uuid

        from pcap_to_parquet_spark.sources.pcap_fixtures import pcap_file

        records = [render_packet_record(r) for r in rows]
        if records:
            os.makedirs(self.path, exist_ok=True)
            name = os.path.join(self.path, f"part-{uuid.uuid4().hex}.pcap")
            with open(name, "wb") as f:
                f.write(pcap_file(records))
        return WriterCommitMessage()

    def commit(self, messages) -> None:  # type: ignore[no-untyped-def]
        pass  # files are final on write; nothing to publish

    def abort(self, messages) -> None:  # type: ignore[no-untyped-def]
        pass


class PcapDataSource(DataSource):
    parallelism: int | None = None  # bound by register_pcap_source

    @classmethod
    def name(cls) -> str:
        return "pcap"

    def schema(self) -> StructType:
        return PACKET_SCHEMA

    def reader(self, schema) -> PcapBatchReader:  # type: ignore[no-untyped-def]
        return PcapBatchReader(self.options, self.parallelism)

    def streamReader(self, schema) -> PcapStreamReader:  # type: ignore[no-untyped-def]
        return PcapStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> PcapWriter:  # type: ignore[no-untyped-def]
        return PcapWriter(self.options, overwrite)


class PcapngBatchReader(PcapBatchReader):
    """pcapng has no record resync: one whole-file unit per capture."""

    partition = PcapngPartition

    def unit_bytes(self) -> int:
        return _WHOLE_FILE


class PcapngDataSource(PcapDataSource):
    """``format("pcapng")``: batch reads only."""

    streamReader = DataSource.streamReader
    writer = DataSource.writer

    @classmethod
    def name(cls) -> str:
        return "pcapng"

    def reader(self, schema) -> PcapngBatchReader:  # type: ignore[no-untyped-def]
        return PcapngBatchReader(self.options, self.parallelism)


def register_pcap_source(spark) -> None:  # type: ignore[no-untyped-def]
    """``spark.dataSource.register`` of the pcap and pcapng formats,
    once per session: every pcap entry calls this, and re-registering
    costs the next query a planner round trip (~40 ms at local[4]).

    It registers local subclasses carrying the session's parallelism,
    which cloudpickle ships by value to the context-less planner workers.

    Also applies the runtime confs: the reader implements pushFilters,
    and Spark refuses to initialize such readers unless
    spark.sql.python.filterPushdown.enabled is on (set by tune())."""
    from pcap_to_parquet_spark.session import tune

    if spark._jsparkSession.sessionState().dataSourceManager().dataSourceExists("pcapng"):
        return

    class BoundPcapDataSource(PcapDataSource):
        parallelism = spark.sparkContext.defaultParallelism

    class BoundPcapngDataSource(PcapngDataSource):
        parallelism = BoundPcapDataSource.parallelism

    tune(spark)
    spark.dataSource.register(BoundPcapDataSource)
    spark.dataSource.register(BoundPcapngDataSource)
