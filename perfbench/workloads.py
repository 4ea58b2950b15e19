"""The workloads. Each one generates its inputs from the seed, runs one
operation at a time as a closed loop (one client) in passes over its
operation kinds in seeded order, times only the calls into the program,
and checks outputs outside the timed region.

- ``pcap``: ``sources.pcap.convert_pcap`` of one trailer-heavy IMIX
  capture above the auto-chunk threshold into ZSTD Parquet (kind
  ``convert``), and a directory of snaplen-96 captures filtered on
  ``protocol`` and ``len`` and grouped per flow, through
  ``spark.read.format("pcap")`` (kind ``source``) and
  ``sources.pcap.read_pcap`` (kind ``api``). Every scan result is
  checked; the Parquet output after the warm pass and after the window.
- ``query_mix``: one registered query per operator module, noop sink, on
  the repository's canonical sf0.01 test tables (a copy of them ships in
  ``perfbench/data/sf0.01``); the seed drives only the query order. Each
  query is checked once per run against its DuckDB oracle.
"""

from __future__ import annotations

import os
import random

from checks import compare_rows, compare_tables
from gen_pcap import CaptureSpec, generate
from observe import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))

# Query -> family. One query per operator module at least, so every
# module's layer metrics come from the mix itself.
QUERY_MIX = {
    "q_flagship_revenue": "oneshot",
    "q_hash_agg": "oneshot",
    "q_sql_pricing_summary": "oneshot",
    "q_broadcast_join": "oneshot",
    "q_topk_per_group": "oneshot",
    "q_text_stats": "oneshot",
    "q_bm25": "oneshot",
    "q_pcap_flows": "oneshot",
    "q_pagerank": "iterative",
    "q_stream_topk": "streaming",
}
QUERY_SF_DIR = os.path.join(HERE, "data", "sf0.01")

INGEST_SPEC = CaptureSpec(
    files=1, packets_per_file=64_000, flows=4096, vlan_share=0.10,
    trailer_share=0.25, stacked_share=0.03, non_ip_share=0.03, snaplen=65535,
)
SCAN_SPEC = CaptureSpec(
    files=16, packets_per_file=6_000, flows=2048, vlan_share=0.10,
    trailer_share=0.0, stacked_share=0.0, non_ip_share=0.03, snaplen=96,
)
# Capture for the pcap layer probes of a traced run whose workload has none.
PROBE_SPEC = CaptureSpec(
    files=1, packets_per_file=20_000, flows=1024, vlan_share=0.10,
    trailer_share=0.25, stacked_share=0.03, non_ip_share=0.03, snaplen=65535,
)
SCAN_MIN_LEN = 128
FLOW_KEYS = ["src_ip", "dst_ip", "src_port", "dst_port"]


class Context:
    """What every workload needs: the session, the seed, scratch space."""

    def __init__(self, spark, seed: int, work: str, cores: int, tracer: Tracer) -> None:  # noqa: ANN001
        self.spark = spark
        self.seed = seed
        self.work = work
        self.cores = cores
        self.tracer = tracer


def _noop(df) -> None:  # noqa: ANN001
    df.write.format("noop").mode("overwrite").save()


class Pcap:
    """Ingest and scan of generated captures, one kind per operation:
    ``convert`` (``convert_pcap`` of the trailer-heavy capture to ZSTD
    Parquet), ``source`` (``format("pcap")`` scan of the snaplen-96
    directory) and ``api`` (``read_pcap`` of the same directory)."""

    name = "pcap"
    kinds = ("convert", "source", "api")

    def prepare(self, ctx: Context) -> None:
        import pyarrow.compute as pc

        from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

        inputs = os.path.join(ctx.work, "inputs")
        self.ingest = generate(INGEST_SPEC, ctx.seed, inputs)
        self.scan = generate(SCAN_SPEC, ctx.seed, inputs)
        self.path = self.probe_path = self.ingest.paths[0]
        self.glob = os.path.join(os.path.dirname(self.scan.paths[0]), "*.pcap")
        self.out = os.path.join(ctx.work, "ingest_out")
        t = self.scan.truth
        kept = t.filter(pc.and_(pc.equal(t["protocol"], "TCP"), pc.greater_equal(t["len"], SCAN_MIN_LEN)))
        agg = kept.group_by(FLOW_KEYS).aggregate([("len", "count"), ("len", "sum")])
        self.expected = agg.rename_columns(FLOW_KEYS + ["pkts", "bytes"]).to_pylist()
        self.result: dict[str, tuple[list[str], list[dict]]] = {}
        register_pcap_source(ctx.spark)

    def passes(self, rng: random.Random):
        kinds = list(self.kinds)
        while True:
            rng.shuffle(kinds)
            yield list(kinds)

    def _flows(self, df):  # noqa: ANN001, ANN202
        from pyspark.sql import functions as F

        return (
            df.where((F.col("protocol") == "TCP") & (F.col("len") >= SCAN_MIN_LEN))
            .groupBy(*FLOW_KEYS)
            .agg(F.count("*").alias("pkts"), F.sum("len").alias("bytes"))
        )

    def run(self, ctx: Context, kind: str, op: int) -> None:
        from pcap_to_parquet_spark.sources.pcap import convert_pcap, read_pcap

        if kind == "convert":
            with ctx.tracer.span("sources.pcap.convert_pcap", op):
                convert_pcap(ctx.spark, self.path, self.out)
            return
        if kind == "source":
            with ctx.tracer.span("sources.pcap_datasource.format_pcap", op):
                df = self._flows(ctx.spark.read.format("pcap").load(self.glob))
                rows = df.collect()
        else:
            with ctx.tracer.span("sources.pcap.read_pcap", op):
                df = self._flows(read_pcap(ctx.spark, self.glob))
                rows = df.collect()
        self.result[kind] = (df.columns, [r.asDict() for r in rows])

    def verify(self, ctx: Context, kind: str) -> str | None:
        import pyarrow.parquet as pq

        if kind == "convert":
            return compare_tables(pq.read_table(self.out), self.ingest.truth)
        cols, rows = self.result.pop(kind)
        return compare_rows(cols, rows, FLOW_KEYS + ["pkts", "bytes"], self.expected)

    def detail(self, lat: dict[str, list[float]]) -> dict:
        from stats import median, tail

        conv, scans = lat["convert"], lat["source"] + lat["api"]
        stored = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(self.out) for f in files if f.endswith(".parquet")
        )
        ingest_pkts, scan_pkts = self.ingest.props["packets"], self.scan.props["packets"]
        return {
            "ingest_pkts_per_s": {"value": ingest_pkts * len(conv) / sum(conv), "unit": "1/s", "n": len(conv)},
            "ingest_p50_s": {"value": median(conv), "unit": "s", "n": len(conv)},
            "ingest_tail_s": {**tail(conv), "unit": "s"},
            "ingest_stored_bytes_per_input_byte": {
                "value": stored / self.ingest.props["bytes"], "unit": "ratio", "n": 1,
            },
            "scan_pkts_per_s": {"value": scan_pkts * len(scans) / sum(scans), "unit": "1/s", "n": len(scans)},
            "scan_source_p50_s": {"value": median(lat["source"]), "unit": "s", "n": len(lat["source"])},
            "scan_api_p50_s": {"value": median(lat["api"]), "unit": "s", "n": len(lat["api"])},
            "scan_tail_s": {**tail(scans), "unit": "s"},
        }

    def inputs(self) -> dict:
        return {"ingest": self.ingest.props, "scan": self.scan.props}


class QueryMix:
    name = "query_mix"

    def prepare(self, ctx: Context) -> None:
        self.sf_dir = QUERY_SF_DIR
        self.result: dict[str, tuple[list[str], list[dict]]] = {}
        self.probe_path = None
        self.glob = None

    def passes(self, rng: random.Random):
        names = list(QUERY_MIX)
        while True:
            rng.shuffle(names)
            yield list(names)

    def run(self, ctx: Context, kind: str, op: int, collect: bool = False) -> None:
        from pcap_to_parquet_spark.registry import QUERIES

        fn = QUERIES[kind]
        module = fn.__module__.removeprefix("pcap_to_parquet_spark.")
        with ctx.tracer.span(module, op):
            with ctx.tracer.span(f"{module}.build"):
                df = fn(ctx.spark, self.sf_dir)
            if collect:
                self.result[kind] = (df.columns, [r.asDict(True) for r in df.collect()])
                return
            with ctx.tracer.span(f"{module}.exec"):
                _noop(df)
        self.last = (module, df)

    def plan(self, ctx: Context, op: int) -> None:
        """Time the planning of the last operation's DataFrame. The noop
        write optimises and plans a command of its own, so this runs after
        the operation and outside its timing: a traced operation does the
        same work as an untraced one."""
        module, df = self.last
        with ctx.tracer.span(f"{module}.plan", op):
            df._jdf.queryExecution().executedPlan()

    def verify(self, ctx: Context, kind: str) -> str | None:
        import duckdb

        from pcap_to_parquet_spark.registry import ORACLES
        from pcap_to_parquet_spark.sources.tables import TABLE_NAMES

        if not hasattr(self, "_duck"):
            self._duck = duckdb.connect()
            for t in TABLE_NAMES:
                self._duck.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        cols, rows = self.result.pop(kind)
        rel = self._duck.execute(ORACLES[kind])
        want_cols = [d[0] for d in rel.description]
        want = [dict(zip(want_cols, r)) for r in rel.fetchall()]
        return compare_rows(cols, rows, want_cols, want)

    def detail(self, lat: dict[str, list[float]]) -> dict:
        from stats import geomean, median, tail

        every = [x for v in lat.values() for x in v]
        fam: dict[str, list[float]] = {}
        for q, fam_name in QUERY_MIX.items():
            if lat.get(q):
                fam.setdefault(fam_name, []).append(median(lat[q]))
        out = {
            "queries_per_min": {"value": 60 * len(every) / sum(every), "unit": "1/min", "n": len(every)},
        }
        for fam_name in ("oneshot", "iterative", "streaming"):
            vals = fam.get(fam_name, [])
            out[f"{fam_name}_geomean_s"] = {
                "value": geomean(vals) if vals else None, "unit": "s", "n": len(vals),
            }
        out["query_tail_s"] = {**tail(every), "unit": "s"}
        out["query_p50_s"] = {q: median(v) for q, v in lat.items() if v}
        return out

    def inputs(self) -> dict:
        import pyarrow.parquet as pq

        from pcap_to_parquet_spark.sources.tables import TABLE_NAMES

        rows = {t: pq.ParquetFile(os.path.join(self.sf_dir, f"{t}.parquet")).metadata.num_rows
                for t in TABLE_NAMES}
        return {"sf_dir": os.path.relpath(self.sf_dir, HERE), "rows": rows}

    def close(self) -> None:
        if hasattr(self, "_duck"):
            self._duck.close()


WORKLOADS = {w.name: w for w in (Pcap, QueryMix)}

