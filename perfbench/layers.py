"""Per-layer metrics of a traced run.

Operator-module metrics come from the traced query operations (the query
mix, or one cold sweep over it when the workload runs no queries), with
Spark's counters attributed to each operation by submission time. Pcap
kernel metrics come from calling the public decode functions directly in
the Spark driver process on the workload's own capture (or a small generated one).
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from observe import Tracer, read_status_store, window_counters
from stats import median

MODULES = (
    "operators.flagship",
    "operators.aggregates",
    "operators.sql_api",
    "operators.joins",
    "operators.windows",
    "operators.llm",
    "operators.text_pipeline",
    "operators.behavior",
    "operators.pcap_query",
    "streaming.stream_queries",
)
MODULE_METRICS = {
    "build_s": "s",
    "plan_s": "s",
    "exec_s": "s",
    "jobs": "count",
    "tasks": "count",
    "executor_run_s": "s",
    "executor_cpu_s": "s",
    "jvm_blocked_s": "s",
    "shuffle_write_mb": "MB",
    "driver_overhead_s": "s",
}
KERNEL_METRICS = {
    "pcap_vec.framing_us_per_pkt": "us/pkt",
    "pcap_vec.decode_us_per_pkt": "us/pkt",
    "pcap.arrow_handoff_us_per_pkt": "us/pkt",
    "pcap.read_noop_s": "s",
    "pcap.finish_strings_s": "s",
    "pcap.parquet_write_s": "s",
    "pcap_chunked.chunks": "count",
    "pcap_chunked.decode_chunk_s": "s",
    "pcap_chunked.read_amplification": "ratio",
    "pcap_datasource.decode_to_arrow_us_per_pkt": "us/pkt",
    "pcap_datasource.pushdown_keep_ratio": "ratio",
    "pcap_datasource.partitions": "count",
}
OTHER_METRICS = {
    "session.get_spark_s": "s",
    "session.warmup_s": "s",
    "tables.load_s": "s",
    "spark.spill_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and its unit, in report order."""
    units = dict(OTHER_METRICS)
    units.update(KERNEL_METRICS)
    for m in MODULES:
        for k, u in MODULE_METRICS.items():
            units[f"{m}.{k}"] = u
    return units


def _median_time(fn, repeats: int = 3) -> float:  # noqa: ANN001
    times = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return median(times)


def kernel_probe(spark, path: str, scan_glob: str, work: str, tracer: Tracer) -> dict:  # noqa: ANN001
    """Pcap layer metrics on one capture file."""
    import pyarrow as pa
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual

    from pcap_to_parquet_spark.sources import pcap, pcap_chunked, pcap_datasource, pcap_vec

    with open(path, "rb") as fh:
        buf = fh.read()
    n = len(pcap_vec.scan_record_offsets(buf)[0])
    out: dict[str, float] = {}
    with tracer.span("pcap_vec.scan_record_offsets"):
        framing = _median_time(lambda: pcap_vec.scan_record_offsets(buf))
    with tracer.span("pcap_vec.decode_pcap_arrays"):
        decode = _median_time(lambda: pcap_vec.decode_pcap_arrays(buf))
    arrays = pcap_vec.decode_pcap_arrays(buf)
    with tracer.span("pcap._arrays_to_pandas"):
        handoff = _median_time(lambda: pa.Table.from_pandas(pcap._arrays_to_pandas(arrays)))
    with tracer.span("pcap_datasource._decode_to_arrow"):
        to_arrow = _median_time(lambda: pcap_datasource._decode_to_arrow(buf))
    pushed = [EqualTo(("protocol",), "TCP"), GreaterThanOrEqual(("len",), 128)]
    kept = pcap_datasource._decode_to_arrow(buf, pushed).num_rows
    out["pcap_vec.framing_us_per_pkt"] = framing / n * 1e6
    out["pcap_vec.decode_us_per_pkt"] = max(decode - framing, 0.0) / n * 1e6
    out["pcap.arrow_handoff_us_per_pkt"] = handoff / n * 1e6
    out["pcap_datasource.decode_to_arrow_us_per_pkt"] = to_arrow / n * 1e6
    out["pcap_datasource.pushdown_keep_ratio"] = kept / n
    reader = pcap_datasource.PcapBatchReader({"path": scan_glob})
    out["pcap_datasource.partitions"] = float(len(reader.partitions()))

    chunk = pcap._auto_chunk_bytes(spark, path)
    specs = pcap_chunked.chunk_specs(path, chunk or (1 << 62))
    size = os.path.getsize(path)
    slack = getattr(pcap_chunked, "_SLACK", 0)
    read = sum(min(e - s + slack, size - s) for _, s, e in specs)
    out["pcap_chunked.chunks"] = float(len(specs))
    out["pcap_chunked.read_amplification"] = read / sum(e - s for _, s, e in specs)
    with tracer.span("pcap_chunked.decode_chunk"):
        out["pcap_chunked.decode_chunk_s"] = median(
            [_median_time(lambda s=s, e=e: pcap_chunked.decode_chunk(p, s, e), 1) for p, s, e in specs]
        )

    def entry():  # noqa: ANN202 - the reader convert_pcap picks for this file
        if chunk:
            return pcap_chunked.read_pcap_chunked(spark, path, chunk)
        return pcap.read_pcap(spark, path)

    numeric = ["len", "src_port", "dst_port", "mm_ts", "mm_id", "mm_port"]
    noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
    with tracer.span("pcap.read_noop"):
        read_noop = _median_time(lambda: noop(entry()))
    with tracer.span("pcap.read_numeric_noop"):
        numeric_noop = _median_time(lambda: noop(entry().select(*numeric)))
    out_dir = os.path.join(work, "probe_out")
    with tracer.span("sources.pcap.convert_pcap"):
        convert = _median_time(lambda: pcap.convert_pcap(spark, path, out_dir), 2)
    out["pcap.read_noop_s"] = read_noop
    # differences of medians: near zero they can come out negative
    out["pcap.finish_strings_s"] = read_noop - numeric_noop
    out["pcap.parquet_write_s"] = convert - read_noop
    return out


def tables_load_s(spark, sf_dir: str, tracer: Tracer) -> float:  # noqa: ANN001
    from pcap_to_parquet_spark.sources.tables import TABLE_NAMES, load_table

    with tracer.span("sources.tables.load_table"):
        return _median_time(lambda: [load_table(spark, sf_dir, t) for t in TABLE_NAMES], 3)


def module_metrics(spark, tracer: Tracer, cores: int) -> tuple[dict, list[dict]]:  # noqa: ANN001
    """Per-module medians over every traced query operation, the median
    spill of every traced operation, and the per-operation counters."""
    time.sleep(1.0)  # let the listener bus drain into the status store
    job_times, stages = read_status_store(spark)
    child = defaultdict(dict)
    plan: dict[int | None, float] = {}
    for s in tracer.spans:
        if s.parent is not None:
            kind = s.name.rsplit(".", 1)[1]
            child[s.parent][kind] = s.end - s.start
        elif s.name.endswith(".plan"):  # timed after its operation, same op id
            plan[s.op] = s.end - s.start
    samples: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    ops = []
    for i, s in enumerate(tracer.spans):
        if s.parent is not None or s.name.endswith(".plan"):
            continue
        c = window_counters(job_times, stages, s.start, s.end, cores)
        samples["_all"]["spill_mb"].append(c["spill_mb"])
        if s.name not in MODULES:
            continue
        row = {f"{k}_s": child[i].get(k, 0.0) for k in ("build", "exec")}
        row["plan_s"] = plan.get(s.op, 0.0)
        row.update(c)
        ops.append({"module": s.name, "op": s.op, "wall_s": s.end - s.start, **row})
        for k in MODULE_METRICS:
            samples[s.name][k].append(row[k])
    out = {}
    for m in MODULES:
        for k in MODULE_METRICS:
            vals = samples[m][k]
            out[f"{m}.{k}"] = median(vals) if vals else None
    spill = samples["_all"]["spill_mb"]
    out["spark.spill_mb"] = median(spill) if spill else 0.0
    return out, ops
