"""SparkSession construction and runtime tuning.

Two paths:
- :func:`get_spark` builds a local session (tests, bench.py).
- :func:`tune` applies the runtime-settable knobs to a session we did
  NOT build (the driver passes its own session into ``entry()`` /
  ``queries()``), so correctness-critical settings (UTC timezone,
  AQE) hold regardless of who built the session.

Static confs (``BUILD_CONF``: driver memory, the codegen class cache
size, the worker daemon) hold only on a session :func:`get_spark`
builds; ``tune()`` cannot set them on a session that already exists.

:func:`observed_checkpoint` is the checkpoint-with-metrics step the
iterative kernels share.

Scale notes (100 TB target): everything here is also valid on a real
cluster — AQE handles skew/coalescing at runtime, shuffle partitions
are a starting hint that AQE re-plans, and zstd matches the
reference's output codec (/root/reference/src/main.rs:72-75).
"""

from __future__ import annotations

import os
import re
import threading

from pyspark.sql import Column, DataFrame, Observation, SparkSession

# Runtime-settable confs applied to ANY session that runs our queries.
RUNTIME_CONF: dict[str, str] = {
    # Deterministic timestamp semantics vs the DuckDB oracle (naive UTC).
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime coalescing, skew-join splitting, broadcast promotion.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Reference writes ZSTD parquet (main.rs:72-75); we match on every sink.
    "spark.sql.parquet.compression.codec": "zstd",
    # Wide aggregates (128 MinHash minima) must stay in whole-stage
    # codegen; the default cutoff (100 fields) silently drops to
    # interpreted mode — measured 1.3x slower on the signature stage.
    "spark.sql.codegen.maxFields": "256",
    # Python data sources may implement pushFilters (the pcap source
    # prunes packets inside the decode kernel); without this the
    # planner refuses to initialize such readers.
    "spark.sql.python.filterPushdown.enabled": "true",
}


def driver_memory(phys_bytes: int | None = None) -> str:
    """``spark.driver.memory`` sized to the box: half of physical
    memory in whole GiB (the rest is left to the Python workers and
    the OS), at least 1g and at most 24g. A local session's driver JVM
    also runs every executor, so a fixed 24g overcommits a smaller box."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(phys_bytes // 2 // 2**30, 1), 24)}g"


# Build-time confs (only honored when *we* construct the session).
# get_spark adds the core-count-derived ones.
BUILD_CONF: dict[str, str] = {
    "spark.driver.memory": driver_memory(),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Skips pyspark's per-task re-parse of pyspark.zip (worker_daemon.py).
    "spark.python.daemon.module": "pcap_to_parquet_spark.worker_daemon",
    # Workers import this package (and the daemon module above) from
    # here, whatever the driver's working directory.
    "spark.executorEnv.PYTHONPATH": os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    # CodeGenerator.cache keeps one entry per compile of generated code
    # (~2.3 classes of ~2.6 KB bytecode each). The default 100 entries
    # is below one pass of the 10 query_mix queries (167 compiles), so
    # every pass evicted and recompiled the same code. 4096 is the first
    # power of two above the largest working set measured in one
    # session: one pass of the 102 bench.py entries at sf0.01 (2407).
    "spark.sql.codegen.cache.maxEntries": "4096",
}


_BYTE_SUFFIX = {
    "b": 1,
    "k": 1 << 10,
    "kb": 1 << 10,
    "m": 1 << 20,
    "mb": 1 << 20,
    "g": 1 << 30,
    "gb": 1 << 30,
    "t": 1 << 40,
    "tb": 1 << 40,
    "p": 1 << 50,
    "pb": 1 << 50,
}


def parse_byte_conf(raw: str) -> int:
    """A Spark byte-conf value in bytes, parsed as the JVM does: an
    integer with an optional leading '-' and an optional unit suffix
    ('10MB', '64m', '10485760b', bare digits). Unparseable (fractional,
    exponent, unknown unit) or disabled (negative) values return 0,
    which callers read as "never broadcast" — the always-correct
    shuffled fallback."""
    m = re.fullmatch(r"(-?[0-9]+)([a-z]*)", str(raw).strip().lower())
    unit = _BYTE_SUFFIX.get(m.group(2) or "b") if m else None
    if unit is None:
        return 0
    return max(int(m.group(1)) * unit, 0)


def broadcast_threshold_bytes(spark: SparkSession) -> int:
    """``spark.sql.autoBroadcastJoinThreshold`` in bytes. Driver-
    provided sessions can legally carry unit-suffixed values (tune()
    never sets this key), so a bare int() would crash the
    scale-adaptive join planners in q_triangle_count / q_pagerank."""
    return parse_byte_conf(
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "67108864")
    )


def codegen_compiles(spark: SparkSession) -> int:
    """Generated-code compiles (``CodeGenerator.cache`` misses) this
    session's JVM has paid so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return int(metrics.METRIC_COMPILATION_TIME().getCount())


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable correctness/perf confs; safe on any session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # non-settable on this session build; defaults are close
    return spark


def get_spark(app_name: str = "pcap-to-parquet-spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests and bench; cluster deploys pass their own."""
    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    b = SparkSession.builder.appName(app_name).master(f"local[{n}]")
    conf = {**BUILD_CONF, "spark.sql.shuffle.partitions": str(n), **RUNTIME_CONF}
    for k, v in conf.items():
        b = b.config(k, v)
    return tune(b.getOrCreate())


# Longest wait for an observation after the checkpoint that fires it.
# Observed metrics have been seen to land at most ~10 ms after the
# eager checkpoint returns; past this bound the metrics cost one job.
OBSERVATION_WAIT_S = 10.0


def observed_checkpoint(df: DataFrame, **metrics: Column) -> tuple[DataFrame, dict]:
    """Materialize ``df`` with one eager ``localCheckpoint`` job that
    also computes the named aggregates through ``observe()``; returns
    the checkpointed frame and ``{name: value}``. This is one job per
    round of an iterative kernel instead of a checkpoint job plus an
    aggregate job.

    COUPLING: ``Observation.get`` blocks until an action fires the
    QueryExecutionListener; the eager localCheckpoint is that action on
    classic Spark sessions (verified 4.1.2). Spark Connect has no
    localCheckpoint, so the checkpoint raises before any wait. On any
    other session type that runs checkpoints without reporting observed
    metrics, the wait ends after OBSERVATION_WAIT_S and the aggregates
    are computed over the checkpointed rows with one more job."""
    cols = [c.alias(name) for name, c in metrics.items()]
    obs = Observation()
    out = df.observe(obs, *cols).localCheckpoint(eager=True)
    got: dict = {}
    waiter = threading.Thread(target=lambda: got.update(obs.get), daemon=True)
    waiter.start()
    waiter.join(OBSERVATION_WAIT_S)
    if waiter.is_alive() or not got:
        # one partition needs no exchange, so the aggregate is one job
        return out, out.coalesce(1).agg(*cols).first().asDict()
    return out, got
