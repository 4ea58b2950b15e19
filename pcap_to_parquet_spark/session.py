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

Session start is almost all JVM class loading (~16 k classes: Catalyst
expressions, Scala reflection). A :func:`get_spark` that launches the
driver JVM starts it from a dynamic class-data-sharing archive (JEP
350) of the Spark classpath, kept in the user cache
(:func:`cache_dir`) and keyed by the java executable and the jars
(:func:`archive_key`):

- the first session for a key runs with ``-XX:ArchiveClassesAtExit``;
  the JVM writes the dump as it exits, and the exit hook below
  promotes it to ``<key>.jsa`` only after a clean exit, so no partial
  archive is ever offered;
- later sessions map ``<key>.jsa`` with ``-Xshare:auto``, under which
  a bad archive only means a plain start.

Java 17 neither dumps nor maps an app archive when the classpath holds
a non-empty directory, and ``spark-class`` puts the conf dir first.
So the archive is used only when Spark reads nothing from the conf
dir (it holds only ``*.template`` files; the launch then gets an empty
one from the cache) and the cache is writable; otherwise the JVM
starts exactly as without it (:func:`class_archive`).

Every session that :func:`get_spark` launches registers one exit hook
(:func:`_stop_jvm`): at interpreter exit it stops the session and waits
at most ``JVM_EXIT_WAIT_S`` for the driver JVM, killing it after that,
so no JVM outlives the Python process that started it.

:func:`observed_checkpoint` is the checkpoint-with-metrics step the
iterative kernels share.

Scale notes (100 TB target): everything here is also valid on a real
cluster — AQE handles skew/coalescing at runtime, shuffle partitions
are a starting hint that AQE re-plans, and zstd matches the
reference's output codec (/root/reference/src/main.rs:72-75).
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import re
import shutil
import subprocess
import threading
import traceback

from pyspark.find_spark_home import _find_spark_home
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
    """``spark.driver.memory`` sized to the box: a quarter of physical
    memory in whole GiB, at least 1g and at most 24g. A local session's
    driver JVM also runs every executor, so a fixed 24g overcommits a
    smaller box; a quarter leaves room for the Python workers, the OS
    and two more sessions side by side (a test run next to the oracle
    sweep and a bench run)."""
    if phys_bytes is None:
        phys_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(max(phys_bytes // 4 // 2**30, 1), 24)}g"


# Build-time confs (only honored when *we* construct the session).
# get_spark adds the core-count-derived ones.
BUILD_CONF: dict[str, str] = {
    "spark.driver.memory": driver_memory(),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.ui.enabled": "false",
    # The console progress bar writes "[Stage N:>  (k + m) / n]" with
    # carriage returns into stderr; a driver whose stdout and stderr
    # share one terminal or pipe then gets result lines glued to it.
    "spark.ui.showConsoleProgress": "false",
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


# Longest wait at interpreter exit for the driver JVM to end. Sized for
# the JVM that writes the class archive: the dump took ~12 s on a
# 4-core VM; any other JVM ends within about a second.
JVM_EXIT_WAIT_S = 120.0

# Java's unified logging prints warnings to stdout by default, and the
# harnesses parse their last stdout line. The dump warns once per class
# it cannot archive (~600 lines: signed jars, pre-Java-6 bytecode).
_JVM_LOG_TO_STDERR = "-Xlog:disable -Xlog:all=warning:stderr -Xlog:cds*=error:stderr"

# Directories these put on the driver's classpath; Java 17 neither
# dumps nor maps an app archive when the classpath holds one.
_CLASSPATH_DIR_ENV = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")


def cache_dir() -> str:
    """This package's user cache: ``$XDG_CACHE_HOME`` or ``~/.cache``."""
    base = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "pcap_to_parquet_spark")


def _java_executable() -> str | None:
    """The java ``spark-class`` launches: ``$JAVA_HOME/bin/java``, else
    the one on ``PATH``."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(java: str, jars_dir: str) -> str:
    """Names the archive of one JVM and one Spark classpath: a hash of
    the java executable (and of its ``libjvm.so``'s size and mtime) and
    of the name, size and mtime of every jar."""
    h = hashlib.sha256(java.encode() + b"\0")
    with open(java, "rb") as f:
        h.update(hashlib.file_digest(f, "sha256").digest())
    libjvm = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "server", "libjvm.so")
    if os.path.isfile(libjvm):
        h.update(f"{os.path.getsize(libjvm)}\0{os.stat(libjvm).st_mtime_ns}\n".encode())
    for name in sorted(os.listdir(jars_dir)):
        st = os.stat(os.path.join(jars_dir, name))
        h.update(f"{name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:24]


def conf_dir_unused(conf_dir: str) -> bool:
    """True when Spark reads nothing from ``conf_dir``: it is missing or
    holds nothing but ``*.template`` files."""
    try:
        return all(name.endswith(".template") for name in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def class_archive() -> str | None:
    """Where the class-data-sharing archive of this box's java and Spark
    jars lives (``<cache>/<key>.jsa``, which may not exist yet), or None
    when the driver JVM must start as it always has: Spark reads a file
    from its conf dir, another directory is on the classpath, or the
    cache is not writable. Removes dumps that dead processes left."""
    spark_home = _find_spark_home()
    java = _java_executable()
    jars = os.path.join(spark_home, "jars")
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if java is None or not os.path.isdir(jars) or not conf_dir_unused(conf):
        return None
    if any(os.environ.get(v) for v in _CLASSPATH_DIR_ENV):
        return None
    cache = cache_dir()
    if re.search(r"[\s'\"\\]", cache):  # Spark splits java options on these
        return None
    try:
        os.makedirs(os.path.join(cache, "conf"), exist_ok=True)
        if os.listdir(os.path.join(cache, "conf")) or not os.access(cache, os.W_OK):
            return None
        for name in os.listdir(cache):
            m = re.fullmatch(r"\w+\.(\d+)\.tmp", name)
            if m and not _pid_alive(int(m.group(1))):
                os.remove(os.path.join(cache, name))
        return os.path.join(cache, archive_key(java, jars) + ".jsa")
    except OSError:
        return None


@contextlib.contextmanager
def _env(name: str, value: str | None):
    """``os.environ[name] = value`` inside the block; None leaves the
    environment untouched."""
    old = os.environ.get(name)
    if value is None:
        yield
        return
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            del os.environ[name]
        else:
            os.environ[name] = old


def _stop_jvm(
    pid: int, tmp: str | None = None, archive: str | None = None, wait_s: float = JVM_EXIT_WAIT_S
) -> None:
    """At interpreter exit: stop the session, end the driver JVM and
    wait up to ``wait_s`` for it, then kill it. When the JVM was asked
    for a class dump (``tmp``), a clean exit promotes the dump to
    ``archive`` and removes the cache's other archives; anything else
    removes the dump."""
    if os.getpid() != pid:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        if SparkSession._instantiatedSession is not None:
            SparkSession._instantiatedSession.stop()
        if proc is not None and proc.poll() is None:
            gateway.shutdown()
    except Exception:  # noqa: BLE001 - the JVM must still be waited for
        traceback.print_exc()
    code = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            code = proc.wait(timeout=wait_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if tmp is None:
        return
    if code == 0 and os.path.isfile(tmp):
        os.replace(tmp, archive)
        cache = os.path.dirname(archive)
        for name in os.listdir(cache):
            if name.endswith(".jsa") and name != os.path.basename(archive):
                os.remove(os.path.join(cache, name))
    elif os.path.exists(tmp):
        os.remove(tmp)


def mapped_archive() -> str | None:
    """The cached class archive this process's driver JVM maps, or None
    (it started without one, or no local JVM runs)."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None:
        return None
    try:
        with open(f"/proc/{proc.pid}/maps") as f:
            maps = f.read()
    except OSError:
        return None
    cache = cache_dir() + os.sep
    return next((p for p in re.findall(r"\S+\.jsa$", maps, re.M) if p.startswith(cache)), None)


def get_spark(app_name: str = "pcap-to-parquet-spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests and bench; cluster deploys pass their own.

    A session that launches the driver JVM starts it from the class
    archive (:func:`class_archive`) when the box allows one; the first
    such session writes the archive when its JVM exits. Either way the
    JVM is stopped at interpreter exit (:func:`_stop_jvm`)."""
    from pyspark import SparkContext

    n = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    b = SparkSession.builder.appName(app_name).master(f"local[{n}]")
    conf = {**BUILD_CONF, "spark.sql.shuffle.partitions": str(n), **RUNTIME_CONF}
    launches = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    archive = class_archive() if launches else None
    dump = None
    if archive is not None:
        if os.path.isfile(archive):
            share = f"-Xshare:auto -XX:SharedArchiveFile={archive}"
        else:
            dump = f"{archive[:-len('.jsa')]}.{os.getpid()}.tmp"
            share = f"-XX:ArchiveClassesAtExit={dump}"
        conf["spark.driver.defaultJavaOptions"] = f"{share} {_JVM_LOG_TO_STDERR}"
    for k, v in conf.items():
        b = b.config(k, v)
    # an empty conf dir in place of the template-only one, for the launch
    with _env("SPARK_CONF_DIR", archive and os.path.join(os.path.dirname(archive), "conf")):
        spark = b.getOrCreate()
    if launches:
        atexit.register(_stop_jvm, os.getpid(), dump, archive)
    return tune(spark)


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
