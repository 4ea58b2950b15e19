"""Session sizing follows the box, never a fixed box size; the codegen
class cache holds the working set of a query mix; and the driver JVM
starts from the class-data-sharing archive only when the box allows
one, writing it once and never leaving a partial file or a JVM behind."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from workloads import QUERY_MIX

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES
from pcap_to_parquet_spark.session import (
    BUILD_CONF,
    archive_key,
    class_archive,
    codegen_compiles,
    conf_dir_unused,
    driver_memory,
    parse_byte_conf,
)
from tests.conftest import REPO, SF0001

GIB = 1 << 30


@pytest.mark.parametrize(
    ("phys", "expect"),
    [
        (15 * GIB + GIB // 2, "3g"),  # a quarter, rounded down to whole GiB
        (16 * GIB, "4g"),
        (64 * GIB, "16g"),
        (512 * GIB, "24g"),  # capped at the old fixed value
        (3 * GIB, "1g"),
        (GIB, "1g"),  # never below 1g
        (GIB // 4, "1g"),
    ],
)
def test_driver_memory_is_half_of_physical_memory_capped(phys, expect):
    assert driver_memory(phys) == expect


def test_build_conf_driver_memory_fits_this_box():
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap = parse_byte_conf(BUILD_CONF["spark.driver.memory"])
    assert BUILD_CONF["spark.driver.memory"] == driver_memory(phys)
    assert heap <= max(phys // 4, GIB)


def test_live_session_reports_codegen_cache_size(spark):
    # a static conf: it holds only because get_spark built the session
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    assert BUILD_CONF["spark.sql.codegen.cache.maxEntries"] == "4096"


def test_query_mix_second_pass_compiles_nothing(spark):
    # One pass of the benchmark's query mix needs more compiled classes
    # than Spark's default cache of 100 holds, so with the default every
    # later pass evicts and recompiles the same code.
    def one_pass(names):
        for name in names:
            QUERIES[name](spark, SF0001).write.format("noop").mode("overwrite").save()

    one_pass(list(QUERY_MIX))
    before = codegen_compiles(spark)
    one_pass(list(reversed(QUERY_MIX)))
    assert codegen_compiles(spark) - before == 0


def test_archive_key_follows_every_jar_size_and_mtime(tmp_path):
    java = tmp_path / "java"
    java.write_bytes(b"launcher")
    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"x" * 10)
        os.utime(jars / name, ns=(10**18, 10**18))
    key = archive_key(str(java), str(jars))
    assert archive_key(str(java), str(jars)) == key

    os.utime(jars / "b.jar", ns=(10**18, 10**18 + 1))
    touched = archive_key(str(java), str(jars))
    assert touched != key

    (jars / "b.jar").write_bytes(b"x" * 11)
    os.utime(jars / "b.jar", ns=(10**18, 10**18 + 1))
    assert archive_key(str(java), str(jars)) not in (key, touched)

    java.write_bytes(b"launcher2")
    assert archive_key(str(java), str(jars)) != key


def test_archive_only_when_spark_reads_nothing_from_the_conf_dir(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    templates = tmp_path / "templates"
    templates.mkdir()
    (templates / "spark-defaults.conf.template").write_text("# spark.master local\n")
    (templates / "log4j2.properties.template").write_text("")
    assert conf_dir_unused(str(templates))
    monkeypatch.setenv("SPARK_CONF_DIR", str(templates))
    archive = class_archive()
    assert archive is not None
    assert archive.startswith(str(tmp_path / "cache" / "pcap_to_parquet_spark") + os.sep)
    # a Hadoop conf dir would sit on the classpath next to the jars
    monkeypatch.setenv("HADOOP_CONF_DIR", str(templates))
    assert class_archive() is None
    monkeypatch.delenv("HADOOP_CONF_DIR")

    real = tmp_path / "real"
    real.mkdir()
    (real / "spark-defaults.conf").write_text("spark.graft.probe marker\n")
    assert not conf_dir_unused(str(real))
    monkeypatch.setenv("SPARK_CONF_DIR", str(real))
    assert class_archive() is None


def test_archive_lookup_removes_dumps_only_of_dead_processes(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    key = os.path.basename(class_archive())[: -len(".jsa")]
    cache = tmp_path / "pcap_to_parquet_spark"
    dead, live = cache / f"{key}.{2**31 - 1}.tmp", cache / f"{key}.{os.getpid()}.tmp"
    dead.write_bytes(b"partial")
    live.write_bytes(b"partial")
    class_archive()
    assert not dead.exists()
    assert live.exists()


def test_no_archive_when_the_cache_cannot_be_written(tmp_path, monkeypatch):
    blocker = tmp_path / "not-a-dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert class_archive() is None


_PROBE = """
import json
from pcap_to_parquet_spark.session import get_spark, mapped_archive

spark = get_spark("archive-probe", 2)
spark.sparkContext.setLogLevel("ERROR")
print(json.dumps({
    "sum": spark.range(1000).selectExpr("sum(id) AS s").first().s,
    "mapped": mapped_archive(),
    "launch_conf_dir": spark._jvm.java.lang.System.getenv("SPARK_CONF_DIR"),
    "probe": spark.sparkContext.getConf().get("spark.graft.probe", None),
    "java_options": spark.sparkContext.getConf().get("spark.driver.defaultJavaOptions", None),
}))
"""


def _session(env: dict) -> dict:
    """Run ``_PROBE`` in a fresh interpreter with ``env`` added to this
    one's environment; return the JSON of its last stdout line, which
    must be the only line on stdout."""
    full = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    proc = subprocess.run(
        [sys.executable, "-c", f"import sys; sys.path.insert(0, {REPO!r})\n" + textwrap.dedent(_PROBE)],
        env={**full, **env}, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, proc.stdout[-3000:]  # no JVM line on stdout
    return json.loads(lines[0])


def _processes_naming(text: str) -> list[str]:
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if text in cmd:
            found.append(f"{pid}: {cmd[:200]}")
    return found


@pytest.mark.slow
def test_first_session_writes_the_archive_and_the_next_maps_it(tmp_path):
    cache = tmp_path / "pcap_to_parquet_spark"
    cache.mkdir()
    (cache / "0123abcd.jsa").write_bytes(b"the archive of an older classpath")
    first = _session({"XDG_CACHE_HOME": str(tmp_path)})
    assert first["sum"] == 499500
    assert first["mapped"] is None
    assert "-XX:ArchiveClassesAtExit=" in first["java_options"]
    jsa = sorted(p.name for p in cache.iterdir() if p.suffix == ".jsa")
    assert len(jsa) == 1 and jsa[0] != "0123abcd.jsa"
    assert [p.name for p in cache.iterdir() if p.suffix == ".tmp"] == []
    assert _processes_naming(str(tmp_path)) == []  # the dumping JVM has exited

    second = _session({"XDG_CACHE_HOME": str(tmp_path)})
    assert second["sum"] == 499500
    assert second["mapped"] == str(cache / jsa[0])
    assert second["launch_conf_dir"] == str(cache / "conf")
    assert _processes_naming(str(tmp_path)) == []  # the mapping JVM has exited too


@pytest.mark.slow
def test_a_garbage_archive_only_means_a_plain_start(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    archive = class_archive()
    with open(archive, "wb") as f:
        f.write(os.urandom(1 << 16))
    got = _session({"XDG_CACHE_HOME": str(tmp_path)})
    assert got["sum"] == 499500
    assert got["mapped"] is None
    assert f"-XX:SharedArchiveFile={archive}" in got["java_options"]


@pytest.mark.slow
def test_a_real_conf_dir_starts_the_jvm_as_before(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.graft.probe marker\n")
    got = _session({"XDG_CACHE_HOME": str(tmp_path / "cache"), "SPARK_CONF_DIR": str(conf)})
    assert got["sum"] == 499500
    assert got["probe"] == "marker"  # Spark read the conf dir it was given
    assert got["launch_conf_dir"] == str(conf)
    assert got["java_options"] is None
    assert got["mapped"] is None
    assert not (tmp_path / "cache").exists()
    assert _processes_naming(str(conf)) == []  # its JVM (conf dir on the classpath) has exited
