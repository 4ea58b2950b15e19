"""The worker daemon module: zip importers re-read an archive only when
it changed, and sessions from ``get_spark`` run their Python workers
through it, from any working directory.

The zipimport checks run in a subprocess so this process's importers
stay untouched."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import textwrap

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(code: str, cwd: str = ROOT, timeout: int = 60, executable: str = sys.executable) -> dict:
    """Run ``code`` in a fresh interpreter that can import the package
    only through ``sys.path``; return the JSON its last line prints."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    prelude = f"import sys; sys.path.insert(0, {ROOT!r})\n"
    proc = subprocess.run(
        [executable, "-c", prelude + textwrap.dedent(code)],
        cwd=cwd, env=env, capture_output=True, text=True, timeout=timeout,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


_ZIP_CHECK = """
import importlib, json, os, sys, zipfile, zipimport
from pcap_to_parquet_spark import worker_daemon

zpath = {zpath!r}
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("zpkg/__init__.py", "")
    z.writestr("zpkg/a.py", "X = 1")
sys.path.insert(0, zpath)
import zpkg.a  # one importer for the archive, one for its zpkg/ prefix

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)

importlib.invalidate_caches()
stock = len(reads)
patched = worker_daemon.install()
primed = len(reads) - stock
del reads[:]
importlib.invalidate_caches()
unchanged = len(reads)

st = os.stat(zpath)
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("zpkg/__init__.py", "")
    z.writestr("zpkg/a.py", "X = 1")
    z.writestr("zpkg/b.py", "Y = 2")
os.utime(zpath, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
del reads[:]
importlib.invalidate_caches()
rewritten = len(reads)
import zpkg.b

print(json.dumps({{"patched": patched, "stock": stock, "primed": primed,
                  "unchanged": unchanged, "rewritten": rewritten, "b": zpkg.b.Y}}))
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; nothing to patch")
def test_zip_reread_only_when_changed(tmp_path):
    r = _run(_ZIP_CHECK.format(zpath=str(tmp_path / "mods.zip")))
    assert r["patched"] is True
    assert r["stock"] == 2  # stock: every importer re-parses on every call
    assert r["primed"] == 1  # install reads each archive once, for all its importers
    assert r["unchanged"] == 0
    # a rewritten archive is re-read, once, and its new module imports
    # (the addPyFile contract the per-task invalidation exists for)
    assert r["rewritten"] == 1
    assert r["b"] == 2


_INSTALL_TWICE = """
import importlib, json, sys, zipfile, zipimport
from pcap_to_parquet_spark import worker_daemon

zpath = {zpath!r}
with zipfile.ZipFile(zpath, "w") as z:
    z.writestr("zpkg/__init__.py", "")
sys.path.insert(0, zpath)
import zpkg

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda p: reads.append(p) or read_directory(p)

first = worker_daemon.install()
wrapper = zipimport.zipimporter.invalidate_caches
primed = len(reads)
second = worker_daemon.install()
del reads[:]
importlib.invalidate_caches()
print(json.dumps({{"first": first, "second": second, "primed": primed,
                  "same": zipimport.zipimporter.invalidate_caches is wrapper,
                  "unchanged": len(reads)}}))
"""


@pytest.mark.skipif(sys.version_info >= (3, 13), reason="3.13+ re-reads lazily; nothing to patch")
def test_install_twice_keeps_one_wrapper(tmp_path):
    r = _run(_INSTALL_TWICE.format(zpath=str(tmp_path / "mods.zip")))
    # the second call neither wraps the wrapper nor primes again, and an
    # unchanged archive is still not re-read
    assert r == {"first": True, "second": True, "primed": 1, "same": True, "unchanged": 0}


_IMPORT_SOURCE = """
import json, sys, zipimport
stock = zipimport.zipimporter.invalidate_caches
if {fake_313}:
    import pyspark.sql.datasource  # noqa: F401 - imported at the real version
    import pcap_to_parquet_spark.sources.pcap  # noqa: F401
    sys.version_info = (3, 13, 0, "final", 0)
import pcap_to_parquet_spark.sources.pcap_datasource
patch = zipimport.zipimporter.invalidate_caches
print(json.dumps({{"patched": patch is not stock, "qualname": patch.__qualname__}}))
"""


@pytest.mark.parametrize("fake_313", [False, True])
def test_importing_the_pcap_source_installs_the_patch(fake_313):
    """Spark's data source planner workers ignore the daemon module but
    import the pcap source to unpickle it; that import installs the
    patch below 3.13 (faked here for the >= 3.13 case)."""
    r = _run(_IMPORT_SOURCE.format(fake_313=fake_313))
    if fake_313 or sys.version_info >= (3, 13):
        assert r == {"patched": False, "qualname": "zipimporter.invalidate_caches"}
    else:
        assert r == {"patched": True, "qualname": "install.<locals>.invalidate_caches"}


def test_pcap_source_reads_repeatedly(spark):
    """Repeated ``format("pcap")`` reads, planned by reused planner
    workers, return the golden rows every time, with or without pushed
    filters."""
    from pyspark.sql import functions as F

    from pcap_to_parquet_spark.operators.pcap_query import _fixture_path
    from pcap_to_parquet_spark.sources.pcap import decode_pcap_bytes
    from pcap_to_parquet_spark.sources.pcap_datasource import register_pcap_source

    register_pcap_source(spark)
    with open(_fixture_path(), "rb") as fh:
        expect = decode_pcap_bytes(fh.read())
    assert len(expect) == 13

    def key(r: dict) -> tuple:
        return tuple((v is None, v) for v in r.values())

    def rows(df) -> list[dict]:  # noqa: ANN001
        return sorted((r.asDict() for r in df.collect()), key=key)

    full = sorted(expect, key=key)
    kept = [r for r in full if r["protocol"] == "UDP" and r["len"] >= 60]
    assert 0 < len(kept) < 13
    for _ in range(2):
        assert rows(spark.read.format("pcap").load(_fixture_path())) == full
    df = spark.read.format("pcap").load(_fixture_path())
    assert rows(df.where((F.col("protocol") == "UDP") & (F.col("len") >= 60))) == kept


_LEAVE_ALONE = """
import json, sys, zipimport
stock = zipimport.zipimporter.invalidate_caches
if sys.version_info < (3, 13):
    sys.version_info = (3, 13, 0, "final", 0)
from pcap_to_parquet_spark import worker_daemon
patched = worker_daemon.install()
print(json.dumps({"patched": patched,
                  "untouched": zipimport.zipimporter.invalidate_caches is stock}))
"""


def _py313() -> list[str]:
    """A CPython 3.13 on PATH that runs, if there is one."""
    exe = shutil.which("python3.13")
    if exe and subprocess.run([exe, "-V"], capture_output=True).returncode == 0:
        return [exe]
    return []


@pytest.mark.parametrize("executable", [sys.executable, *_py313()])
def test_leaves_zipimport_alone_from_313(executable):
    """On 3.13+ (faked on older interpreters) install() is a no-op."""
    assert _run(_LEAVE_ALONE, executable=executable) == {"patched": False, "untouched": True}


def test_session_runs_workers_through_the_daemon(spark):
    from pcap_to_parquet_spark.session import BUILD_CONF

    conf = spark.sparkContext.getConf()
    module = BUILD_CONF["spark.python.daemon.module"]
    assert conf.get("spark.python.daemon.module") == module

    def probe(batches):  # noqa: ANN001, ANN202
        import zipimport

        qualname = zipimport.zipimporter.invalidate_caches.__qualname__
        for b in batches:
            yield b.assign(x=b["x"] * 2, patch=qualname)

    df = spark.range(1600, numPartitions=16).toDF("x").mapInPandas(
        probe, schema="x long, patch string"
    )
    rows = df.collect()
    assert sorted(r.x for r in rows) == [2 * i for i in range(1600)]
    want = "zipimporter.invalidate_caches"
    if sys.version_info < (3, 13):
        want = "install.<locals>.invalidate_caches"
    assert {r.patch for r in rows} == {want}


_FOREIGN_CWD = """
import json
from pcap_to_parquet_spark.operators.pcap_query import _fixture_path
from pcap_to_parquet_spark.session import get_spark
from pcap_to_parquet_spark.sources.pcap import read_pcap

spark = get_spark("foreign-cwd", 2)
spark.sparkContext.setLogLevel("ERROR")
packets = read_pcap(spark, _fixture_path()).count()
doubled = spark.range(10, numPartitions=1).toDF("x").mapInPandas(
    lambda it: (b * 2 for b in it), schema="x long"
).collect()
spark.stop()
print(json.dumps({"packets": packets, "doubled": sorted(r.x for r in doubled)}))
"""


def test_workers_import_package_from_any_cwd(tmp_path):
    """Workers find the package (and the daemon module) with the
    driver's working directory outside the repository."""
    r = _run(_FOREIGN_CWD, cwd=str(tmp_path), timeout=300)
    assert r == {"packets": 13, "doubled": [2 * i for i in range(10)]}
