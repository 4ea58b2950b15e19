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
