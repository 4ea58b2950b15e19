"""Shared fixtures: one local SparkSession for the whole test run."""

from __future__ import annotations

import os
import sys
import time

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.append(os.path.join(REPO, "perfbench"))
from observe import read_status_store, window_counters  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


def count_jobs(spark, fn) -> int:
    """Spark jobs submitted while ``fn`` runs, from the status store."""
    sc = spark.sparkContext
    start = time.time()
    fn()
    end = time.time()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    job_times, stages = read_status_store(spark)
    return int(window_counters(job_times, stages, start, end, sc.defaultParallelism)["jobs"])


def count_actions(spark, fn) -> int:
    """SQL executions (actions: each localCheckpoint, count, collect or
    write) that ``fn`` runs, from the SQL status store. Counts the
    execution ids above the highest one recorded before ``fn``: the
    store keeps only the newest ``spark.sql.ui.retainedExecutions``, so
    in a long session its length stops growing."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def ids() -> list[int]:
        bus.waitUntilEmpty()
        execs = store.executionsList()
        return [execs.apply(i).executionId() for i in range(execs.size())]

    before = max(ids(), default=-1)
    fn()
    return sum(1 for i in ids() if i > before)


@pytest.fixture(scope="session")
def spark():
    from pcap_to_parquet_spark.session import get_spark

    s = get_spark("tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def tiny_docs_dir(spark, tmp_path_factory):
    """A minimal sf_dir with a planted-duplicate documents table:

    - docs 0 and 1: identical text (exact + near dup)
    - doc 2: one word changed out of 30 (near dup of 0/1, not exact)
    - doc 3: unrelated text
    - doc 4: short (< 3 tokens → zero shingles)
    """
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(("CHANGED" if i == 7 else f"w{i}") for i in range(30))
    other = " ".join(f"z{i}" for i in range(30))
    rows = [
        (0, base, "en", "srcA", len(base)),
        (1, base, "en", "srcB", len(base)),
        (2, near, "en", "srcA", len(near)),
        (3, other, "en", "srcA", len(other)),
        (4, "too short", "en", "srcA", 9),
    ]
    d = tmp_path_factory.mktemp("tinysf")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    return str(d)
