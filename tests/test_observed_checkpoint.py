"""``session.observed_checkpoint``: a checkpoint and its metrics cost one
job, the wait for the observation is bounded, and the iterative kernels
that use it keep their job counts."""

from __future__ import annotations

import threading

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark import session
from pcap_to_parquet_spark.registry import QUERIES
from tests.conftest import SF0001, count_jobs


def _metrics():
    return {"n": F.count(F.lit(1)), "s": F.sum("x")}


def _frame(spark, rows: int):
    return spark.range(100).select(F.col("id").alias("x")).where(F.col("x") < rows)


@pytest.mark.parametrize("rows", [37, 0])
def test_metrics_equal_an_aggregate_over_the_returned_rows(spark, rows):
    out, got = session.observed_checkpoint(_frame(spark, rows), **_metrics())
    want = out.agg(*[c.alias(k) for k, c in _metrics().items()]).first().asDict()
    assert got == want
    assert got["n"] == rows
    assert got["s"] == (sum(range(rows)) if rows else None)


def test_checkpoint_and_metrics_cost_one_job(spark):
    df = _frame(spark, 37)
    assert count_jobs(spark, lambda: session.observed_checkpoint(df, **_metrics())) == 1


def test_a_lapsed_wait_computes_the_metrics_with_one_more_job(spark, monkeypatch):
    df = _frame(spark, 37)
    _, want = session.observed_checkpoint(df, **_metrics())
    # an observation that never lands: the wait must end at the bound
    never = threading.Event()
    monkeypatch.setattr(Observation, "get", property(lambda self: never.wait() and {}))
    monkeypatch.setattr(session, "OBSERVATION_WAIT_S", 0)
    got: dict = {}
    try:
        jobs = count_jobs(spark, lambda: got.update(session.observed_checkpoint(df, **_metrics())[1]))
    finally:
        never.set()  # release the abandoned waiter thread
    assert got == want
    assert jobs == 2


# query -> most jobs one build + noop write may launch at sf0.001, on
# whatever cores the session has. The near-duplicate budgets are the
# most jobs seen over repeated runs on 4 cores. Their actions are fixed
# (the three-way census: 17 localCheckpoints and the write), but AQE
# submits a query stage job more or fewer from run to run: the census
# read 130-135 jobs, the SimHash clustering 31-32, the winnowing one
# 39-41.
ITERATIVE_JOB_BUDGET = {
    "q_kcore": 18,
    "q_dedup_clusters": 23,
    "q_components_star": 29,
    "q_dedup_simhash_clusters": 32,
    "q_winnowing_band_clusters": 41,
    "q_density_clusters": 11,
    "q_dedup_method_agreement3": 135,
}


@pytest.mark.parametrize("name", sorted(ITERATIVE_JOB_BUDGET))
def test_iterative_kernel_job_budget(spark, name):
    def run():
        QUERIES[name](spark, SF0001).write.format("noop").mode("overwrite").save()

    assert count_jobs(spark, run) <= ITERATIVE_JOB_BUDGET[name]
