"""The near-duplicate family against its DuckDB oracles: the Spark rows
and the oracle rows must be the same set, with the same column names,
compared exactly as ``tools/check_oracle.py`` (the local stand-in for
the driver's correctness gate) compares them.

The family shares one candidate kernel per engine (shingles, overlaps,
signatures, band joins), one labels step, one survivors keep rule and
one agreement toolkit on both sides, so a change to any shared piece
moves several of these at once."""

from __future__ import annotations

import duckdb
import pytest

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import ORACLES, QUERIES
from pcap_to_parquet_spark.sources.tables import TABLE_NAMES
from tests.conftest import SF0001, count_actions
from tools.check_oracle import normalize

# every query of the family that consumes cluster labels
LABEL_CONSUMERS = [
    "q_dedup_clusters",
    "q_components_star",
    "q_dedup_simhash_clusters",
    "q_winnowing_band_clusters",
    "q_density_clusters",
    "q_dedup_survivors",
    "q_dedup_simhash_survivors",
    "q_winnowing_band_survivors",
    "q_cluster_size_census",
    "q_band_filter_attribution",
    "q_dedup_method_agreement",
    "q_dedup_method_agreement3",
    "q_dedup_agreement_by_source",
]


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF0001}/{t}.parquet'")
    yield con
    con.close()


# the oracle-checked queries of the Jaccard/MinHash candidate side
CANDIDATE_QUERIES = [
    "q_ngram_jaccard",
    "q_ngram_containment",
    "q_minhash_exact",
    "q_dedup_bias",
    "q_dedup_source_census",
    "q_filter_dedup_overlap",
    "q_lsh_recall",
    "q_lsh_precision",
    "q_dedup_threshold_curve",
    "q_lsh_planner",
    "q_minhash_perm_sensitivity",
]


def _matches_its_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF0001)
    srows = [r.asDict(True) for r in sdf.collect()]
    rel = duck.execute(ORACLES[name])
    dcols = [d[0] for d in rel.description]
    drows = [dict(zip(dcols, row)) for row in rel.fetchall()]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    cols = sorted(dcols)
    assert normalize(srows, cols) == normalize(drows, cols)


@pytest.mark.slow
@pytest.mark.parametrize("name", LABEL_CONSUMERS)
def test_label_consumer_matches_its_oracle(spark, duck, name):
    _matches_its_oracle(spark, duck, name)


@pytest.mark.slow
@pytest.mark.parametrize("name", CANDIDATE_QUERIES)
def test_candidate_query_matches_its_oracle(spark, duck, name):
    _matches_its_oracle(spark, duck, name)


# query -> most actions (SQL executions) one build + noop write may run
# at sf0.001. Every action but the final save is a localCheckpoint, so
# unlike a job count, which moves with AQE's query-stage jobs from run
# to run, this is exact.
ACTION_BUDGET = {
    "q_ngram_jaccard": 2,
    "q_ngram_containment": 2,
    "q_minhash_exact": 2,
    "q_dedup_minhash": 2,
    "q_dedup_bias": 2,
    "q_dedup_source_census": 3,
    "q_filter_dedup_overlap": 3,
    "q_lsh_recall": 4,
    "q_lsh_precision": 4,
    "q_dedup_threshold_curve": 3,
    "q_lsh_planner": 3,
    "q_minhash_perm_sensitivity": 3,
    "q_dedup_clusters": 5,
}


@pytest.mark.parametrize("name", sorted(ACTION_BUDGET))
def test_action_budget(spark, name):
    def run():
        QUERIES[name](spark, SF0001).write.format("noop").mode("overwrite").save()

    assert count_actions(spark, run) <= ACTION_BUDGET[name]
