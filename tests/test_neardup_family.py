"""The near-duplicate family's label consumers against their DuckDB
oracles: the Spark rows and the oracle rows must be the same set, with
the same column names, compared exactly as ``tools/check_oracle.py``
(the local stand-in for the driver's correctness gate) compares them.

The family shares one labels step, one survivors keep rule and one
agreement toolkit on both sides, so a change to any shared piece moves
several of these at once."""

from __future__ import annotations

import duckdb
import pytest

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import ORACLES, QUERIES
from pcap_to_parquet_spark.sources.tables import TABLE_NAMES
from tests.conftest import SF0001
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


@pytest.mark.slow  # ~2 min in all, most of it in the DuckDB recursions
@pytest.mark.parametrize("name", LABEL_CONSUMERS)
def test_label_consumer_matches_its_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF0001)
    srows = [r.asDict(True) for r in sdf.collect()]
    rel = duck.execute(ORACLES[name])
    dcols = [d[0] for d in rel.description]
    drows = [dict(zip(dcols, row)) for row in rel.fetchall()]
    assert sorted(sdf.columns) == sorted(dcols)
    assert len(srows) == len(drows)
    cols = sorted(dcols)
    assert normalize(srows, cols) == normalize(drows, cols)
