"""Registry contract: every query runs at sf0.001 with a stable schema.

Value-level correctness is the oracle harness's job
(tools/check_oracle.py, mirroring the driver's CORRECTNESS gate);
this suite guards the contract shape and cheap invariants so a
broken operator fails fast in pytest.
"""

from __future__ import annotations

import math

import pytest

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import ORACLES, QUERIES
from tests.conftest import SF0001

# whole-registry smoke sweep (~6.5 min) - full-suite/release gate, r16
pytestmark = pytest.mark.slow


def test_registry_shape():
    assert len(QUERIES) >= 115
    assert set(ORACLES) <= set(QUERIES)
    # the gate never checks a query without an oracle (it ranks last
    # in the gate order), so adding one must be a deliberate choice
    assert set(QUERIES) - set(ORACLES) == {
        "q_approx_distinct",
        "q_dedup_minhash",
        "q_hll_rollup",
        "q_kll_quantiles",
        "q_pca_embed",
        "q_theta_audience_overlap",
    }


def test_entry_contract():
    import __spark_entry__ as m

    assert set(m.queries()) == set(QUERIES)
    assert set(m.oracle_sql()) == set(ORACLES)
    assert list(m.oracle_sql()) == [n for n in m.queries() if n in ORACLES]


# The correctness gate checks the first WINDOW entries of
# queries(); the order is ranked from the committed CORRECTNESS records.
WINDOW = 50
PASS = {"rows_match": True, "schema_match": True, "hash_match": True}


def test_gate_window_reaches_every_oracle(tmp_path, monkeypatch):
    """Replaying the gate (check the window, commit it as an all-pass
    record for the next round) reaches every oracle-checked query in
    ceil(|ORACLES| / WINDOW) rounds, so no query waits for a hand edit."""
    import __spark_entry__ as m

    monkeypatch.chdir(tmp_path)  # the records are found next to the module
    records = m._records()
    assert records, "no CORRECTNESS_r<N>.json next to __spark_entry__.py"
    seen = set()
    for _ in range(math.ceil(len(ORACLES) / WINDOW)):
        window = m._gate_order(QUERIES, records)[:WINDOW]
        seen.update(window)
        records.append((records[-1][0] + 1, dict.fromkeys(window, PASS)))
    assert sorted(set(ORACLES) - seen) == []


def test_gate_order_puts_a_failed_check_before_every_pass():
    """The latest record wins: a query that passed before but failed its
    latest check ranks ahead of every query whose latest check passed."""
    import __spark_entry__ as m

    records = m._records()
    latest = {}
    for _, record in records:
        latest.update(record)
    passed = {n for n, r in latest.items() if all(r[k] for k in PASS) and n in ORACLES}
    victim = max(passed, key=list(m.queries()).index)  # the most recently passed
    records.append((records[-1][0] + 1, {victim: {**PASS, "hash_match": False}}))
    order = m._gate_order(QUERIES, records)
    assert all(order.index(victim) < order.index(n) for n in passed - {victim})


def test_gate_order_puts_oracle_less_queries_last():
    import __spark_entry__ as m

    records = m._records()
    oracle_less = set(QUERIES) - set(ORACLES)
    for extra in ([], [(records[-1][0] + 1, dict.fromkeys(ORACLES, PASS))]):
        order = m._gate_order(QUERIES, records + extra)
        assert set(order[len(ORACLES) :]) == oracle_less


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_runs(spark, name):
    df = QUERIES[name](spark, SF0001)
    assert df.columns, name
    # cheap full-execution check; count() exercises the whole plan
    assert df.count() >= 0


def test_approx_distinct_error_bound(spark):
    """HLL estimate must land within 5% of the exact distinct count
    (rsd default 0.05) — the rows-only check can't see accuracy."""
    from pyspark.sql import functions as F

    from pcap_to_parquet_spark.sources.tables import load_table

    o = load_table(spark, SF0001, "orders")
    exact = o.select(F.countDistinct("o_custkey")).first()[0]
    approx = o.select(F.approx_count_distinct("o_custkey")).first()[0]
    assert abs(approx - exact) / exact < 0.05


def test_flagship_entry(spark):
    import __spark_entry__ as m

    rows = m.entry(spark).collect()
    assert len(rows) > 0
    assert set(rows[0].asDict()) == {"nation", "revenue", "n_items"}
