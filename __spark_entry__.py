"""Driver contract for the spark-graft builder (PySpark target).

The correctness gate runs ``entry(spark)`` as a smoke check, runs the
first 50 entries of ``queries()`` at sf=0.01 and compares each against
the matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The order is computed from the committed CORRECTNESS_r{N}.json records
next to this file: queries never checked or whose latest check failed
come first, then the least recently passed, ties by name; queries
without an oracle come last. Implementation lives in the
``pcap_to_parquet_spark`` package; this module adapts its registry.
"""

from __future__ import annotations

import json
import re
import sys
from collections.abc import Callable, Iterable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_HERE = Path(__file__).absolute().parent
sys.path.insert(0, str(_HERE))

import pcap_to_parquet_spark.operators  # noqa: F401  (registers all queries)
from pcap_to_parquet_spark.operators.flagship import revenue_by_nation
from pcap_to_parquet_spark.registry import ORACLES, QUERIES

SF0001_DIR = "/root/testdata/sf0.001"
_RECORD = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _records() -> list[tuple[int, dict]]:
    """``(N, record)`` for every CORRECTNESS_r<N>.json here, ascending N."""
    found = sorted((int(m[1]), p) for p in _HERE.iterdir() if (m := _RECORD.fullmatch(p.name)))
    return [(n, json.loads(p.read_text())) for n, p in found]


def _gate_order(names: Iterable[str], records: list[tuple[int, dict]]) -> list[str]:
    """``names`` ranked for the gate's window. ``records`` ascend in N,
    so a name's latest record sets its rank: N if it passed, else 0."""
    last_pass = {}
    for n, record in records:
        for name, r in record.items():
            ok = r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
            last_pass[name] = n if ok else 0
    return sorted(names, key=lambda q: (q not in ORACLES, last_pass.get(q, 0), q))


def _gate_ordered(mapping: dict) -> dict:
    """``mapping`` reordered by ``_gate_order`` over the committed records."""
    return {n: mapping[n] for n in _gate_order(mapping, _records())}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return revenue_by_nation(spark, SF0001_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per registered query, in the gate order (module doc)."""
    return _gate_ordered(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB SQL for every oracle-checked query, in the same order."""
    return _gate_ordered(ORACLES)
