"""Dtype-parity audit between Spark results and DuckDB oracle results.

The driver's value hash proved type-sensitive in round 1
(q_curation_pipeline: DuckDB SUM(int) -> HUGEINT vs Spark BIGINT
hashed differently while values agreed). The local value checker
normalizes Python objects, so it can't see such skews. This tool
converts both sides to pandas and flags any column whose dtype
differs — the canary for driver hash failures.

Usage: python tools/check_dtypes.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pcap_to_parquet_spark.session import get_spark
from pcap_to_parquet_spark.sources.tables import TABLE_NAMES

import __spark_entry__ as entrymod


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])
    spark = get_spark("dtype-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    skews = []
    for name, fn in queries.items():
        if only and name not in only:
            continue
        if name not in oracles:
            continue
        try:
            spdf = fn(spark, sf_dir).toPandas()
            dpdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:  # noqa: BLE001
            print(f"ERR  {name}: {exc}")
            skews.append(name)
            continue
        diffs = []
        for c in spdf.columns:
            if c not in dpdf.columns:
                diffs.append(f"{c}: missing in oracle")
                continue
            s, d = str(spdf[c].dtype), str(dpdf[c].dtype)
            if s != d:
                diffs.append(f"{c}: spark={s} duckdb={d}")
        for c in dpdf.columns:
            if c not in spdf.columns:
                diffs.append(f"{c}: missing in spark")
        if diffs:
            skews.append(name)
            print(f"SKEW {name}: " + "; ".join(diffs))
        else:
            print(f"ok   {name}")
    print(f"\n{len(skews)} queries with dtype skew")
    return 1 if skews else 0


if __name__ == "__main__":
    raise SystemExit(main())
