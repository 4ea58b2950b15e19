"""Local stand-in for the driver's correctness gate.

Runs every queries() entry at a scale factor, runs the matching
oracle_sql() in DuckDB over the same parquet tables, and compares
row count + column names + order-insensitive values. Floats are
compared to 1e-9 relative after sorting — stricter than a hash, and
mismatches print sample differing rows for debugging.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
import time
import traceback

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pcap_to_parquet_spark.session import get_spark
from pcap_to_parquet_spark.sources.tables import TABLE_NAMES

import __spark_entry__ as entrymod


def normalize(rows, cols):
    out = []
    for row in rows:
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = float(f"{v:.9g}") if not math.isnan(v) else "NaN"
            elif hasattr(v, "isoformat"):
                v = v.isoformat()
            elif isinstance(v, (bytes, bytearray)):
                v = v.hex()
            elif isinstance(v, list):
                v = tuple(v)
            vals.append((v is None, v))
        out.append(tuple(vals))
    out.sort(key=lambda t: str(t))
    return out


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    spark = get_spark("oracle-check")
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passes, rows_only = [], [], []
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [r.asDict(True) for r in sdf.collect()]
        except Exception:
            print(f"FAIL {name}: spark query raised")
            traceback.print_exc()
            failures.append(name)
            continue
        if name not in oracles:
            rows_only.append(name)
            print(f"rows-only {name}: {len(srows)} rows, cols={scols} ({time.time()-t0:.1f}s)")
            continue
        try:
            rel = con.execute(oracles[name])
            dcols = [d[0] for d in rel.description]
            drows = [dict(zip(dcols, row)) for row in rel.fetchall()]
        except Exception:
            print(f"FAIL {name}: oracle SQL raised")
            traceback.print_exc()
            failures.append(name)
            continue
        ok = True
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: columns spark={sorted(scols)} duck={sorted(dcols)}")
            ok = False
        elif len(srows) != len(drows):
            print(f"FAIL {name}: rowcount spark={len(srows)} duck={len(drows)}")
            ok = False
        else:
            cols = sorted(scols)
            ns, nd = normalize(srows, cols), normalize(drows, cols)
            if ns != nd:
                diffs = [(a, b) for a, b in zip(ns, nd) if a != b][:3]
                print(f"FAIL {name}: value mismatch; first diffs (spark vs duck):")
                for a, b in diffs:
                    print(f"   S {a}\n   D {b}")
                ok = False
        if ok:
            passes.append(name)
            print(f"PASS {name}: {len(srows)} rows ({time.time()-t0:.1f}s)")
        else:
            failures.append(name)
    print(
        f"\n== {len(passes)} pass, {len(failures)} fail, {len(rows_only)} rows-only "
        f"of {len([n for n in queries if not only or n in only])} =="
    )
    if failures:
        print("failing:", " ".join(failures))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
