"""100x wall-ratio probe: ONE op per process invocation.

Usage: python tools/scale100.py q_name [q_name ...]

Runs each named query at sf0.1 and at the 100x rehearsal set
(/tmp/sf10, built by tools/make_scale.py sf0.1 /tmp/sf10 100) inside
THIS process and prints a JSON line with both walls and the ratio.

Invoke once per op from a shell loop for heavy ops: the round-9 lesson
is that sequential graph-scale ops in ONE JVM can OOM unrolling a later
op's localCheckpoint (ContextCleaner lags behind), so per-op process
isolation is the honest way to measure — each measurement then includes
its own JVM warmup, which is why the sf0.1 leg runs first (same warmup
on both legs, ratio unaffected).
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import QUERIES
from pcap_to_parquet_spark.session import get_spark

SF01 = "/root/testdata/sf0.1"
# SPARK_GRAFT_SCALE_DIR points the big leg elsewhere, e.g. the
# vocabulary-growth set built by make_scale.py --vocab-growth
SF10 = os.environ.get("SPARK_GRAFT_SCALE_DIR", "/tmp/sf10")


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit("usage: python tools/scale100.py q_name [...]")
    spark = get_spark("scale100")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run("q_flagship_revenue", SF01)  # JVM/codegen warmup
    for name in names:
        # Ratio from the UNROUNDED walls (display rounding alone can
        # swing a sub-second op's ratio by ~25%: 0.24s/0.26s true 1.08
        # would print 0.2/0.3 = 1.5); the floor applies pre-rounding too.
        t1 = run(name, SF01)
        t100 = run(name, SF10)
        print(
            json.dumps(
                {
                    "query": name,
                    "sf0.1_s": round(t1, 1),
                    "100x_s": round(t100, 1),
                    "wall_ratio_100x": round(t100 / max(t1, 0.05), 1),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
