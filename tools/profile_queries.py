"""Round-15 optimization harness: time queries with the noop sink and
dump .explain("formatted") plans.

Usage:
  python tools/profile_queries.py time [sf_dir] q1 q2 ...   # 3 runs each, prints min/median
  python tools/profile_queries.py plans <outdir> [sf_dir] q1 q2 ...  # write <outdir>/<q>.txt
  python tools/profile_queries.py time [sf_dir] HEADLINE    # the whole bench list

Timing methodology matches bench.py (construction + noop write inside
the timed region; same session config; per-query JVM/codegen warmup
paid by the first run, reported separately).
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


def _warmup(spark) -> None:
    QUERIES["q_flagship_revenue"](spark, SF_DIR).write.format("noop").mode(
        "overwrite"
    ).save()
    n_workers = 2 * spark.sparkContext.defaultParallelism
    spark.range(10_000, numPartitions=n_workers).toDF("x").mapInPandas(
        lambda it: it, schema="x long"
    ).write.format("noop").mode("overwrite").save()


def main() -> None:
    mode = sys.argv[1]
    args = sys.argv[2:]
    global SF_DIR
    outdir = None
    if mode == "plans":
        outdir = args[0]
        args = args[1:]
    SF_DIR = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        SF_DIR = args[0]
        args = args[1:]
    names = list(args)
    if names == ["HEADLINE"]:
        import bench

        names = bench.HEADLINE
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")

    if mode == "plans":
        import contextlib
        import io

        os.makedirs(outdir, exist_ok=True)
        for name in names:
            df = QUERIES[name](spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
            print(f"wrote {outdir}/{name}.txt")
        return

    _warmup(spark)
    out = {}
    for name in names:
        runs = []
        for _ in range(3):
            spark.sparkContext.setJobDescription(f"profile:{name}")
            t0 = time.time()
            QUERIES[name](spark, SF_DIR).write.format("noop").mode(
                "overwrite"
            ).save()
            runs.append(round(time.time() - t0, 3))
        spark.sparkContext.setJobDescription(None)
        s = sorted(runs)
        out[name] = {"min": s[0], "med": s[1], "cold": runs[0]}
        print(f"{name:36s} min={s[0]:7.2f} med={s[1]:7.2f} cold={runs[0]:7.2f}")
    print(json.dumps(out))


if __name__ == "__main__":
    main()
