"""Scale-rehearsal timer: run the edge-linear queries at sf0.1, 10×
and 40× (built by tools/make_scale.py) and report wall ratios.

The 100-TB claims this checks: the dedup/graph/media families are
designed to be linear in edges/media volume (banded LSH, MIH,
degree-capped wedges, checkpointed label propagation). Super-linear
blowup only shows up under scale — a 40× run that costs ≫40× the
sf0.1 run means some bucket/candidate set is quadratic after all.

Usage: python tools/scale_rehearse.py [q_name ...]
Expects /tmp/sf1 (10×) and /tmp/sf4 (40×) to exist:
    python tools/make_scale.py /root/testdata/sf0.1 /tmp/sf1 10
    python tools/make_scale.py /root/testdata/sf0.1 /tmp/sf4 40
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

DEFAULT = [
    "q_dedup_clusters",
    "q_ngram_novelty",
    "q_triangle_count",
    "q_video_neardup",
]
SETS = [("sf0.1", "/root/testdata/sf0.1", 1), ("10x", "/tmp/sf1", 10), ("40x", "/tmp/sf4", 40)]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    spark = get_spark("scale-rehearse")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, sf_dir: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run("q_flagship_revenue", SETS[0][1])  # JVM/codegen warmup
    out = {}
    for name in names:
        row = {}
        for label, sf_dir, factor in SETS:
            row[label] = round(run(name, sf_dir), 1)
            print(f"  {name} @ {label}: {row[label]}s", flush=True)
        row["ratio_40x"] = round(row["40x"] / row["sf0.1"], 1)
        row["ratio_40x_vs_10x"] = round(row["40x"] / row["10x"], 1)
        out[name] = row
        print(name, json.dumps(row), flush=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
