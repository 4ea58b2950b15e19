"""Physical-plan inventory: dump key plan properties for every batch
query into PLANS.md.

The point is plan-quality review at a glance: which join strategy each
query got, how many exchanges (shuffles) it costs, whether filters
reached the parquet scan, and whether the hot path stayed in
whole-stage codegen. Re-run after operator changes; diff PLANS.md.

Usage: python tools/explain_all.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import ORACLES, QUERIES
from pcap_to_parquet_spark.session import get_spark

_OPS = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
    "TakeOrderedAndProject",
    "WindowGroupLimit",
    "HashAggregate",
    "ObjectHashAggregate",
    "SortAggregate",
    "Window",
    "Generate",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "BatchEvalPython",
    "PythonUDTF",
)

# streaming queries execute on call (memory sink); explain them via their
# last micro-batch is out of scope here — skip, they're covered by the
# oracle checks and the streaming module docstrings.
_SKIP = tuple(n for n in QUERIES if n.startswith("q_stream_"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")
    # AQE defers codegen insertion until stages run; disable it here so the
    # static plan shows the WholeStageCodegen spans (runtime plans only
    # improve on these: skew splits, broadcast promotions, coalescing).
    spark.conf.set("spark.sql.adaptive.enabled", "false")

    lines = [
        "# PLANS — physical-plan inventory (auto-generated by tools/explain_all.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Ex = shuffle exchanges, WSCG = whole-stage",
        "codegen spans. Streaming queries are omitted (run via memory-sink",
        "micro-batches; see streaming/stream_queries.py).",
        "",
        "| query | oracle | joins / notable ops | Ex | WSCG | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        if name in _SKIP:
            continue
        df = QUERIES[name](spark, sf_dir)
        # operators call tune() which re-enables AQE; turn it off before
        # the (lazy) physical plan materializes
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        plan = df._jdf.queryExecution().executedPlan().toString()
        found = Counter()
        for op in _OPS:
            n = len(re.findall(rf"\b{op}\b", plan))
            if n:
                found[op] = n
        n_ex = len(re.findall(r"Exchange (hash|range)partitioning", plan)) + len(
            re.findall(r"Exchange SinglePartition", plan)
        )
        # AQE plan strings mark codegen spans as "*(n)" operator prefixes
        n_wscg = len(set(re.findall(r"\*\((\d+)\)", plan)))
        pushed = [
            p
            for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
            if p.strip()
        ]
        ops_str = ", ".join(f"{k}×{v}" if v > 1 else k for k, v in found.items()) or "—"
        pushed_str = "yes" if pushed else "—"
        lines.append(
            f"| {name} | {'✓' if name in ORACLES else 'rows-only'} | {ops_str} "
            f"| {n_ex} | {n_wscg} | {pushed_str} |"
        )

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines) - 7} queries)")


if __name__ == "__main__":
    main()
