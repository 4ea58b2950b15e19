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
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.plans import plan_profile
from pcap_to_parquet_spark.plans.inspect import NOTABLE_OPS
from pcap_to_parquet_spark.registry import ORACLES, QUERIES
from pcap_to_parquet_spark.session import get_spark

# streaming queries execute on call (memory sink); explain them via their
# last micro-batch is out of scope here — skip, they're covered by the
# oracle checks and the streaming module docstrings.
_SKIP = tuple(n for n in QUERIES if n.startswith("q_stream_"))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark("explain-all")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan inventory (auto-generated by tools/explain_all.py)",
        "",
        f"Scale factor dir: `{sf_dir}`. Ex = every `Exchange` in the plan,",
        "round-robin fan-outs included; WSCG = whole-stage codegen spans.",
        "Streaming queries are omitted (run via memory-sink micro-batches;",
        "see streaming/stream_queries.py).",
        "",
        "| query | oracle | joins / notable ops | Ex | WSCG | pushed filters |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        if name in _SKIP:
            continue
        df = QUERIES[name](spark, sf_dir)
        # AQE defers codegen insertion until stages run, so the static
        # plan shows the WholeStageCodegen spans only with it off (runtime
        # plans only improve on these). Operators call tune(), which turns
        # it back on: switch it off before the lazy physical plan exists.
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        prof = plan_profile(df)
        ops = [(op, prof[op]) for op in NOTABLE_OPS if op in prof]
        ops_str = ", ".join(f"{k}×{v}" if v > 1 else k for k, v in ops) or "—"
        lines.append(
            f"| {name} | {'✓' if name in ORACLES else 'rows-only'} | {ops_str} "
            f"| {prof['exchanges']} | {prof['wscg_spans']} "
            f"| {'yes' if prof['pushed_filters'] else '—'} |"
        )

    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"wrote PLANS.md ({len(lines) - 9} queries)")


if __name__ == "__main__":
    main()
