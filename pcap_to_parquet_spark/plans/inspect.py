"""Physical-plan inspection: count the operators that matter for scale.

``plan_profile(df)`` answers the questions every operator review asks:
which join strategy did Catalyst pick, how many shuffles does the plan
cost, did filters reach the parquet scan, how much stays in whole-stage
codegen. Tests assert on these counts to pin plan *shape*, not just
results (e.g. "the bucketed join has zero exchanges below the join").
"""

from __future__ import annotations

import re
from collections import Counter

from pyspark.sql import DataFrame

NOTABLE_OPS = (
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
    "BatchScan",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "ArrowEvalPython",
    "BatchEvalPython",
)


def plan_string(df: DataFrame) -> str:
    """The executed physical plan as text (pre-execution; AQE plans show
    the initial shape that runtime re-planning only improves on).

    Raises spark.sql.maxMetadataStringLength (default 100) first: a
    scan with several DataFilters truncates its metadata mid-list and
    the PushedFilters section silently disappears from the string —
    which read as "no pushdown" for every multi-predicate scan."""
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "2000")
    return df._jdf.queryExecution().executedPlan().toString()


def plan_profile(df: DataFrame) -> dict[str, int]:
    """Operator counts plus ``exchanges``, ``wscg_spans`` and
    ``pushed_filters`` for the DataFrame's physical plan."""
    plan = plan_string(df)
    prof: Counter[str] = Counter()
    for op in NOTABLE_OPS:
        n = len(re.findall(rf"\b{op}\b", plan))
        if n:
            prof[op] = n
    prof["exchanges"] = len(re.findall(r"\bExchange\b", plan))
    # deliberate parallelism fan-outs (fan_out's repartition): these
    # are row-preserving round-robin redistributions, not keyed data
    # shuffles — plan tests asserting "no shuffle" should compare
    # exchanges against this count instead of zero
    prof["fanout_exchanges"] = len(re.findall(r"\bRoundRobinPartitioning\b", plan))
    prof["semi_joins"] = len(re.findall(r"\bLeftSemi\b", plan))
    prof["anti_joins"] = len(re.findall(r"\bLeftAnti\b", plan))
    prof["single_partition"] = len(re.findall(r"\bSinglePartition\b", plan))
    prof["wscg_spans"] = len(set(re.findall(r"\*\((\d+)\)", plan)))
    prof["pushed_filters"] = len(
        [p for p in re.findall(r"PushedFilters: \[([^\]]*)\]", plan) if p.strip()]
    )
    return dict(prof)
