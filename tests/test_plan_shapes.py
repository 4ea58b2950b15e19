"""Plan-shape regression tests: pin the scale-critical physical plans.

Results being right is necessary, not sufficient — these assert the
*strategy* Catalyst picked, so a refactor that silently turns a
broadcast join into a 100-TB shuffle, or drops TakeOrderedAndProject
into a global sort, fails here instead of in production."""

from __future__ import annotations

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)
from pcap_to_parquet_spark.plans import plan_profile
from pcap_to_parquet_spark.registry import QUERIES
from tests.conftest import SF001
import pytest


def prof(spark, name):
    return plan_profile(QUERIES[name](spark, SF001))


def test_flagship_broadcasts_all_dims(spark):
    p = prof(spark, "q_flagship_revenue")
    # nation is hint-broadcast; customer is left to AQE (broadcast at
    # test scale, shuffle at 100 TB) — accept either physical join for
    # it, reject only a cartesian blow-up
    assert p.get("BroadcastHashJoin", 0) >= 1  # nation at minimum
    assert "CartesianProduct" not in p
    assert p.get("TakeOrderedAndProject", 0) == 1  # top-n, not global sort
    assert p["pushed_filters"] >= 1


def test_topk_uses_window_group_limit(spark):
    p = prof(spark, "q_topk_per_group")
    assert p.get("WindowGroupLimit", 0) >= 1  # per-partition heap pre-shuffle


def test_sort_limit_is_take_ordered(spark):
    p = prof(spark, "q_sort_limit")
    assert p.get("TakeOrderedAndProject", 0) == 1
    assert p["exchanges"] == 0  # no range-partitioned global sort


def test_similarity_topk_broadcasts_query_vector_only(spark):
    p = prof(spark, "q_similarity_topk")
    assert p.get("BroadcastNestedLoopJoin", 0) == 1  # 1-row qvec broadcast
    assert p.get("TakeOrderedAndProject", 0) == 1
    assert "CartesianProduct" not in p


def test_window_dist_never_single_partition(spark):
    """Global distribution functions must NOT plan a single-partition
    sort (the canonical 100 TB killer): the range-bucketed shape keeps
    the window partitioned by bucket."""
    p = prof(spark, "q_window_dist")
    assert p.get("single_partition", 0) == 0
    assert p.get("Window", 0) >= 1  # the per-bucket window is still a window


def test_text_pipeline_scale_shapes(spark):
    """Pin the scale claims of the round-2 corpus operators."""
    p = prof(spark, "q_repetition_score")
    # map-side algebra: the only exchange is fan_out's round-robin
    # repartition (small-input CPU spread; no-op at real scale) — no
    # aggregation/join shuffle exists
    assert p["exchanges"] <= 1
    assert "HashAggregate" not in p and "SortMergeJoin" not in p
    assert "CartesianProduct" not in p

    # The df (document-frequency) table is vocabulary-sized, which grows
    # with the corpus by Heaps' law — so the score join is deliberately
    # UNHINTED: AQE may pick broadcast at tiny scale or shuffle at 100 TB.
    # Pin the invariants, not the join strategy.
    p = prof(spark, "q_tfidf_top_terms")
    assert p.get("WindowGroupLimit", 0) >= 1  # top-5 heap below the shuffle
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p

    p = prof(spark, "q_decontaminate")
    assert p.get("BroadcastHashJoin", 0) >= 1  # held-out shingle set broadcast
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p


def test_media_resize_is_arrow_map_only(spark):
    p = prof(spark, "q_media_resize")
    assert p.get("MapInPandas", 0) == 1
    # decode/resize never shuffles DATA: the only permitted exchange is
    # fan_out's round-robin repartition (parallelism for the one-split
    # small-file case; a no-op on a many-split 100 TB table)
    assert p["exchanges"] == p.get("fanout_exchanges", 0)
    assert "BatchEvalPython" not in p


def test_sql_api_same_plan_quality(spark):
    """SQL-text queries must get the same physical treatment as the
    DataFrame API: broadcast dims, top-n, pushed filters."""
    p = prof(spark, "q_sql_returned_items")
    assert p.get("BroadcastHashJoin", 0) >= 1
    assert p.get("TakeOrderedAndProject", 0) == 1
    assert p["pushed_filters"] >= 1  # l_returnflag reaches the scan
    assert "CartesianProduct" not in p


def test_hash_agg_has_partial_aggregation(spark):
    p = prof(spark, "q_hash_agg")
    assert p.get("HashAggregate", 0) == 2  # partial (map-side) + final
    assert p["exchanges"] == 1


def test_semi_anti_joins_broadcast(spark):
    for name in ("q_semi_join", "q_anti_join"):
        p = prof(spark, name)
        assert p.get("BroadcastHashJoin", 0) == 1, name
        assert p["exchanges"] == 0, name


def test_minhash_signatures_shuffle_free(spark):
    # signature computation is map-only: in-row shingling (codegen) +
    # one vectorized pandas UDF — nothing may cross the network
    from pcap_to_parquet_spark.operators.llm import minhash_signatures
    from pcap_to_parquet_spark.sources.tables import load_table

    d = load_table(spark, SF001, "documents")  # tune() re-enables AQE
    spark.conf.set("spark.sql.adaptive.enabled", "false")  # after load_table
    try:
        p = plan_profile(minhash_signatures(d))
        assert p.get("ArrowEvalPython", 0) >= 1  # vectorized, not row-Python
        assert "BatchEvalPython" not in p
        assert "HashAggregate" not in p and "SortAggregate" not in p
        # the only exchange is fan_out's small-input repartition (a
        # round-robin, not a key shuffle; absent on multi-split inputs)
        assert p["exchanges"] <= 1
        assert p["wscg_spans"] >= 1  # shingling stays in codegen
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_pcap_decode_is_arrow_not_row_python(spark):
    p = prof(spark, "q_pcap_pipeline")
    assert p.get("BatchScan", 0) == 1  # the Python data source: Arrow-batched
    assert "MapInPandas" not in p
    assert "BatchEvalPython" not in p


def test_round3_pipeline_op_shapes(spark):
    """Pin the scale claims of the round-3 operators."""
    # anomaly detector: agg + broadcast join, never a window over the
    # whole fact table
    p = prof(spark, "q_anomaly_zscore")
    assert p.get("BroadcastHashJoin", 0) >= 1
    assert "Window" not in p
    assert "CartesianProduct" not in p

    # SCD2: both windows share one shuffle on user_id
    p = prof(spark, "q_scd2_dimension")
    assert p["exchanges"] == 1
    assert p.get("Window", 0) >= 2
    assert p.get("single_partition", 0) == 0

    # islands: user-partitioned window, never a global sort
    p = prof(spark, "q_sequence_islands")
    assert p.get("single_partition", 0) == 0
    assert "CartesianProduct" not in p

    # balanced sample: stratum-partitioned rank + 1-row broadcast of k.
    # The one SinglePartition is the global MIN(cnt) scalar (group-count
    # input, one output row) — the rank window itself is lang-partitioned
    p = prof(spark, "q_balanced_sample")
    assert p.get("single_partition", 0) <= 1
    assert p.get("BroadcastNestedLoopJoin", 0) == 1
    assert "CartesianProduct" not in p

    # exact percentiles: partial+final ObjectHashAggregate, one shuffle
    p = prof(spark, "q_percentile_exact")
    assert p.get("ObjectHashAggregate", 0) == 2
    assert p["exchanges"] == 1

    # arg-extrema: one aggregation pass (partial+final; max_by plans as
    # SortAggregate), dim broadcast, no self-join back to the fact table
    p = prof(spark, "q_minmax_by")
    assert p.get("BroadcastHashJoin", 0) >= 1
    agg_ops = (
        p.get("HashAggregate", 0)
        + p.get("ObjectHashAggregate", 0)
        + p.get("SortAggregate", 0)
    )
    assert agg_ops == 2
    assert p["exchanges"] == 1


def test_round3_text_op_shapes(spark):
    # bm25: ONE corpus scan — per-term tfs are map-side HOF algebra
    # (no explode/Generate, no (doc, token) shuffle); all global stats
    # (avgdl, N, dfs) are one single-row agg broadcast back; top-20
    # rides TakeOrderedAndProject
    p = prof(spark, "q_bm25")
    assert "Generate" not in p
    assert p.get("HashAggregate", 0) == 2  # the one-row stats agg only
    assert p.get("BroadcastNestedLoopJoin", 0) == 1  # one-row stats frame
    assert p.get("TakeOrderedAndProject", 0) == 1
    assert "CartesianProduct" not in p

    # pii scrub: pure map-side column algebra (fan_out repartition only)
    p = prof(spark, "q_pii_scrub")
    assert p["exchanges"] <= 1
    assert "HashAggregate" not in p and "Window" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    # histogram: map-side bucket + partial/final agg
    p = prof(spark, "q_length_histogram")
    assert p.get("HashAggregate", 0) == 2

    # quantize: map-only HOF algebra — zero shuffles, zero Python
    p = prof(spark, "q_embed_quantize")
    assert p["exchanges"] == 0
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    # video frames: Arrow-batched fan-out, no KEYED shuffle (fan_out's
    # round-robin repartition is the only permitted exchange)
    p = prof(spark, "q_video_frames")
    assert p.get("MapInPandas", 0) == 1
    assert p["exchanges"] == p.get("fanout_exchanges", 0)
    assert "BatchEvalPython" not in p


def test_round3_sql_shapes(spark):
    # Q1: scan-dominated partial+final agg with the date filter pushed
    p = prof(spark, "q_sql_pricing_summary")
    assert p.get("HashAggregate", 0) == 2
    assert p["exchanges"] == 1
    assert p["pushed_filters"] >= 1

    # Q15: no cartesian; supplier dim broadcasts against the aggregate
    p = prof(spark, "q_sql_top_supplier")
    assert p.get("BroadcastHashJoin", 0) >= 1
    assert "CartesianProduct" not in p


def test_partitioned_lake_prunes_partitions(spark):
    """The event_type filter must become a PartitionFilter (directory
    pruning), not a post-scan predicate over the whole lake."""
    import re

    from pcap_to_parquet_spark.plans.inspect import plan_string

    df = QUERIES["q_partitioned_lake"](spark, SF001)
    plan = plan_string(df)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1)
    # and the data filter list must NOT re-check event_type row-by-row
    p = plan_profile(df)
    assert p.get("HashAggregate", 0) == 2


def test_incremental_dedup_and_resample_shapes(spark):
    # anti-join on digests; no document bytes in the shuffle is a
    # code-shape property (md5 projected before the join)
    p = prof(spark, "q_incremental_dedup")
    assert "CartesianProduct" not in p
    assert p.get("BroadcastHashJoin", 0) + p.get("SortMergeJoin", 0) + p.get(
        "ShuffledHashJoin", 0
    ) >= 1

    # resample: grid side is calendar-sized (1-row span broadcast +
    # distinct series); the fact table is scanned once for the agg
    p = prof(spark, "q_resample")
    assert p.get("BroadcastNestedLoopJoin", 0) == 1  # span scalar
    assert "CartesianProduct" not in p

    # list_agg: one partial+final aggregation pass (ObjectHashAggregate
    # for collect_list), single shuffle on user_id
    p = prof(spark, "q_list_agg")
    assert p.get("ObjectHashAggregate", 0) == 2
    assert p["exchanges"] == 1


def test_time_rollup_and_mode_shapes(spark):
    # one scan, Expand for the grouping sets, partial+final agg
    from pcap_to_parquet_spark.plans.inspect import plan_string

    df = QUERIES["q_time_rollup"](spark, SF001)
    assert "Expand" in plan_string(df)
    p = plan_profile(df)
    assert p.get("HashAggregate", 0) == 2
    assert p["exchanges"] == 1

    # mode: agg then top-1 rank riding WindowGroupLimit
    p = prof(spark, "q_mode_per_group")
    assert p.get("HashAggregate", 0) == 2
    assert p.get("WindowGroupLimit", 0) >= 1


def test_sql_local_volume_broadcasts_all_dims(spark):
    """Q5 shape: every dimension must broadcast — at most ONE real
    shuffle chain (lineitem⋈orders side); join reordering must keep
    the region filter pruning before the fact join."""
    p = prof(spark, "q_sql_local_volume")
    assert p.get("BroadcastHashJoin", 0) >= 4
    assert "CartesianProduct" not in p
    assert p["pushed_filters"] >= 1  # r_name reaches the region scan


def test_table_profile_and_window_nth_shapes(spark):
    # one aggregation job; multiple exact DISTINCTs plan via Expand
    from pcap_to_parquet_spark.plans.inspect import plan_string

    df = QUERIES["q_table_profile"](spark, SF001)
    assert "Expand" in plan_string(df)

    # nth/ignore-nulls analytics: all three functions share one window
    # (single Exchange, single Window operator)
    p = prof(spark, "q_window_nth")
    assert p.get("Window", 0) == 1
    assert p["exchanges"] == 1


def test_behavior_family_shapes(spark):
    """Pin the scale claims of the behavior-analytics operators."""
    # funnel: equi-joins + aggs only; the only single-partition nodes
    # are the three 1-row stage counts
    p = prof(spark, "q_funnel")
    assert "CartesianProduct" not in p
    assert p.get("single_partition", 0) <= 3

    # retention / rolling distinct: user-keyed aggs, never a global sort
    for name in ("q_retention_cohort", "q_rolling_distinct"):
        p = prof(spark, name)
        assert p.get("single_partition", 0) == 0, name
        assert "CartesianProduct" not in p, name

    # rolling median: ONE exchange, the user-partitioned window
    p = prof(spark, "q_rolling_median")
    assert p["exchanges"] == 1
    assert p.get("Window", 0) == 1
    assert p.get("single_partition", 0) == 0

    # heavy hitters: admission is MapInPandas, the recount join
    # broadcasts the candidates, top-k is TakeOrdered (no global sort)
    p = prof(spark, "q_heavy_hitters")
    assert p.get("MapInPandas", 0) == 1
    assert p.get("BroadcastHashJoin", 0) >= 1
    assert p.get("TakeOrderedAndProject", 0) == 1

    # sweep line: day-PARTITIONED window — one exchange, no global sort
    p = prof(spark, "q_peak_concurrency")
    assert p["exchanges"] == 1
    assert p.get("single_partition", 0) == 0

    # CDC apply: ONE aggregation pass (partial+final), no window/sort
    # of the full history
    p = prof(spark, "q_cdc_apply")
    assert "Window" not in p
    assert p["exchanges"] == 1
    agg_ops = p.get("HashAggregate", 0) + p.get("SortAggregate", 0) + p.get(
        "ObjectHashAggregate", 0
    )
    assert agg_ops == 2


def test_clustered_lakes_prune_and_stay_single_exchange(spark):
    # z-order lake: the 2-D filter reaches the scan
    p = prof(spark, "q_zorder_lake")
    assert p["pushed_filters"] >= 1
    assert p["exchanges"] == 1

    # ORC lake: same single-exchange aggregate as the parquet path
    p = prof(spark, "q_orc_lake")
    assert p["exchanges"] == 1
    assert p.get("single_partition", 0) == 0


def test_batch3_behavior_shapes(spark):
    # markov: user-partitioned lag window + agg; the row-normalizing
    # window runs over the 25-row summary (one tolerated tiny sort)
    p = prof(spark, "q_markov_transitions")
    assert "CartesianProduct" not in p
    assert p.get("Window", 0) >= 1

    # basket pairs: EQUI self-join on the order key + TakeOrdered
    p = prof(spark, "q_basket_pairs")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.get("TakeOrderedAndProject", 0) == 1

    # A/B: one aggregate over the corpus; the arm-vs-arm join is over
    # the summary frame
    p = prof(spark, "q_ab_ttest")
    assert "CartesianProduct" not in p
    assert p.get("single_partition", 0) == 0

    # pct change: corpus reduced to |days| rows BEFORE the lone global
    # window (the documented tiny-aggregate exception)
    p = prof(spark, "q_pct_change")
    assert p.get("Window", 0) == 1


def test_fuzzy_and_disjunctive_join_shapes(spark):
    # fuzzy join: HASH join on the block keys (broadcast here, SMJ at
    # scale) — the edit distance must be a residual, never a cartesian
    p = prof(spark, "q_fuzzy_join")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.get("BroadcastHashJoin", 0) + p.get("SortMergeJoin", 0) >= 1

    # Q19 shape: per-side implications of the OR pushed below the join
    p = prof(spark, "q_sql_disjunctive")
    assert p["pushed_filters"] >= 1
    assert "CartesianProduct" not in p
    assert p.get("single_partition", 0) <= 1  # the 1-row final agg


def test_decorrelated_subquery_shapes(spark):
    # Q17 shape: the correlated scalar AVG must decorrelate into one
    # aggregate + join — a nested-loop (per-outer-row subquery) shows
    # up as a cartesian/BNLJ and is the O(n^2) failure this test pins
    p = prof(spark, "q_sql_small_qty")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.get("HashAggregate", 0) >= 2  # per-partkey avg + final group

    # Q21 shape: EXISTS -> left semi, NOT EXISTS -> left anti, both
    # equi-joins on the order key; a NOT-IN-style null-trap rewrite
    # would surface as a BNLJ
    p = prof(spark, "q_sql_waiting_supplier")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p["semi_joins"] >= 1 and p["anti_joins"] >= 1

    # Q18 shape: IN <grouped subquery> -> semi join, never a BNLJ
    p = prof(spark, "q_sql_big_orders")
    assert p["semi_joins"] >= 1
    assert "BroadcastNestedLoopJoin" not in p

    # Q22 shape: NOT EXISTS -> anti join; the scalar avg subquery must
    # not leave a per-row nested loop behind
    p = prof(spark, "q_sql_idle_customers")
    assert p["anti_joins"] >= 1
    assert "CartesianProduct" not in p


def test_round4_op_shapes(spark):
    # bigram LM: model joins are plain hash joins (model side must NOT
    # be force-broadcast — web-scale bigram tables don't fit), bigram
    # extraction shows no python eval anywhere
    p = prof(spark, "q_ngram_lm_score")
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    # count-min: partial+final aggregation IS the sketch build/merge;
    # probe joins the d*w-row sketch broadcast
    p = prof(spark, "q_countmin_topk")
    assert p.get("HashAggregate", 0) >= 2
    assert p.get("BroadcastHashJoin", 0) >= 1
    assert "CartesianProduct" not in p

    # SCD2 lookup: equi-join on the user key with interval residual —
    # never a nested-loop over the dim
    p = prof(spark, "q_scd2_lookup")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # cogroup diff: the pandas cogroup operator runs once, fed by two
    # hash-partitionings on the SAME key
    p = prof(spark, "q_cogroup_diff")
    assert p.get("FlatMapCoGroupsInPandas", 0) == 1

    # skyline: the O(n^2) NOT-EXISTS pair space must never materialize —
    # per-size reduce + tiny-frontier broadcast only
    p = prof(spark, "q_skyline")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert p.get("BroadcastHashJoin", 0) >= 1

    # CIDR LPM: a priority chain of broadcast probes — all four prefix
    # lookups map-side, no range join, no explode
    p = prof(spark, "q_cidr_enrich")
    assert p.get("BroadcastHashJoin", 0) == 4
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p

    # sequence packing: the corpus-wide cumsum must NOT be one
    # unpartitioned window over the data — the bucket-partitioned
    # window and the 16-row offset window both appear, and only the
    # offset table / final sort may see a single partition
    p = prof(spark, "q_sequence_pack")
    assert p.get("Window", 0) >= 2
    assert p.get("single_partition", 0) <= 2


@pytest.mark.slow  # >=5s
def test_round4b_op_shapes(spark):
    # RAG chunking must be map-only fan-out: no aggregation, no join,
    # no python eval — the only permitted exchange is fan_out's
    # round-robin spread
    p = prof(spark, "q_doc_chunks")
    assert p["exchanges"] <= 1
    assert "HashAggregate" not in p and "SortMergeJoin" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p

    # KMV: the rank windows must stay partitioned by group except the
    # merged-sketch window, whose input is bounded at K x n_groups rows
    p = prof(spark, "q_kmv_distinct")
    assert p.get("Window", 0) >= 2
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p

    # exact-oracle MinHash: signature build is JVM column algebra (no
    # python eval at all) and candidate pairing is a key-equality join
    p = prof(spark, "q_minhash_exact")
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p
    assert "CartesianProduct" not in p
    assert p.get("SortMergeJoin", 0) + p.get("ShuffledHashJoin", 0) + p.get(
        "BroadcastHashJoin", 0
    ) >= 1

    # PageRank: per-iteration join + aggregate, no python, no cartesian;
    # top-20 must be a TakeOrderedAndProject, not a global sort
    p = prof(spark, "q_pagerank")
    assert p.get("TakeOrderedAndProject", 0) == 1
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p

    # degree-capped triangles: hub removal is UNHINTED (the hub set
    # grows with the graph — AQE broadcasts at test scale, shuffles at
    # 100 TB); pin the invariants, not the join strategy
    p = prof(spark, "q_triangle_cap")
    assert p.get("anti_joins", 0) >= 2 or p.get("BroadcastHashJoin", 0) >= 2
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p

    # kNN join: ONE grouped pandas operator on the blocking key — the
    # quadratic work happens inside blocks, never as a plan-level
    # cartesian/nested-loop
    p = prof(spark, "q_knn_join")
    assert p.get("FlatMapGroupsInPandas", 0) == 1
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_round4b_sql_shapes(spark):
    # all six new TPC-H shapes: dims broadcast, facts shuffle at most
    # once per aggregate, and nothing plans a cartesian or nested loop
    for name in (
        "q_sql_late_orders",
        "q_sql_nation_volume",
        "q_sql_market_share",
        "q_sql_promo_share",
        "q_sql_product_profit",
        "q_sql_parts_suppliers",
    ):
        p = prof(spark, name)
        assert "CartesianProduct" not in p, name
        assert p.get("BroadcastHashJoin", 0) >= 1, name
    # the EXISTS in late orders is a semi join, never a full join+dedup
    p = prof(spark, "q_sql_late_orders")
    assert "LeftSemi" in plan_string_of(spark, "q_sql_late_orders") or p.get(
        "BroadcastHashJoin", 0
    ) >= 1


def plan_string_of(spark, name):
    from pcap_to_parquet_spark.plans import plan_string

    return plan_string(QUERIES[name](spark, SF001))


def test_q6_filters_reach_the_scan(spark):
    """TPC-H Q6's whole value is pushdown: predicates at the parquet
    scan, no join, a two-phase global aggregate."""
    p = prof(spark, "q_sql_forecast_revenue")
    assert p["pushed_filters"] >= 1
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert p.get("HashAggregate", 0) == 2


def test_dpp_join_prunes_partitions_at_runtime(spark):
    """The runtime-dim join over the partitioned lake must carry a
    DynamicPruning expression in the scan's partition filters — the
    directory skip happens even though the qualifying event_types are
    only known after the dim aggregate runs."""
    from pcap_to_parquet_spark.plans.inspect import plan_string

    plan = plan_string(QUERIES["q_dpp_join"](spark, SF001))
    assert "dynamicpruningexpression" in plan.lower(), plan[:2000]
    p = prof(spark, "q_dpp_join")
    assert "CartesianProduct" not in p
    assert p.get("BroadcastHashJoin", 0) >= 1  # dim broadcast reused as filter


def test_round7_qualification_shapes(spark):
    """Pin the scale claims of the statistical-qualification family:
    census-sized state broadcasts, no cartesian blow-ups, no Python in
    the hot path."""
    # chi2: marginals broadcast back onto the contingency cells
    p = prof(spark, "q_chi2_test")
    assert p.get("BroadcastHashJoin", 0) >= 2  # row + column marginals
    assert "CartesianProduct" not in p
    assert "BatchEvalPython" not in p

    # ECE: one aggregation pipeline into <=10 bins, nothing else
    p = prof(spark, "q_calibration_ece")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert p.get("HashAggregate", 0) >= 2  # partial + final

    # conformal: model and qhat are broadcast census frames
    p = prof(spark, "q_conformal_intervals")
    assert p.get("BroadcastHashJoin", 0) >= 2
    assert "CartesianProduct" not in p

    # jackknife: two scans, one-row state between them — broadcast
    # nested-loop for the 1-row crossJoins is the bounded pattern
    p = prof(spark, "q_jackknife_ci")
    assert "SortMergeJoin" not in p
    assert p.get("BatchEvalPython", 0) == 0

    # naive Bayes: the scoring join is keyed on (class, token); the
    # class fan-out and the count-table join must never be cartesian
    p = prof(spark, "q_naive_bayes")
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0

    # IPS: propensity/value census broadcast onto the log
    p = prof(spark, "q_ips_eval")
    assert p.get("BroadcastHashJoin", 0) >= 2
    assert "CartesianProduct" not in p

    # bootstrap: the B-fold blowup joins back by index on the
    # days-bounded series — a hash join, never nested-loop over draws
    p = prof(spark, "q_bootstrap_ci")
    assert "CartesianProduct" not in p


def test_round9_op_shapes(spark):
    """Pin the scale claims of the round-9 pair: the decontamination
    report must collapse its global ranking (never a global sort), and
    the fairness census must stay one bounded aggregation pipeline."""
    # embed_decontaminate: broadcast eval panel over a fan_out corpus
    # scan; per-vector argmax and the global top-20 both group-limit
    p = prof(spark, "q_embed_decontaminate")
    assert p.get("BroadcastNestedLoopJoin", 0) == 1  # the 50-row panel
    assert p.get("WindowGroupLimit", 0) >= 2  # argmax + global top-20
    assert p.get("TakeOrderedAndProject", 0) >= 1  # top-20, no global sort
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0  # cosine stays JVM-side
    # the only exchanges: fan_out + the vec_id-keyed window shuffle +
    # the single-partition tail of the 20-row report
    assert p["exchanges"] <= 3

    # fairness: |sources|-row confusion census + 1-row broadcast max
    p = prof(spark, "q_fairness_audit")
    assert p.get("BroadcastNestedLoopJoin", 0) == 1  # the 1-row max rate
    assert "CartesianProduct" not in p and "SortMergeJoin" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p.get("HashAggregate", 0) >= 4  # partial+final, census+max

    # referential integrity (reworked this round): the deduped parent
    # census must keep every edge a hash join — a dup parent PK can no
    # longer fan out — and the dup census rides a 1-row broadcast
    p = prof(spark, "q_referential_integrity")
    assert p.get("BroadcastHashJoin", 0) + p.get("SortMergeJoin", 0) >= 7
    assert p.get("BroadcastNestedLoopJoin", 0) == 7  # 7 one-row dup censuses
    assert "CartesianProduct" not in p


@pytest.mark.slow  # >=5s
def test_round11_census_shapes(spark):
    """Pin the scale claims of the round-11 decision-table ops: the
    map-only censuses must stay one partial-agg exchange with no join
    of any kind, the minhash-kernel censuses must never plan a
    cartesian product or drop into Python, and the grid unpivots must
    stay literal inlines (no extra shuffle)."""
    # map-only single-pass censuses: fan_out's round-robin spread plus
    # the partial-agg exchange — never a join shuffle
    for name in ("q_filter_attribution", "q_context_fit"):
        p = prof(spark, name)
        assert p["exchanges"] <= 2, name
        assert "SortMergeJoin" not in p and "CartesianProduct" not in p, name
        assert p.get("BatchEvalPython", 0) == 0, name

    # audit-slice grid ops: jp is checkpointed, so the visible plan is
    # the grid aggregate alone — same map-only shape
    for name in ("q_lsh_planner",):
        p = prof(spark, name)
        assert p["exchanges"] <= 1, name
        assert "CartesianProduct" not in p, name

    # split balance: cell-table re-aggregates ride broadcast joins —
    # a shuffle join here would mean Catalyst lost the tiny-side hint
    p = prof(spark, "q_split_balance")
    assert p.get("BroadcastHashJoin", 0) >= 2
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p

    # minhash-kernel censuses: the banded pair join may sort-merge,
    # but nothing may plan a cartesian product or per-row Python
    for name in ("q_dedup_bias", "q_dedup_source_census",
                 "q_filter_dedup_overlap", "q_minhash_perm_sensitivity"):
        p = prof(spark, name)
        assert "CartesianProduct" not in p, name
        assert p.get("BatchEvalPython", 0) == 0, name
        assert p.get("BroadcastHashJoin", 0) >= 1, name

    # ivf probe curve: the cosine frame is checkpointed; every grid
    # join downstream must broadcast (the frames are panel/label-sized)
    p = prof(spark, "q_ivf_probe_curve")
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p.get("BroadcastHashJoin", 0) >= 2


def test_round12_shapes(spark):
    """Pin the scale claims of the round-12 depth ops."""
    # session-quality census: the sessionize windows stay partitioned
    # by user_id and the quantile rank windows run over histogram-sized
    # frames partitioned by entry_type — NEVER a single-partition
    # window (the canonical 100 TB killer), never Python, never a
    # cartesian; the final census joins are tiny-side broadcasts
    p = prof(spark, "q_session_quality")
    assert p["single_partition"] == 0
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p.get("BroadcastHashJoin", 0) >= 2
    assert p.get("Window", 0) >= 3  # sessionize + 2 histogram cum/tot pairs

    # pcap flow features: ONE Arrow-batched decode (the pcap data
    # source scan, not a per-row UDF), ONE shuffle total — the lag
    # window's 5-tuple exchange, which the flow aggregate reuses via
    # the subset rule (a second decode or a join-back would double the
    # scan at 100 TB)
    p = prof(spark, "q_pcap_flow_stats")
    assert p["single_partition"] == 0
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p.get("BatchScan", 0) == 1  # decode runs once
    assert "MapInPandas" not in p
    assert p.get("Window", 0) == 1
    assert p["exchanges"] == 1
    assert p.get("HashAggregate", 0) == 2  # partial+final on the window's keys


def test_session_transitions_checkpoint_bounds_plan(spark):
    """The transition census feeds three consumers off a
    localCheckpointed |event_types|²-row frame: the visible plan must
    be census-sized (≤3 exchanges), with the corpus-scale sessionize
    pipeline run once at checkpoint time — and never a cartesian,
    row-Python, or single-partition window."""
    p = prof(spark, "q_session_transitions")
    assert p["exchanges"] <= 3
    assert p["single_partition"] == 0
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0


def test_fulfillment_latency_shapes(spark):
    """lineitem ⋈ orders is deliberately UNHINTED (both sides are
    corpus-scale at 100 TB) — pin the invariants, not the join
    strategy: column pruning must reach both scans, the quantile
    windows run over the histogram (never single-partition), and
    exchange reuse keeps the two census branches off a double join."""
    p = prof(spark, "q_fulfillment_latency")
    assert p["single_partition"] == 0
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p["pushed_filters"] >= 1
    assert p["exchanges"] <= 5  # exchange reuse across the two branches


def test_repeat_cadence_shapes(spark):
    """Orders shuffle ONCE on o_custkey (lag window + per-customer
    count share it via the subset rule); nation broadcasts (true
    bounded dim); the customer join is unhinted. Pin the invariants."""
    p = prof(spark, "q_repeat_cadence")
    assert p["single_partition"] == 0
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p.get("BroadcastHashJoin", 0) >= 1  # nation dim at minimum


def test_pcap_talkers_shapes(spark):
    """The two endpoint roles EXPLODE map-side from one decoded scan —
    the first draft's union-of-selects re-ran the decode kernel per
    branch (PLANS.md showed MapInPandas×2). Pin: ONE decode, one
    Generate, one aggregate exchange, no row-Python."""
    p = prof(spark, "q_pcap_talkers")
    assert p.get("BatchScan", 0) == 1
    assert "MapInPandas" not in p
    assert p.get("Generate", 0) == 1
    assert p.get("BatchEvalPython", 0) == 0
    assert "CartesianProduct" not in p


def test_winnowing_band_shapes(spark):
    """Band-limited pair-gen must stay candidate-bounded: no
    cartesian, no row-Python, the verify join is a keyed join on the
    band column (never an all-pairs print join), and the row_number
    cap runs on the |reps|-sized banded frame."""
    p = prof(spark, "q_winnowing_band")
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p.get("Window", 0) >= 1  # the per-band cap


def test_supplier_fulfillment_shapes(spark):
    """The plan chains BOTH canonical big-big join shapes (lineitem ⋈
    orders on orderkey, then ⋈ supplier on suppkey) — both keyed and
    UNHINTED (AQE decides at bench scale; at 100 TB both shuffle);
    nation is the only hinted broadcast. Pin the invariants: pruning
    reaches the scans, quantile windows ride the histogram (no
    single-partition window), exchange reuse bounds the two census
    branches."""
    p = prof(spark, "q_supplier_fulfillment")
    assert p["single_partition"] == 0
    assert "CartesianProduct" not in p
    assert p.get("BatchEvalPython", 0) == 0
    assert p["pushed_filters"] >= 1
    assert p["exchanges"] <= 7  # 2 join keys + census/histogram branches


def test_skew_planner_shapes(spark):
    """Seven partial+final key-count aggregates reducing to 1-row
    stats: no key list is ever collected or broadcast as data (the
    1-row stat frames are the only broadcasts), no Python. The
    SinglePartition exchanges are exclusively the global 1-row stat
    reductions (t/h/final per branch — group-count input, one output
    row, the q_balanced_sample scalar pattern), never a data-scale
    sort: bounded at 3 per audited key."""
    p = prof(spark, "q_skew_planner")
    assert p["single_partition"] <= 3 * 7
    assert p.get("BatchEvalPython", 0) == 0
    assert p.get("HashAggregate", 0) >= 14  # partial+final per (table, key)
