"""Salted and bucketed joins: result parity + physical-plan shape."""

from __future__ import annotations

import re

from pyspark.sql import functions as F

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES
from pcap_to_parquet_spark.sources import load_tables
from tests.conftest import SF0001
import pytest


def test_salted_join_matches_plain(spark):
    salted = {
        r.s_name: (r.n_items, r.total_qty)
        for r in QUERIES["q_salted_join"](spark, SF0001).collect()
    }
    li, s = load_tables(spark, SF0001, "lineitem", "supplier")
    plain = {
        r.s_name: (r.n_items, r.total_qty)
        for r in li.join(s, li.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
        .collect()
    }
    assert salted == plain


def test_salted_join_under_real_skew(spark):
    """One hot key carrying 100× the median volume: salting must both
    spread it (every salt bucket populated for the hot key) and return
    exactly the plain join's aggregates."""
    from pyspark.sql import functions as Fn

    from pcap_to_parquet_spark.operators.scale_patterns import SALT_BUCKETS

    hot = spark.range(20_000).select(
        Fn.lit(7).alias("k"), (Fn.col("id") % 100).alias("v")
    )
    cold = spark.range(2_000).select(
        (Fn.col("id") % 50 + 100).alias("k"), Fn.lit(1).alias("v")
    )
    fact = hot.union(cold)
    dim = spark.range(200).select(
        Fn.col("id").alias("k"), Fn.concat(Fn.lit("d"), Fn.col("id")).alias("name")
    )

    salted_fact = fact.withColumn(
        "salt", Fn.pmod(Fn.xxhash64("k", "v", Fn.monotonically_increasing_id()), Fn.lit(SALT_BUCKETS))
    )
    salted_dim = dim.withColumn(
        "salt", Fn.explode(Fn.array(*[Fn.lit(i) for i in range(SALT_BUCKETS)]))
    )
    got = {
        (r.name, r.n, r.s)
        for r in salted_fact.join(
            salted_dim,
            (salted_fact.k == salted_dim.k) & (salted_fact.salt == salted_dim.salt),
        )
        .groupBy("name")
        .agg(Fn.count(Fn.lit(1)).alias("n"), Fn.sum("v").alias("s"))
        .collect()
    }
    want = {
        (r.name, r.n, r.s)
        for r in fact.join(dim, "k")
        .groupBy("name")
        .agg(Fn.count(Fn.lit(1)).alias("n"), Fn.sum("v").alias("s"))
        .collect()
    }
    assert got == want
    # the hot key's rows really spread across all salt buckets
    spread = (
        salted_fact.filter("k = 7").select("salt").distinct().count()
    )
    assert spread == SALT_BUCKETS


def test_window_dist_matches_builtin_window(spark):
    """The distributed closed-form ntile/percent_rank/cume_dist must
    equal Spark's own single-partition window built-ins row-for-row —
    cross-engine oracle parity alone could hide a shared misreading of
    NTILE's front-loaded remainder rule."""
    from pyspark.sql import Window

    q = QUERIES["q_window_dist"](spark, SF0001)
    o = load_tables(spark, SF0001, "orders")[0]
    w = Window.orderBy("o_totalprice", "o_orderkey")
    ref = o.select(
        "o_orderkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
    )
    got = {r.o_orderkey: (r.quartile, r.pct_rank, r.cume) for r in q.collect()}
    want = {r.o_orderkey: (r.quartile, r.pct_rank, r.cume) for r in ref.collect()}
    assert got == want


def test_two_stage_distinct_null_semantics(spark):
    """NULL user_ids must not count as users (COUNT DISTINCT ignores
    NULL) but must not drop their event_type group either."""
    from pcap_to_parquet_spark.operators import scale_patterns as sp

    df = spark.createDataFrame(
        [("a", 1), ("a", 1), ("a", None), ("b", None)],
        "event_type string, user_id long",
    )
    pairs = df.select("event_type", "user_id", (F.col("user_id") % 10).alias("cohort"))
    stage1 = pairs.groupBy("event_type", "user_id").agg(F.first("cohort").alias("cohort"))
    got = {
        r.event_type: (r.n_users, r.n_cohorts)
        for r in stage1.groupBy("event_type")
        .agg(
            F.count(F.col("user_id")).alias("n_users"),
            F.countDistinct("cohort").alias("n_cohorts"),
        )
        .collect()
    }
    assert got == {"a": (1, 1), "b": (0, 0)}  # SQL COUNT(DISTINCT) semantics
    assert sp  # imported for provenance: mirrors two_stage_distinct's aggregation


def test_bucketed_join_no_join_shuffle(spark):
    df = QUERIES["q_bucketed_join"](spark, SF0001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    # the only exchange is the post-aggregation one on c_mktsegment;
    # the join itself reads co-located buckets shuffle-free
    assert len(re.findall(r"Exchange", plan)) == 1
    assert df.count() > 0


@pytest.mark.slow  # >=5s
def test_aqe_skew_split_fires_on_planted_skew(spark):
    """Close the skew loop (round 13): q_skew_planner MEASURES skew;
    this pins the REMEDIATION it recommends — on a planted hot key
    that trips the planner's own hot test, AQE's OptimizeSkewedJoin
    must actually rewrite the sort-merge join (skew=true in the final
    adaptive plan) and the split must not change the result. Census →
    decision → verified plan, one tested path (next to q_salted_join,
    the manual alternative for engines/joins AQE can't split)."""
    from pcap_to_parquet_spark.operators.scale_patterns import _SKEW_HOT_FACTOR

    confs = {
        # drop the skew thresholds to test scale (defaults target
        # 256 MB partitions); keep the FACTOR semantics real
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "32k",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16k",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        # force the shuffle join path AQE's skew rule applies to
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.shuffle.partitions": "8",
    }
    old = {}
    for k in confs:
        try:
            old[k] = spark.conf.get(k)
        except Exception:  # noqa: BLE001 - unset key
            old[k] = None
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # payload must be INCOMPRESSIBLE: AQE measures the skewed
        # partition's COMPRESSED shuffle bytes, and a constant string
        # lz4-crushes below any threshold (the debugging lesson of
        # this pin) — sha2(id) keeps the hot partition's bytes honest
        fact = spark.range(60_000).select(
            F.when(F.col("id") % 10 < 9, F.lit(7))
            .otherwise(F.col("id") % 997)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        dim = spark.range(997).select(
            F.col("id").alias("k"), F.concat(F.lit("d"), F.col("id")).alias("name")
        )
        # the planted key trips q_skew_planner's own hot test:
        # cnt > (factor * n_rows) div n_keys
        stats = fact.groupBy("k").count().agg(
            F.sum("count").alias("n_rows"),
            F.count(F.lit(1)).alias("n_keys"),
            F.max("count").alias("max_cnt"),
        ).collect()[0]
        assert stats.max_cnt > (_SKEW_HOT_FACTOR * stats.n_rows) // stats.n_keys

        def census(df):  # max(payload) keeps the fat column un-pruned
            return df.join(dim, "k").groupBy("name").agg(
                F.count(F.lit(1)).alias("n"), F.max("payload").alias("mp")
            )

        joined = census(fact)
        rows = {(r["name"], r["n"]) for r in joined.collect()}
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
        assert "AQEShuffleRead skewed" in plan
        # and the rewrite preserved the aggregate exactly: the 54k
        # hot-branch rows all land on d7 (plus its share of the cold
        # modulus), and nothing is dropped or duplicated by the split
        d7 = {n for name, n in rows if name == "d7"}
        assert d7 and min(d7) >= 54_000
        assert sum(n for _, n in rows) == 60_000

        # control: with the skew rule off, the same plan shows no split
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        joined2 = census(fact)
        joined2.collect()
        plan2 = joined2._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" not in plan2
    finally:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
