"""Streaming semantics: micro-batch-count invariance.

The defining guarantee of incremental execution: the result of a
windowed aggregation must not depend on how the stream is chopped
into micro-batches. We split events into 4 files, stream them one
file per trigger (4 micro-batches), and require the same result as
the single-batch run and as the batch GROUP BY. Every wait for a
streaming run is bounded.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pcap_to_parquet_spark.sources.tables import (
    events_raw_schema,
    load_table,
    normalize_event_ts,
)
from pcap_to_parquet_spark.streaming import stream_queries
from pcap_to_parquet_spark.streaming.stream_queries import await_stream, run_to_memory
from tests.conftest import SF0001
import pytest


@pytest.mark.slow  # >=5s
def test_tumbling_agg_microbatch_invariance(spark, tmp_path):
    # stage events as 4 parquet files (4 triggers at maxFilesPerTrigger=1)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(events_raw_schema(SF0001)).parquet(f"{SF0001}/events.parquet")
    d = str(tmp_path / "events_multi")
    raw.repartition(4).write.parquet(d)

    def agg_of(stream_df):
        e = normalize_event_ts(stream_df)
        return (
            e.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "10 minutes"), "event_type")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.round(F.sum("value"), 4).alias("total_value"),
            )
            .select(
                F.col("window.start").alias("window_start"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    chopped = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    whole = spark.readStream.schema(raw.schema).parquet(d)

    result_chopped = {tuple(r) for r in run_to_memory(agg_of(chopped), "complete").collect()}
    result_whole = {tuple(r) for r in run_to_memory(agg_of(whole), "complete").collect()}
    assert result_chopped == result_whole

    batch = load_table(spark, SF0001, "events")
    result_batch = {
        tuple(r)
        for r in batch.groupBy(
            F.window("ts", "10 minutes").getField("start").alias("window_start"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .collect()
    }
    assert result_chopped == result_batch


def test_stream_dedup_microbatch_invariance(spark, tmp_path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(events_raw_schema(SF0001)).parquet(f"{SF0001}/events.parquet")
    d = str(tmp_path / "events_multi2")
    raw.repartition(3).write.parquet(d)

    def dedup_of(stream_df):
        e = normalize_event_ts(stream_df)
        return (
            e.withWatermark("ts", "1 hour")
            .dropDuplicatesWithinWatermark(["user_id", "event_type"])
            .select("user_id", "event_type")
        )

    chopped = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d)
    )
    got = {tuple(r) for r in run_to_memory(dedup_of(chopped), "append").collect()}
    exp = {
        tuple(r)
        for r in spark.read.schema(raw.schema)
        .parquet(d)
        .select("user_id", "event_type")
        .distinct()
        .collect()
    }
    assert got == exp


@pytest.mark.slow  # >=5s
def test_stream_ewma_ordered_multibatch_matches_single(spark, tmp_path):
    """Chronologically chopped ingestion (the event-log layout the
    operator documents) must leave the per-key EWMA recursion
    unchanged: 4 time-range files streamed one per trigger == the
    single-batch run. Files are written sequentially so modification
    times make the file source replay them in time order."""
    import time as _time

    from pcap_to_parquet_spark.streaming.stream_queries import ewma_stateful

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.read.schema(events_raw_schema(SF0001)).parquet(
        f"{SF0001}/events.parquet"
    )
    from pyspark.sql import Window

    w = Window.orderBy("ts", "event_id")
    ranked = raw.withColumn("_chunk", F.ntile(4).over(w))
    d = str(tmp_path / "events_by_time")
    for i in range(1, 5):
        part = ranked.filter(F.col("_chunk") == i).drop("_chunk")
        part.coalesce(1).write.parquet(f"{d}/chunk={i}")
        _time.sleep(1.1)  # distinct mtimes -> deterministic replay order

    def run(stream_df):
        e = normalize_event_ts(stream_df)
        rows = run_to_memory(ewma_stateful(e), "update").collect()
        # update-mode memory sink keeps every micro-batch's emission;
        # the operator's contract is each key's LATEST state
        latest = {}
        for r in rows:
            if r.user_id not in latest or r.n_events > latest[r.user_id].n_events:
                latest[r.user_id] = r
        return {tuple(r) for r in latest.values()}

    chopped = (
        spark.readStream.schema(raw.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    whole = (
        spark.readStream.schema(raw.schema)
        .option("recursiveFileLookup", "true")
        .parquet(d)
    )
    assert run(chopped) == run(whole)


class _StuckQuery:
    """A streaming query stand-in that never terminates."""

    def __init__(self):
        self.waits = []
        self.stopped = False

    def awaitTermination(self, timeout=None):
        self.waits.append(timeout)
        return False

    def stop(self):
        self.stopped = True


def test_await_stream_stops_and_raises_at_its_bound():
    q = _StuckQuery()
    with pytest.raises(TimeoutError):
        await_stream(q)
    assert q.waits == [stream_queries.STREAM_WAIT_S]
    assert q.stopped
