"""Streaming queries over the events table (file-source streams).

State-size discipline at 100 TB (every operator here is bounded):
watermarks cap window/dedup state to the lateness horizon; session
windows merge in-state per key; ``applyInPandasWithState`` state is
one small struct per user with a processing-time timeout. None of
these plans buffer the unbounded stream.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pcap_to_parquet_spark.operators.behavior import HOLT_ORACLE as _HOLT_ORACLE
from pcap_to_parquet_spark.operators.text_pipeline import DECONTAMINATE_ORACLE
from pcap_to_parquet_spark.operators.sessionize import GAP_SECONDS
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.session import tune
from pcap_to_parquet_spark.sources.tables import (
    events_raw_schema,
    load_table,
    normalize_event_ts,
)

_sink_seq = itertools.count()

# ONE shared session definition across batch and streaming: the gap is
# sessionize.GAP_SECONDS (imported above) so a change there re-derives
# every streaming twin's window AND its oracle; the lateness horizon
# for the session twins is likewise named once here (round-13 ADVICE
# fix — previously hardcoded 1800/600 literals could silently desync
# the batch census from its streaming twin).
SESSION_WATERMARK_SECONDS = 600

# the longest any streaming run here may take: a query still running
# at this bound is stopped and reported, never waited on forever
STREAM_WAIT_S = 180


def _events_stream_dir(sf_dir: str) -> str:
    """The streaming file source lists a *directory*; the testdata
    events table is a single file. Stage a symlink dir per sf_dir
    (idempotent) — at scale this is the landing directory new files
    arrive in."""
    import hashlib
    import os
    import tempfile

    src = os.path.join(sf_dir, "events.parquet")
    tag = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"events_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    return d


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded file-source stream, ts in microseconds.

    One file today; at scale the directory fills continuously and
    ``maxFilesPerTrigger`` paces ingestion per micro-batch.
    """
    tune(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(events_raw_schema(sf_dir))
        .format("parquet")
        .load(_events_stream_dir(sf_dir))
    )
    return normalize_event_ts(raw)


def await_stream(q) -> None:
    """Wait for streaming query ``q`` to terminate, at most
    ``STREAM_WAIT_S``, then stop it. Raises ``TimeoutError`` if ``q``
    was still running at the bound."""
    try:
        if not q.awaitTermination(STREAM_WAIT_S):
            raise TimeoutError(f"streaming query still running after {STREAM_WAIT_S} s")
    finally:
        q.stop()


def run_to_memory(sdf: DataFrame, mode: str) -> DataFrame:
    """Drive a streaming plan to completion (availableNow) via a memory
    sink; returns the materialized result as a batch DataFrame.

    Demo-scale sink only: memory collects to the driver. Production
    uses parquet/Kafka sinks with checkpointing — the *plan* upstream
    of the sink is identical.
    """
    name = f"stream_result_{next(_sink_seq)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    return sdf.sparkSession.table(name)


def run_to_memory_flushed(sdf: DataFrame, mode: str = "append"):
    """run_to_memory for WATERMARK-EVICTING plans over Python data
    sources. availableNow never plans the no-data batch that advances
    the watermark and emits/evicts closed state for those sources
    (measured: the parquet file source gets batch N+1 with 0 input
    rows; a Python DataSourceStreamReader terminates after the last
    data batch, with or without a checkpoint restart). So drive a fast
    processing-time trigger instead and stop deterministically once
    one no-data batch has run the stateful operators — that batch IS
    the flush. Raises after ``STREAM_WAIT_S`` rather than returning a
    silently-incomplete table. Returns (result_df, progress_list) so
    callers can pin state metrics (numRowsRemoved > 0 = eviction).

    The flush batch only counts if a DATA batch (numInputRows > 0)
    committed before it: if the landing dir delivers files across
    several micro-batches (multi-file dirs, slow copies), an
    interleaved no-data batch must not end the loop early and return
    a silently-incomplete table."""
    import time

    name = f"stream_result_{next(_sink_seq)}"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        # 100 ms cadence: the flush batch is the TRIGGER AFTER the last
        # data batch, so the trigger interval is pure dead time between
        # them (500 ms cost ~0.5-1 s of idle wall per stream query;
        # the interval paces the demo harness only — watermark semantics
        # and results are identical at any cadence)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + STREAM_WAIT_S
        while True:
            progress = q.recentProgress
            saw_data = False
            flushed = False
            for p in progress:
                if p["numInputRows"] > 0:
                    saw_data = True
                elif saw_data and p["stateOperators"]:
                    flushed = True
                    break
            if flushed:
                break
            if time.time() > deadline:
                raise TimeoutError(
                    "no-data flush batch never ran; watermark state not emitted"
                )
            time.sleep(0.05)
    finally:
        q.stop()
    return sdf.sparkSession.table(name), list(progress)


# ---------------------------------------------------------------------------
# tumbling window (complete mode → exact batch equivalence)

TUMBLING_ORACLE = """
SELECT epoch_us(time_bucket(INTERVAL 10 MINUTES, ts)) AS window_start,
       event_type,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("q_stream_tumbling", TUMBLING_ORACLE)
def stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute tumbling windows per event_type. Complete output mode
    emits every window, so the streaming result equals the batch
    ``GROUP BY time_bucket`` exactly — the core guarantee of the
    incremental execution model."""
    e = stream_events(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            # epoch-micros BIGINT on both sides: raw timestamps land as
            # datetime64[ns] from Spark but [us] from DuckDB (r1 lesson)
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# sliding window (each event lands in length/slide = 2 windows)

SLIDING_ORACLE = """
WITH starts AS (
    SELECT value, ws
    FROM events,
         LATERAL UNNEST([time_bucket(INTERVAL 5 MINUTES, ts),
                         time_bucket(INTERVAL 5 MINUTES, ts) - INTERVAL 5 MINUTES])
             AS t(ws)
    WHERE ts >= ws AND ts < ws + INTERVAL 10 MINUTES
)
SELECT epoch_us(ws) AS window_start, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM starts
GROUP BY ws
"""


@query("q_stream_sliding", SLIDING_ORACLE)
def stream_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — overlap factor 2. The oracle
    reconstructs the window replication with an UNNEST of both
    candidate starts."""
    e = stream_events(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# watermark + append mode: only watermark-closed windows emit

WATERMARK_APPEND_ORACLE = """
WITH buckets AS (
    SELECT time_bucket(INTERVAL 10 MINUTES, ts) AS window_start, value
    FROM events
),
horizon AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT epoch_us(window_start) AS window_start, COUNT(*) AS n_events
FROM buckets, horizon
WHERE window_start + INTERVAL 10 MINUTES <= wm
GROUP BY 1
"""


@query("q_stream_watermark", WATERMARK_APPEND_ORACLE)
def stream_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-mode tumbling count: a window emits only once the 1-hour
    watermark passes its end, so windows inside the final lateness
    horizon stay open and are withheld — exactly the rows the oracle
    excludes with ``window_end <= max(ts) - 1h``. This is the
    late-data-drop semantics made observable."""
    e = stream_events(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_micros(F.col("window.start")).alias("window_start"), "n_events")
    )
    return run_to_memory(agg, "append")


# ---------------------------------------------------------------------------
# session windows (gap-based, merged in state)


STREAM_SESSION_ORACLE = f"""
WITH flagged AS (
    SELECT user_id, ts, event_id, value,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) < {GAP_SECONDS} * 1000000
                THEN 0 ELSE 1 END AS new_session
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, value,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
    FROM flagged
),
agg AS (
    SELECT user_id, epoch_us(MIN(ts)) AS session_start,
           epoch_us(MAX(ts)) + {GAP_SECONDS} * 1000000 AS session_end,
           COUNT(*) AS n_events, ROUND(SUM(value), 4) AS session_value
    FROM sessions GROUP BY user_id, sid
),
horizon AS (SELECT MAX(epoch_us(ts)) - {SESSION_WATERMARK_SECONDS} * 1000000 AS wm
            FROM events)
SELECT user_id, session_start, n_events, session_value
FROM agg, horizon
WHERE session_end <= wm
ORDER BY user_id, session_start
"""


@query("q_stream_session", STREAM_SESSION_ORACLE)
def stream_session(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (30 min) per user, the streaming twin
    of batch q_session_window. Sessions merge in state as events
    arrive and emit once the watermark passes session_end; sessions
    still open at the final horizon are withheld. The oracle states
    exactly that emission contract in SQL: gap-based islands with the
    native convention (merge on diff < gap, end = last + gap) CLIPPED
    to session_end <= max(ts) - delay — the same two-regime technique
    as q_stream_left_outer's oracle."""
    e = stream_events(spark, sf_dir)
    agg = (
        e.withWatermark("ts", f"{SESSION_WATERMARK_SECONDS} seconds")
        .groupBy(F.session_window("ts", f"{GAP_SECONDS} seconds"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("session_value"),
        )
        .select(
            "user_id",
            F.unix_micros("session_window.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )
    return run_to_memory(agg, "append").orderBy("user_id", "session_start")


# ---------------------------------------------------------------------------
# production sink: parquet files + checkpoint (exactly-once)

PARQUET_SINK_ORACLE = """
WITH buckets AS (
    SELECT time_bucket(INTERVAL 10 MINUTES, ts) AS ws, value FROM events
),
horizon AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
SELECT epoch_us(ws) AS window_start, COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM buckets, horizon
WHERE ws + INTERVAL 10 MINUTES <= wm
GROUP BY ws
"""


@query("q_stream_parquet_sink", PARQUET_SINK_ORACLE)
def stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION sink path: watermarked tumbling aggregation →
    parquet file sink with a checkpoint directory — the exactly-once
    contract (file-sink manifest + WAL offsets) every real deployment
    relies on, where the memory sink used elsewhere is demo-only. The
    query reads the sink's output back; append mode emits exactly the
    watermark-closed windows the oracle computes. Re-running with the
    same checkpoint is a no-op (no new input → no duplicate output) —
    idempotent restart comes free from the checkpoint.

    The checkpoint/output dirs are keyed on (input path, input
    mtime+size, logic version): a checkpoint is only valid for the
    exact input and aggregation it was written by — keying on the path
    alone would silently serve a previous run's output after the data
    or the query logic changed."""
    import os

    e = stream_events(spark, sf_dir)
    agg = (
        e.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "10 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
        .select(
            F.unix_micros(F.col("window.start")).alias("window_start"),
            "n_events",
            "total_value",
        )
    )
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    # v2: ts ingestion became type-dispatched (events_raw_schema) — v1
    # state written while the old LongType schema misread µs files is
    # invalid even though the input mtime key matches
    out, ck = keyed_tmp_dirs("stream_pq", src, "v2-tumbling10m-wm1h", "sink", "ck")
    q = (
        agg.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_stream(q)
    # explicit schema: if the watermarked agg closed zero windows the
    # sink dir holds only _spark_metadata and schema inference would
    # raise — the empty case must return an empty frame, not an error
    return spark.read.schema(
        "window_start bigint, n_events bigint, total_value double"
    ).parquet(out)


# ---------------------------------------------------------------------------
# stream-stream join: purchases matched to prior views within 10 min

STREAM_JOIN_ORACLE = """
SELECT v.event_id AS view_event, p.event_id AS purchase_event, v.user_id,
       epoch_us(p.ts) - epoch_us(v.ts) AS lag_micros
FROM events v
JOIN events p
  ON v.user_id = p.user_id
 AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTES
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


@query("q_stream_stream_join", STREAM_JOIN_ORACLE)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream inner join (self-join of the event stream):
    each purchase pairs with the same user's views from the preceding
    10 minutes — the attribution join.

    State discipline: BOTH sides carry a watermark and the join
    condition bounds event time on BOTH sides, so each side's buffered
    state is capped at watermark + 10 min — the only shape a
    stream-stream join survives at scale with (an unbounded-state join
    never drains). Inner-join emission is match-time, not
    watermark-closure, so with availableNow ingestion the emitted set
    equals the batch join exactly — which is what the oracle checks."""
    e = stream_events(spark, sf_dir)
    views = (
        e.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 10 minutes"
        ),
    ).select(
        "view_event",
        "purchase_event",
        F.col("v_user").alias("user_id"),
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_micros"),
    )
    return run_to_memory(joined, "append")


# ---------------------------------------------------------------------------
# streaming dedup

STREAM_DEDUP_ORACLE = """
SELECT DISTINCT user_id, event_type FROM events
"""


@query("q_stream_dedup", STREAM_DEDUP_ORACLE)
def stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type) with
    ``dropDuplicatesWithinWatermark``: state for a key is dropped once
    the watermark passes it, so unbounded streams keep bounded dedup
    state. Projecting just the key columns makes the emitted set
    deterministic (which *row* survives per key is race-dependent;
    the key set is not)."""
    e = stream_events(spark, sf_dir)
    dd = (
        e.withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(dd, "append")


# ---------------------------------------------------------------------------
# arbitrary stateful op: per-user running profile via applyInPandasWithState

_STATE_SCHEMA = "n long, total double, last_ts long, max_gap long"
_PROFILE_SCHEMA = (
    "user_id long, n_events long, total_value double, max_gap_us long"
)


STREAM_STATEFUL_ORACLE = """
WITH g AS (
    SELECT user_id, value,
           epoch_us(ts) - LAG(epoch_us(ts))
               OVER (PARTITION BY user_id ORDER BY ts) AS gap
    FROM events
)
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value,
       COALESCE(MAX(gap), 0) AS max_gap_us
FROM g GROUP BY user_id
"""


@query("q_stream_stateful", STREAM_STATEFUL_ORACLE)
def stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-user
    running profile — event count, value sum, max inter-event gap —
    kept as one tiny struct per key with a processing-time timeout.
    The generic shape for anything windowless Spark lacks natively
    (CUSUM detectors, dwell-time trackers, per-entity counters).

    Oracle-checkable because update-mode emission under availableNow
    ingestion yields each key's LATEST running profile, which over the
    full history equals the batch lag-window SQL (ties in ts cannot
    change max-gap: equal timestamps difference to zero under any
    tiebreak)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):  # type: ignore[no-untyped-def]
        import pandas as pd

        # max_gap must live IN the state: with multi-batch ingestion the
        # gaps observed by earlier batches would otherwise be lost (the
        # availableNow single-batch path masked this)
        n, total, last_ts, max_gap = (
            state.get if state.exists else (0, 0.0, None, 0)
        )
        ts_all = []
        for pdf in pdfs:
            for ts, val in zip(pdf["ts"], pdf["value"]):
                ts_all.append((ts.value // 1000, float(val)))  # ns → µs
        ts_all.sort()
        prev = last_ts
        for t_us, val in ts_all:
            if prev is not None:
                max_gap = max(max_gap, t_us - prev)
            prev = t_us
            n += 1
            total += val
        state.update((n, round(total, 4), prev, max_gap))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 4)],
                "max_gap_us": [max_gap],
            }
        )

    e = stream_events(spark, sf_dir)
    prof = (
        e.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_PROFILE_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(prof, "update").orderBy("user_id")


# ---------------------------------------------------------------------------
# transformWithStateInPandas (Spark 4.x arbitrary-state API)
#
# Registered only when protobuf is importable: the v2 state API's
# worker protocol needs google.protobuf, which this container lacks
# (environment gate, not an engine limitation — q_stream_stateful
# provides the same capability on the v1 applyInPandasWithState API).


def _has_tws_deps() -> bool:
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stream_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user anomaly counter on the new ``transformWithStateInPandas``
    API (Spark 4.x): a ValueState holds (n_events, value_sum) per user;
    each batch emits the user's running mean and how many events in the
    batch exceeded 2× the mean-so-far. This is the v2 state API the
    v1 ``applyInPandasWithState`` operator (q_stream_stateful) migrates
    to: typed state handles, timers, and TTL-capable state stores."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class AnomalyCounter(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("agg", "n long, total double")

        def handleInputRows(self, key, rows, timerValues):  # type: ignore[no-untyped-def]
            import pandas as pd

            n, total = self._state.get() if self._state.exists() else (0, 0.0)
            batch_anoms = 0
            for pdf in rows:
                for v in pdf["value"]:
                    mean = total / n if n else float(v)
                    if n and float(v) > 2 * mean:
                        batch_anoms += 1
                    n += 1
                    total += float(v)
            self._state.update((n, round(total, 4)))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "mean_value": [round(total / n, 4) if n else 0.0],
                    "n_anomalies": [batch_anoms],
                }
            )

        def close(self) -> None:
            pass

    e = stream_events(spark, sf_dir)
    out = (
        e.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .transformWithStateInPandas(
            AnomalyCounter(),
            outputStructType="user_id long, n_events long, mean_value double, n_anomalies long",
            outputMode="Update",
            timeMode="None",
        )
    )
    return run_to_memory(out, "update").orderBy("user_id")


if _has_tws_deps():
    query("q_stream_tws")(stream_tws)


# ---------------------------------------------------------------------------
# foreachBatch upsert: stream -> MERGE into a keyed state table

UPSERT_ORACLE = """
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value,
       MAX(epoch_us(ts)) AS last_seen
FROM events
GROUP BY user_id
"""


@query("q_stream_upsert", UPSERT_ORACLE)
def stream_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``foreachBatch`` production pattern: a streaming aggregation
    whose per-batch DELTA is MERGED into a keyed parquet state table —
    how Structured Streaming maintains an upsert-able serving table on
    a sink with no native streaming upsert (plain parquet, JDBC, …).

    Inside foreachBatch the micro-batch is a BATCH DataFrame, so the
    merge is the engine's own composition: read current state, full
    outer join on the key, combine aggregates (counts/sums add; for
    idempotent replay a real deployment keys on batch_id — exactly-once
    here comes from the checkpointed availableNow run). Update-mode
    emission means each batch carries only TOUCHED keys: state IO is
    O(churn), not O(keys), which is what makes the pattern hold when
    the key space is 100 TB-large but per-batch churn is small.

    The oracle is the batch groupBy — streamed-merged state must equal
    the one-shot aggregation exactly."""
    import os

    from pcap_to_parquet_spark.sources import keyed_tmp_dirs

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    # v2: same ts-ingestion bump as stream_parquet_sink
    state_dir, ck = keyed_tmp_dirs("stream_upsert", src, "v2-per-user", "state", "ck")
    state_schema = (
        "user_id bigint, n_events bigint, total_value double, last_seen bigint"
    )

    e = stream_events(spark, sf_dir)
    delta = (
        e.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.max(F.unix_micros("ts")).alias("last_seen"),
        )
    )

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        sp = batch.sparkSession
        cur = sp.read.schema(state_schema).parquet(state_dir)
        merged = (
            cur.withColumnRenamed("n_events", "cur_n")
            .withColumnRenamed("total_value", "cur_v")
            .withColumnRenamed("last_seen", "cur_seen")
            .join(batch, "user_id", "full_outer")
            .select(
                "user_id",
                (F.coalesce("cur_n", F.lit(0)) + F.coalesce("n_events", F.lit(0))).alias(
                    "n_events"
                ),
                (
                    F.coalesce("cur_v", F.lit(0.0)) + F.coalesce("total_value", F.lit(0.0))
                ).alias("total_value"),
                F.greatest(
                    F.coalesce("cur_seen", F.lit(0)), F.coalesce("last_seen", F.lit(0))
                ).alias("last_seen"),
            )
        )
        # parquet has no in-place MERGE: write the new state beside the
        # old, then swap (a table format with ACID MERGE replaces this
        # dance in production)
        tmp_out = state_dir + f"_b{batch_id}"
        merged.write.mode("overwrite").parquet(tmp_out)
        import shutil

        shutil.rmtree(state_dir, ignore_errors=True)
        os.replace(tmp_out, state_dir)

    if not os.path.exists(os.path.join(state_dir, "_SUCCESS")):
        os.makedirs(state_dir, exist_ok=True)
        spark.createDataFrame([], state_schema).write.mode("overwrite").parquet(
            state_dir
        )
        q = (
            delta.writeStream.foreachBatch(merge_batch)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        await_stream(q)
    state = spark.read.schema(state_schema).parquet(state_dir)
    return state.select(
        "user_id", "n_events", F.round("total_value", 4).alias("total_value"), "last_seen"
    )


# ---------------------------------------------------------------------------
# stream-static join: live events enriched against a batch dimension

STREAM_STATIC_ORACLE = """
WITH dim AS (
    SELECT user_id, COUNT(*) AS n_purch FROM events
    WHERE event_type = 'purchase' GROUP BY user_id
),
tiers AS (
    SELECT user_id,
           CASE WHEN n_purch >= 15 THEN 'high' ELSE 'low' END AS tier
    FROM dim
)
SELECT t.tier, COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS total_value
FROM events e JOIN tiers t ON e.user_id = t.user_id
WHERE e.event_type = 'click'
GROUP BY t.tier
"""


@query("q_stream_static_join", STREAM_STATIC_ORACLE)
def stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the click stream joined to a BATCH
    user-tier dimension (derived from purchase history), then
    aggregated per tier — the standard serving-layer shape where a
    slowly-rebuilt dimension enriches a live stream.

    The static side is a plain DataFrame: Spark re-plans it per
    micro-batch (picking up dimension rebuilds between batches) and,
    being |users|-sized, broadcasts it — the join is stateless and
    map-side, nothing buffers in state. Only the final per-tier
    aggregate keeps state, and its key space is 2 rows. Oracle = the
    same join in batch."""
    tiers = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_purch"))
        .select(
            "user_id",
            F.when(F.col("n_purch") >= 15, "high").otherwise("low").alias("tier"),
        )
    )
    clicks = stream_events(spark, sf_dir).filter(F.col("event_type") == "click")
    enriched = clicks.join(F.broadcast(tiers), "user_id")
    agg = enriched.groupBy("tier").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )
    return run_to_memory(agg, "complete")


# ---------------------------------------------------------------------------
# stream-stream LEFT OUTER join: unmatched rows emit at state eviction

STREAM_LEFT_OUTER_ORACLE = """
WITH v AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'
),
p AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
),
m AS (
    SELECT v.event_id AS view_event, v.user_id,
           p.event_id AS purchase_event,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_micros
    FROM v JOIN p
      ON v.user_id = p.user_id
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 10 MINUTES
),
h AS (
    -- the GLOBAL watermark is the minimum over every watermarked
    -- input: each side advances from its own max event time, and the
    -- engine holds the join's state to the slower of the two
    SELECT LEAST((SELECT MAX(ts) FROM v), (SELECT MAX(ts) FROM p))
           AS mx
)
SELECT view_event, user_id, purchase_event, lag_micros FROM m
UNION ALL
SELECT v.event_id AS view_event, v.user_id,
       CAST(NULL AS BIGINT) AS purchase_event,
       CAST(NULL AS BIGINT) AS lag_micros
FROM v, h
WHERE v.event_id NOT IN (SELECT view_event FROM m)
  AND v.ts + INTERVAL 10 MINUTES <= mx - INTERVAL 1 HOUR
"""


@query("q_stream_left_outer", STREAM_LEFT_OUTER_ORACLE)
def stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER attribution: views pair with same-user
    purchases in the next 10 minutes; views that never match emit with
    NULLs — but only once their join state is EVICTED (watermark past
    view_ts + 10 min), because until then a matching purchase could
    still arrive. That two-regime emission — matches at match time,
    non-matches at eviction time — is the semantic difference from the
    inner join, and the oracle mirrors it exactly: the batch outer
    join's unmatched rows clipped to the final watermark horizon.

    Same bounded-state discipline as the inner join: both sides
    watermarked, event time bounded on both sides, state capped at
    watermark + 10 min per side."""
    e = stream_events(spark, sf_dir)
    views = (
        e.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_event"),
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
        )
        .withWatermark("v_ts", "1 hour")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_event"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = views.join(
        purchases,
        F.expr(
            "v_user = p_user AND p_ts >= v_ts AND p_ts <= v_ts + interval 10 minutes"
        ),
        "left_outer",
    ).select(
        "view_event",
        F.col("v_user").alias("user_id"),
        "purchase_event",
        (F.unix_micros("p_ts") - F.unix_micros("v_ts")).alias("lag_micros"),
    )
    return run_to_memory(joined, "append")


# ---------------------------------------------------------------------------
# chained stream-stream interval joins: the streaming conversion funnel

STREAM_FUNNEL_ORACLE = """
SELECT e1.user_id,
       epoch_us(e1.ts) AS v_us,
       epoch_us(e2.ts) AS c_us,
       epoch_us(e3.ts) AS p_us
FROM events e1
JOIN events e2
  ON e2.user_id = e1.user_id AND e2.event_type = 'click'
 AND e2.ts > e1.ts AND e2.ts <= e1.ts + INTERVAL 24 HOURS
JOIN events e3
  ON e3.user_id = e2.user_id AND e3.event_type = 'purchase'
 AND e3.ts > e2.ts AND e3.ts <= e2.ts + INTERVAL 24 HOURS
WHERE e1.event_type = 'view'
"""


@query("q_stream_funnel", STREAM_FUNNEL_ORACLE)
def stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-bounded conversion funnel as CHAINED stream-stream
    interval joins — view -> click within 24 h -> purchase within
    24 h, all three sides unbounded streams. Spark 4 allows multiple
    stateful operators in one append query, so the first join's output
    (with its propagated watermark) feeds the second join directly; no
    intermediate sink.

    State discipline: every side is watermarked and every join bounds
    event time in BOTH directions, so buffered state per join is
    watermark + 24 h of events, independent of stream length. Inner
    joins emit at match time, so availableNow ingestion reproduces the
    batch three-way join exactly — q_funnel_bounded's batch semantics,
    emitted as chains instead of stage counts."""
    e = stream_events(spark, sf_dir)
    views = (
        e.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "1 hour")
    )
    purchases = (
        e.filter(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    vc = views.join(
        clicks,
        F.expr(
            "v_user = c_user AND c_ts > v_ts AND c_ts <= v_ts + interval 24 hours"
        ),
        # a join output may carry only ONE event-time column into the next
        # stateful operator: demote v_ts to a plain epoch-micros long and
        # let c_ts (the column the next interval join bounds) keep the
        # watermark
    ).select(
        F.col("c_user"),
        F.col("c_ts"),
        F.unix_micros("v_ts").alias("v_us"),
    )
    vcp = vc.join(
        purchases,
        F.expr(
            "c_user = p_user AND p_ts > c_ts AND p_ts <= c_ts + interval 24 hours"
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "v_us",
        F.unix_micros("c_ts").alias("c_us"),
        F.unix_micros("p_ts").alias("p_us"),
    )
    return run_to_memory(vcp, "append")


# ---------------------------------------------------------------------------
# streaming windowed top-k: continuous aggregation + serving-side rank

STREAM_TOPK_ORACLE = """
WITH c AS (
    SELECT epoch_us(time_bucket(INTERVAL 1 DAY, ts)) AS window_start,
           event_type, COUNT(*) AS n
    FROM events GROUP BY 1, 2
)
SELECT window_start, event_type, n, rnk FROM (
    SELECT c.*, ROW_NUMBER() OVER (
        PARTITION BY window_start ORDER BY n DESC, event_type) AS rnk
    FROM c
) WHERE rnk <= 2
"""


@query("q_stream_topk", STREAM_TOPK_ORACLE)
def stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now: top-2 event types per daily window over a stream.
    Ranking is not a streaming-supported operator (a rank can change
    retroactively within an open window), so this is the canonical
    TWO-STAGE shape every streaming leaderboard uses: the unbounded
    part is a plain windowed count (complete mode here; update mode +
    an upsert sink in production), and the rank runs on the compact
    materialized aggregate — window x event_type rows, not raw events.
    The serving query's input is bounded by cardinality, so the rank
    window is never the scale problem the raw stream would be."""
    from pyspark.sql import Window as W

    e = stream_events(spark, sf_dir)
    counts = e.groupBy(
        F.window("ts", "1 day").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    agg = run_to_memory(
        counts.select(
            F.unix_micros(F.col("w.start")).alias("window_start"), "event_type", "n"
        ),
        "complete",
    )
    rnk = F.row_number().over(
        W.partitionBy("window_start").orderBy(F.col("n").desc(), "event_type")
    )
    return agg.withColumn("rnk", rnk.cast("long")).filter(F.col("rnk") <= 2)


# ---------------------------------------------------------------------------
# streaming KMV distinct sketch: bounded custom state, exact oracle

_SKMV_K = 64
_SKMV_NUM = float((_SKMV_K - 1) * 4294967296)

STREAM_KMV_ORACLE = f"""
WITH h AS (
    SELECT DISTINCT event_type,
           ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8))::BIGINT AS uh
    FROM events
),
rk AS (
    SELECT event_type, uh,
           ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY uh) AS rn
    FROM h
),
sk AS (SELECT * FROM rk WHERE rn <= {_SKMV_K}),
per AS (
    SELECT event_type, MAX(rn) AS k_used,
           MAX(CASE WHEN rn = {_SKMV_K} THEN uh END) AS kth
    FROM sk GROUP BY event_type
)
SELECT event_type AS key,
       CASE WHEN k_used < {_SKMV_K} THEN CAST(k_used AS DOUBLE)
            ELSE ROUND({_SKMV_NUM} / kth, 2) END AS est_distinct
FROM per
"""

_SKMV_OUT = StructType(
    [StructField("key", StringType()), StructField("est_distinct", DoubleType())]
)
from pyspark.sql.types import ArrayType  # noqa: E402

_SKMV_STATE = StructType([StructField("mins", ArrayType(LongType()))])


@query("q_stream_kmv", STREAM_KMV_ORACLE)
def stream_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count sketching ON THE STREAM: per-event-type KMV
    state — the k smallest distinct 32-bit md5 hashes seen so far —
    maintained in ``applyInPandasWithState``. This is what a
    continuous cardinality monitor actually keeps per key: O(k) state
    forever, independent of stream length, and every micro-batch can
    emit a current estimate.

    Because KMV is deterministic (unlike HLL's implementation-defined
    registers), the streaming state after availableNow ingestion
    equals the batch sketch EXACTLY, so the emitted estimates are
    value-checked against the same SQL oracle as q_kmv_distinct —
    a custom stateful streaming operator with a full value-hash
    correctness gate, not a rows-only waiver."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):  # type: ignore[no-untyped-def]
        import pandas as pd

        (mins,) = state.get if state.exists else ([],)
        cur = set(mins)
        for pdf in pdfs:
            cur.update(int(v) for v in pdf["uh"])
        best = sorted(cur)[:_SKMV_K]
        state.update((best,))
        if len(best) < _SKMV_K:
            est = float(len(best))
        else:
            est = round(_SKMV_NUM / best[-1], 2)
        yield pd.DataFrame({"key": [key[0]], "est_distinct": [est]})

    e = stream_events(spark, sf_dir)
    hashed = e.select(
        "event_type",
        F.conv(F.substring(F.md5(F.col("user_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        .alias("uh"),
    )
    sketched = hashed.groupBy("event_type").applyInPandasWithState(
        update,
        outputStructType=_SKMV_OUT,
        stateStructType=_SKMV_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(sketched, "update")


# ---------------------------------------------------------------------------
# streaming decontamination: incoming training docs vs a static
# held-out shingle set


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents as an unbounded file-source stream (same landing-dir
    mechanics as stream_events)."""
    import hashlib
    import os
    import tempfile

    tune(spark)
    src = os.path.join(sf_dir, "documents.parquet")
    tag = hashlib.md5(os.path.abspath(src).encode()).hexdigest()[:12]
    d = os.path.join(tempfile.gettempdir(), f"docs_stream_{tag}")
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "documents.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    schema = load_table(spark, sf_dir, "documents").schema
    return spark.readStream.schema(schema).format("parquet").load(d)


# the batch q_decontaminate's oracle: both ops flag the same train docs
@query("q_stream_decontaminate", DECONTAMINATE_ORACLE)
def stream_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination ON THE INGEST PATH: as training documents
    stream in, each is checked against a STATIC held-out benchmark
    shingle set (stream-static join — the static side is planned fresh
    per micro-batch, no stream state for it) and emits how many
    held-out 3-grams it shares. This is the firehose version of
    q_decontaminate: the batch pipeline quarantines after the fact,
    this one flags contaminated documents before they land in the
    training mix.

    Per-doc shingle dedup happens MAP-SIDE (array_distinct before the
    explode), so the only streaming state is the per-doc running count
    in update mode — bounded by docs in flight, not by corpus size."""
    from pcap_to_parquet_spark.functions.text import shingles, whitespace_tokens

    gate = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10)
        .cast("int")
        % 100
    )
    batch_docs = load_table(spark, sf_dir, "documents")
    heldout_sh = (
        batch_docs.filter(gate >= 80)
        .select(whitespace_tokens("text").alias("toks"))
        .select(F.explode(shingles("toks", 3)).alias("sh"))
        .distinct()
    )
    train = stream_documents(spark, sf_dir).filter(gate < 80)
    train_sh = train.select(
        "doc_id", whitespace_tokens("text").alias("toks")
    ).select("doc_id", F.explode(F.array_distinct(shingles("toks", 3))).alias("sh"))
    shared = train_sh.join(heldout_sh, "sh").groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shared_shingles")
    )
    return run_to_memory(shared, "update")


# ---------------------------------------------------------------------------
# streaming quality-gate census: q_filter_attribution on the ingest path


def _stream_filter_attr_oracle() -> str:
    from pcap_to_parquet_spark.operators.llm import FILTER_ATTRIBUTION_ORACLE

    return FILTER_ATTRIBUTION_ORACLE


@query("q_stream_filter_attribution", _stream_filter_attr_oracle())
def stream_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate attribution ON THE INGEST PATH — q_filter_
    attribution's streaming twin (same oracle, byte-identical output):
    as documents stream in, the four committed gate flags are computed
    map-side per micro-batch and folded into ONE complete-mode global
    aggregate (9 running sums — the whole streaming state is a single
    row, bounded forever); the 4-rule unpivot runs batch-side after
    the sink. This is how a curation team watches its filters drift
    DURING ingestion — a rule whose fail_share climbs mid-crawl is
    flagging an extraction bug while the crawl is still running,
    instead of in next week's batch census.

    Exactly-once math: sums are associative, so availableNow
    micro-batching reproduces the batch numbers exactly — the driver
    hash-checks this stream against the same DuckDB oracle as the
    batch op."""
    from pcap_to_parquet_spark.operators.llm import (
        _fa_flag_cols,
        _fa_tot,
        _fa_unpivot,
    )

    f_len, f_dens, f_punct, f_stop = _fa_flag_cols()
    flags = stream_documents(spark, sf_dir).select(
        f_len.alias("f_len"),
        f_dens.alias("f_dens"),
        f_punct.alias("f_punct"),
        f_stop.alias("f_stop"),
    )
    tot = run_to_memory(_fa_tot(flags), "complete")
    return _fa_unpivot(tot)


# ---------------------------------------------------------------------------
# streaming EWMA: O(1)-state recursion, the stateful twin of q_ewma

_SEWMA_ALPHA = 0.2

STREAM_EWMA_ORACLE = f"""
WITH ordered AS (
    SELECT user_id,
           list(value ORDER BY ts, event_id) AS arr
    FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(len(arr) AS BIGINT) AS n_events,
       ROUND(
           arr[1] * pow({1 - _SEWMA_ALPHA}, len(arr) - 1)
           + list_sum(list_transform(arr, (x, i) ->
               CASE WHEN i = 1 THEN 0.0
                    ELSE {_SEWMA_ALPHA} * x * pow({1 - _SEWMA_ALPHA}, len(arr) - i)
               END)),
           4) AS ewma
FROM ordered
"""


@query("q_stream_ewma", STREAM_EWMA_ORACLE)
def stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA as a STATEFUL STREAMING operator: the textbook
    recursion s = αy + (1-α)s that q_ewma's docstring rules out for
    batch (sequential per key, overflow-prone closed form) is exactly
    what ``applyInPandasWithState`` is for — the state is ONE double
    per key forever, the canonical O(1)-state metric (latency EMA,
    rate estimators, per-entity health scores).

    Update-mode emission yields each key's latest smoothed value;
    rows are applied in (ts, event_id) order WITHIN each micro-batch's
    accumulated input. A recursion cannot retroactively reorder state,
    so cross-batch order must come from ingestion — time-partitioned
    files arriving chronologically, the standard event-log layout;
    tests/test_streaming.py pins that a chronologically chopped
    multi-batch run reproduces the single-batch result. Oracle-
    checkable because the final state over the full history equals the
    closed-form weighted sum — safe in the oracle at verification
    scale, where per-user histories are short and decay powers only
    shrink."""
    e = stream_events(spark, sf_dir)
    return run_to_memory(ewma_stateful(e), "update").orderBy("user_id")


def ewma_stateful(e: DataFrame) -> DataFrame:
    """The stateful-EWMA transformation on any events stream; factored
    so tests can drive it with a chopped (multi-micro-batch) source."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):  # type: ignore[no-untyped-def]
        import pandas as pd

        n, s = state.get if state.exists else (0, 0.0)
        rows = []
        for pdf in pdfs:
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                rows.append((ts.value, int(eid), float(val)))
        rows.sort()
        for _, _, val in rows:
            s = val if n == 0 else _SEWMA_ALPHA * val + (1 - _SEWMA_ALPHA) * s
            n += 1
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "ewma": [round(s, 4)]}
        )

    return (
        e.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, ewma double",
            stateStructType="n long, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# streaming Holt: level+trend state, the stateful twin of q_holt_forecast

_SH_ALPHA = 0.5
_SH_BETA = 0.3


@query("q_stream_holt", _HOLT_ORACLE)
def stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Holt linear smoothing as a STATEFUL STREAMING operator:
    three numbers of state per key (count, level, trend) carry the
    whole model, so the forecast updates in-place as events arrive —
    the online form of q_holt_forecast, whose batch output it must
    equal exactly under availableNow ingestion (pinned in
    tests/test_round4c_ops.py; same initialization l₁=y₁, b₁=y₂-y₁
    applied across the batch boundary via the stored level). Shares
    the batch query's recursive-CTE oracle: the streaming state after
    full ingestion IS the batch recursion's final state."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):  # type: ignore[no-untyped-def]
        import pandas as pd

        n, lvl, trd = state.get if state.exists else (0, 0.0, 0.0)
        rows = []
        for pdf in pdfs:
            for ts, eid, val in zip(pdf["ts"], pdf["event_id"], pdf["value"]):
                rows.append((ts.value, int(eid), float(val)))
        rows.sort()
        for _, _, v in rows:
            n += 1
            if n == 1:
                lvl = v
            else:
                if n == 2:
                    trd = v - lvl  # b1 = y2 - y1, works across batches
                prev = lvl
                lvl = _SH_ALPHA * v + (1 - _SH_ALPHA) * (lvl + trd)
                trd = _SH_BETA * (lvl - prev) + (1 - _SH_BETA) * trd
        state.update((n, lvl, trd))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "level": [round(lvl, 4)],
                "trend": [round(trd, 4)],
                "forecast": [round(lvl + trd, 4)],
            }
        )

    e = stream_events(spark, sf_dir)
    out = (
        e.withWatermark("ts", "1 hour")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, n_events long, level double, "
                "trend double, forecast double"
            ),
            stateStructType="n long, lvl double, trd double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    return run_to_memory(out, "update").orderBy("user_id")


# ---------------------------------------------------------------------------
# streaming session-quality census: the live twin of q_session_quality
# over CLOSED sessions only

def _stream_session_quality_oracle() -> str:
    from pcap_to_parquet_spark.operators.sessionize import quality_census_sql

    # native session_window convention (merge on diff < gap, end =
    # last + gap) CLIPPED to the final watermark — only sessions the
    # stream has actually EMITTED are census input (the q_stream_session
    # two-regime technique), then the exact census SQL shared with the
    # batch op
    sess_flat = f"""flagged AS (
    SELECT user_id, ts, event_id, event_type,
           CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) < {GAP_SECONDS} * 1000000
                THEN 0 ELSE 1 END AS new_session
    FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
    SELECT user_id, ts, event_id, event_type,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
),
entried AS (
    SELECT user_id, session_id, ts, event_id,
           FIRST_VALUE(event_type) OVER (PARTITION BY user_id, session_id
                                         ORDER BY ts, event_id) AS entry_type
    FROM sessions
),
sess_all AS (
    SELECT user_id, session_id, MIN(entry_type) AS entry_type,
           CAST(COUNT(*) AS BIGINT) AS depth,
           (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 1000000 AS dwell_s,
           epoch_us(MAX(ts)) + {GAP_SECONDS} * 1000000 AS session_end
    FROM entried GROUP BY user_id, session_id
),
horizon AS (SELECT MAX(epoch_us(ts)) - {SESSION_WATERMARK_SECONDS} * 1000000 AS wm
            FROM events),
sess_flat AS (
    SELECT entry_type, depth, dwell_s FROM sess_all, horizon
    WHERE session_end <= wm
)"""
    return quality_census_sql(sess_flat)


@query("q_stream_session_quality", _stream_session_quality_oracle())
def stream_session_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-quality census ON THE INGEST PATH — q_session_quality's
    streaming twin over CLOSED sessions: gap-based session windows
    merge in state as events arrive (native convention: diff < gap,
    end = last + gap) and emit once the watermark passes session_end;
    the per-entry-type census (bounce rate, exact p50/p90 depth and
    dwell) runs as the serving query over the emitted per-session
    frame. This is the engagement dashboard a product team watches
    DURING the day — a landing action whose bounce rate climbs mid-
    deploy is flagging a broken page while the deploy is still
    rolling, instead of in tomorrow's batch census. Sessions still
    open at the horizon are withheld, exactly as the oracle's
    watermark clip states.

    Two-stage shape (the q_stream_topk discipline): the unbounded half
    is ONE session_window aggregation whose state is per-OPEN-session
    (bounded by active users); the census half runs on the
    session-count-bounded materialized frame and is the SAME code as
    the batch op (quality_census), so the two modes cannot diverge.
    The entry event rides the aggregation as an arg-min struct —
    min(struct(ts, event_id, event_type)) — never a second pass."""
    from pcap_to_parquet_spark.operators.sessionize import quality_census

    e = stream_events(spark, sf_dir)
    per = (
        e.withWatermark("ts", f"{SESSION_WATERMARK_SECONDS} seconds")
        .groupBy(F.session_window("ts", f"{GAP_SECONDS} seconds"), "user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("depth"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "dwell_us"
            ),
            F.min(F.struct("ts", "event_id", "event_type")).alias("fe"),
        )
        .select(
            F.col("fe.event_type").alias("entry_type"),
            "depth",
            F.expr("dwell_us div 1000000").alias("dwell_s"),
        )
    )
    # localCheckpoint before the census fan-out: the memory-sink plan
    # (MemoryPlan) is not a MultiInstanceRelation, so the census's
    # three-way self-reference would hit "conflicting references in
    # Join"; the checkpointed LogicalRDD re-instances cleanly — and the
    # corpus-side work (the stateful session aggregation) ran exactly
    # once inside the stream anyway
    emitted = run_to_memory(per, "append").localCheckpoint(eager=True)
    return quality_census(emitted)
