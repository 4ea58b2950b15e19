"""Scale patterns as first-class, oracle-checked operators: salted
joins for skew, bucketed joins for shuffle-free co-location.

Both produce results identical to their plain equi-join twins (that is
the point — the oracle SQL is the plain join), but their *physical*
plans are the shapes that survive 100 TB:

- salting splits one hot key's rows across S shuffle partitions, so a
  single pathological key (the classic null-key / megacustomer skew)
  can't stall the stage — AQE's skew-join split handles moderate skew
  at runtime; salting is the deterministic fallback for extreme skew.
- bucketing pre-shuffles both tables once at write time; every later
  join/aggregate on the bucket key is exchange-free (verified by the
  tests: the joined plan contains no Exchange).
"""

from __future__ import annotations

import atexit
import glob
import hashlib
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_tables

SALT_BUCKETS = 8
N_BUCKETS = 8


@query(
    "q_salted_join",
    """
    SELECT s.s_name, COUNT(*) AS n_items,
           ROUND(SUM(l.l_quantity), 2) AS total_qty
    FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
    GROUP BY s.s_name
    """,
)
def salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant equi join: the fact side gets a deterministic
    salt in [0, S); the dim side is exploded into S replicas; the join
    key becomes (key, salt) so one hot supplier's rows spread over S
    partitions. Results are exactly the plain join's (oracle = plain
    SQL). The replicated dim is S× bigger — salt only bounded dims, or
    only the detected-hot keys at the extreme."""
    li, s = load_tables(spark, sf_dir, "lineitem", "supplier")
    salted_fact = li.withColumn(
        "salt", F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_BUCKETS))
    )
    salted_dim = s.withColumn(
        "salt", F.explode(F.array(*[F.lit(i) for i in range(SALT_BUCKETS)]))
    )
    return (
        salted_fact.join(
            salted_dim,
            (salted_fact.l_suppkey == salted_dim.s_suppkey)
            & (salted_fact.salt == salted_dim.salt),
        )
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.round(F.sum("l_quantity"), 2).alias("total_qty"),
        )
    )


def _bucketed_name(sf_dir: str, table: str) -> str:
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:10]
    return f"bkt_{table}_{tag}"


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except (ProcessLookupError, ValueError):
        return False
    except PermissionError:
        # EPERM means the process exists but is owned by another user;
        # treating it as dead would rmtree a live process's cache dir
        # and reintroduce the cross-process race on shared hosts.
        return True
    return True


def _prune_bucketed_dirs() -> None:
    """Remove bucketed-cache dirs whose owning PID is dead (plus this
    process's own dir at exit). The PID-keyed path fixes the
    cross-process overwrite race, but without pruning each run leaks
    one directory of parquet into /tmp."""
    import shutil

    own = os.path.join(tempfile.gettempdir(), f"bucketed_tables_{os.getpid()}")
    for d in glob.glob(os.path.join(tempfile.gettempdir(), "bucketed_tables_*")):
        suffix = d.rsplit("_", 1)[-1]
        if not suffix.isdigit():
            continue
        if d == own or not _pid_alive(int(suffix)):
            shutil.rmtree(d, ignore_errors=True)


# Prune stale dirs from crashed/finished runs on import, and our own on
# exit. atexit runs before the JVM shuts down file handles, which is
# fine: by then no new Spark jobs will read the cache.
_prune_bucketed_dirs()
atexit.register(_prune_bucketed_dirs)


def ensure_bucketed(spark: SparkSession, sf_dir: str, table: str, key: str) -> str:
    """Write ``table`` bucketed+sorted by ``key`` (idempotent per
    sf_dir); returns the metastore table name. This is the one-time
    write-side shuffle that every subsequent join amortizes."""
    from pcap_to_parquet_spark.sources import load_table

    name = _bucketed_name(sf_dir, table)
    if spark.catalog.tableExists(name):
        return name
    # Path is keyed by PID: the metastore is per-process but the
    # filesystem is shared, and mode("overwrite") on a shared path lets
    # a concurrent Spark process yank parquet files out from under this
    # one's reader (observed: check_oracle.py racing pytest). Each
    # process writing its own directory removes the race entirely.
    path = os.path.join(
        tempfile.gettempdir(), f"bucketed_tables_{os.getpid()}", name
    )
    (
        load_table(spark, sf_dir, table)
        .write.bucketBy(N_BUCKETS, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .saveAsTable(name)
    )
    return name


@query(
    "q_bucketed_join",
    """
    SELECT c.c_mktsegment, COUNT(*) AS n_orders,
           ROUND(SUM(o.o_totalprice), 2) AS segment_price
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
)
def bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exchange-free join: orders and customer are both bucketed+sorted
    on the customer key, so the SortMergeJoin reads co-located buckets
    with ZERO runtime shuffle on either side (tests assert no Exchange
    below the join). At 100 TB this converts the dominant recurring
    cost of fact-to-fact joins into a one-time write-side shuffle."""
    o_name = ensure_bucketed(spark, sf_dir, "orders", "o_custkey")
    c_name = ensure_bucketed(spark, sf_dir, "customer", "c_custkey")
    o = spark.table(o_name)
    c = spark.table(c_name)
    # disable broadcast for this plan so the bucketed SMJ is what runs
    # (broadcast would also avoid the shuffle, but only while the dim
    # fits in memory — bucketing is the any-size answer)
    return (
        o.hint("merge")
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("segment_price"),
        )
    )


# ---------------------------------------------------------------------------
# two-stage exact distinct (the skewed COUNT DISTINCT pattern)


@query(
    "q_two_stage_distinct",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS n_users,
           COUNT(DISTINCT user_id % 10) AS n_cohorts
    FROM events
    GROUP BY event_type
    """,
)
def two_stage_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact COUNT(DISTINCT) via explicit two-stage aggregation:
    dedup on (group, value) first — a partial+final aggregation whose
    state per partition is the number of DISTINCT pairs it holds, not
    the number of rows — then count per group. A direct
    ``countDistinct`` on a skewed group key concentrates every value
    of the hot group on one reducer; the two-stage shape spreads stage
    one across (group, value) hash space, so a hot event_type costs no
    more than a cold one. Oracle is the direct COUNT(DISTINCT) —
    results are identical, only the physical shape differs."""
    from pcap_to_parquet_spark.sources import load_table

    e = load_table(spark, sf_dir, "events")
    pairs = e.select(
        "event_type", "user_id", (F.col("user_id") % 10).alias("cohort")
    )
    stage1 = pairs.groupBy("event_type", "user_id").agg(
        F.first("cohort").alias("cohort")
    )
    # F.count(col) skips NULLs like the oracle's COUNT(DISTINCT user_id)
    # does, while a NULL-user row still keeps its event_type group alive
    return stage1.groupBy("event_type").agg(
        F.count(F.col("user_id")).alias("n_users"),
        F.countDistinct("cohort").alias("n_cohorts"),
    )


# ---------------------------------------------------------------------------
# partitioned lake layout + partition pruning

PARTITIONED_LAKE_ORACLE = """
SELECT epoch_us(ts) // 86400000000 AS day,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 4) AS total_value
FROM events
WHERE event_type = 'purchase'
GROUP BY day
"""


def _event_type_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events table as a Hive-partitioned (by event_type) parquet
    lake; built once per (input, logic-version) key and reused by
    every query that wants partition-wise physics (static pruning in
    q_partitioned_lake, dynamic partition pruning in q_dpp_join)."""
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    (out,) = keyed_tmp_dirs("lake", src, "v1-by-event-type", "by_type")
    ev = load_table(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev.write.mode("overwrite").partitionBy("event_type").option(
            "compression", "zstd"
        ).parquet(out)
    # explicit schema: an EMPTY input writes no partition directories,
    # and schema inference over a bare _SUCCESS dir raises — the empty
    # lake must read back as an empty frame (same rule as the
    # streaming sink's readback)
    return spark.read.schema(ev.schema).parquet(out)


@query("q_partitioned_lake", PARTITIONED_LAKE_ORACLE)
def partitioned_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned lake layout end-to-end: write events partitioned by
    event_type (Hive-style directories), read back with an equality
    filter on the partition column, aggregate per day. The filter
    becomes a PartitionFilter — the scan LISTS only the matching
    directory and never opens the other partitions' files. This is THE
    100 TB pattern: a packet/event lake partitioned by (date, type)
    turns full-corpus scans into single-directory reads, which is why
    convert_pcap takes partition_cols.

    The write is keyed on (input path, mtime+size, logic version) and
    reused when valid — same staleness contract as the streaming sink;
    superseded keyed dirs are swept per source family
    (sources.tables.keyed_tmp_dirs)."""
    lake = _event_type_lake(spark, sf_dir)
    return (
        lake.filter(F.col("event_type") == "purchase")
        .groupBy(
            F.floor(F.unix_micros("ts") / 86_400_000_000).cast("bigint").alias("day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# schema evolution: mergeSchema over heterogeneous batch generations

SCHEMA_EVOLUTION_ORACLE = """
SELECT COUNT(*) AS n_rows,
       CAST(COUNT(CASE WHEN o_orderkey % 2 = 1 THEN 1 END) AS BIGINT) AS n_v2_rows,
       CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 7 END) AS BIGINT)
           AS v2_col_sum
FROM orders
"""


@query("q_schema_evolution", SCHEMA_EVOLUTION_ORACLE)
def schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across batch generations: generation 1 writes
    (o_orderkey, o_totalprice); generation 2 adds a column. Reading the
    directory with ``mergeSchema`` unions the schemas — old rows read
    NULL for the added column, which the aggregate makes observable
    (n_v2_rows / v2_col_sum count only generation-2 rows).

    The lake-reality every long-lived 100 TB dataset hits: producers
    evolve, history doesn't get rewritten. mergeSchema reconciles
    footers at planning time (cost scales with file count, which is why
    compaction — sources/lake.py — matters); readers must treat the
    added column as nullable from day one."""
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table

    src = os.path.join(os.path.abspath(sf_dir), "orders.parquet")
    (out,) = keyed_tmp_dirs("schema_evo", src, "v1-two-generations", "orders")
    o = load_table(spark, sf_dir, "orders")
    if not os.path.exists(os.path.join(out, "_gen2_done")):
        o.filter(F.col("o_orderkey") % 2 == 0).select(
            "o_orderkey", "o_totalprice"
        ).write.mode("overwrite").parquet(out)
        o.filter(F.col("o_orderkey") % 2 == 1).select(
            "o_orderkey",
            "o_totalprice",
            (F.col("o_orderkey") % 7).alias("o_priority_rank"),
        ).write.mode("append").parquet(out)
        open(os.path.join(out, "_gen2_done"), "w").close()
    merged = spark.read.option("mergeSchema", "true").parquet(out)
    return merged.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_priority_rank").alias("n_v2_rows"),
        F.sum("o_priority_rank").alias("v2_col_sum"),
    )


# ---------------------------------------------------------------------------
# small-file compaction with content-preservation oracle

LAKE_COMPACT_ORACLE = """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM events
GROUP BY event_type
"""


@query("q_lake_compact", LAKE_COMPACT_ORACLE)
def lake_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction end-to-end: explode events into 64 tiny
    files (the streaming-sink disease), rewrite with
    sources.lake.compact_parquet, and aggregate FROM THE COMPACTED
    COPY — the oracle aggregates the original table, so the rewrite is
    value-checked to have preserved every row and value, not just
    counted. File-count reduction itself is pinned in tests/test_lake.py;
    at 100 TB this maintenance pass is what keeps scan task counts (and
    footer/open costs) proportional to data, not to sink history."""
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table
    from pcap_to_parquet_spark.sources.lake import compact_parquet

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    frag, compacted = keyed_tmp_dirs("compact", src, "v1-64-files", "frag", "out")
    ev = load_table(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(compacted, "_SUCCESS")):
        ev.repartition(64).write.mode("overwrite").parquet(frag)
        compact_parquet(spark, frag, compacted)
    return (
        spark.read.schema(ev.schema).parquet(compacted)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# z-order clustered lake: multi-column data skipping from one sort

_US_PER_DAY = 86_400_000_000
# cache-key discipline: the cow-delete lake is DERIVED from the z-order
# lake, so its key embeds the z-order key — bumping the layout version
# invalidates both (a stale dlake over a fresh zlake served wrong file
# mixes twice during development; never again)
_ZORDER_KEY = "v3-zcell-16f"
_COWDEL_KEY = "del-4-7+" + _ZORDER_KEY

ZORDER_ORACLE = f"""
SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM events
WHERE user_id BETWEEN 4 AND 7
  AND epoch_us(ts) // {_US_PER_DAY} BETWEEN 19730 AND 19736
GROUP BY user_id
"""


def _interleave_bits(a, b, bits: int = 16):
    """Morton/Z value: bit i of ``a`` → position 2i, bit i of ``b`` →
    position 2i+1. Pure column algebra (shift/and/or), folded by
    Catalyst into one codegen expression — no UDF."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)).cast("long"), 2 * i + 1)
        )
    return z


@query("q_zorder_lake", ZORDER_ORACLE)
def zorder_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustering: events rewritten range-
    partitioned + sorted on interleave_bits(user_bucket, day_bucket),
    then a two-dimensional selective query served FROM THE CLUSTERED
    COPY. The oracle runs the same query on the original table, so the
    rewrite is value-checked to preserve every row.

    Both dimensions are first NORMALIZED to a fixed 4-bit budget
    (equal-width bucket over the column's observed [min, max]) before
    interleaving. Interleaving raw values is the classic z-order
    mistake: whichever column spans more varying bits dominates the
    sort and the other column gets no locality (measured here — raw
    interleave at sf0.001 left 13/16 files admitting a 4-user filter;
    bucketed interleave leaves ~4). Production systems (Delta OPTIMIZE
    ZORDER) normalize to range-partition ids the same way.

    Why this layout at 100 TB: a sort on (user_id, day) skips well on
    user_id but not on day alone; the Morton order keeps BOTH columns'
    values locally dense in every file, so parquet min/max footer
    stats prune files for filters on either column or both. The
    narrowing itself is pinned in tests/test_behavior.py (files whose
    [min,max] user_id span admits the filter are a small fraction).
    One range-exchange + per-partition sort at write time buys every
    later selective scan its pruning — the same economics as
    Delta/Iceberg OPTIMIZE ZORDER, expressed with stock Spark. The
    min/max bounds collected for bucketing are two scalars per
    dimension (partial-agg'd scan, driver holds 4 numbers) — the
    write path itself stays one range exchange."""
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    (out,) = keyed_tmp_dirs("zorder", src, _ZORDER_KEY, "lake")
    ev = load_table(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        day = F.expr(f"unix_micros(ts) div {_US_PER_DAY}").cast("int")
        bounds = ev.agg(
            F.min("user_id").alias("ulo"),
            F.max("user_id").alias("uhi"),
            F.min(day).alias("dlo"),
            F.max(day).alias("dhi"),
        ).first()
        # empty table: bounds are NULL; any constant layout is correct
        ulo = bounds.ulo if bounds.ulo is not None else 0
        uhi = bounds.uhi if bounds.uhi is not None else 0
        dlo = bounds.dlo if bounds.dlo is not None else 0
        dhi = bounds.dhi if bounds.dhi is not None else 0

        def _bucket(col, lo, hi, nbuckets=16):
            # equal-width rank into [0, nbuckets); degenerate range -> 0
            span = max(hi - lo + 1, 1)
            return F.least(
                F.lit(nbuckets - 1),
                ((col - F.lit(lo)) * nbuckets / F.lit(span)).cast("int"),
            )

        z = _interleave_bits(
            _bucket(F.col("user_id").cast("int"), ulo, uhi),
            _bucket(day, dlo, dhi),
            bits=4,
        )
        (
            # range-partition on the CELL id (top nibble of z), not the
            # raw z: sampled range boundaries on z land mid-cell and every
            # straddling file doubles its user span (measured: 9/16 files
            # admitted a one-cell filter vs 4/16 aligned). One cell = one
            # file makes footer stats exactly the cell bounds.
            ev.withColumn("zval", z)
            .withColumn("zcell", F.shiftright("zval", 4))
            .repartitionByRange(16, "zcell")
            .sortWithinPartitions("zval")
            .drop("zval", "zcell")
            .write.mode("overwrite")
            .parquet(out)
        )
    lake = spark.read.schema(ev.schema).parquet(out)
    return (
        lake.filter(
            (F.col("user_id") >= 4)
            & (F.col("user_id") <= 7)
            & (F.expr(f"unix_micros(ts) div {_US_PER_DAY}") >= 19730)
            & (F.expr(f"unix_micros(ts) div {_US_PER_DAY}") <= 19736)
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# ORC lake: second columnar format through the same engine surface

ORC_LAKE_ORACLE = """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value,
       ROUND(AVG(value), 4) AS avg_value
FROM events
GROUP BY event_type
"""


@query("q_orc_lake", ORC_LAKE_ORACLE)
def orc_lake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Format plurality: events rewritten as ZSTD ORC and aggregated
    FROM THE ORC COPY, value-checked against the oracle's read of the
    original parquet — proving the engine's scan/sink surface is not
    parquet-only. ORC brings its own footer statistics and predicate
    pushdown in Spark, so every pruning argument made for the parquet
    lakes holds here too; a 100 TB estate frequently mixes both
    formats and the query layer must not care."""
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    (out,) = keyed_tmp_dirs("orc", src, "v1-zstd", "lake")
    ev = load_table(spark, sf_dir, "events")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        ev.write.mode("overwrite").option("compression", "zstd").orc(out)
    return (
        spark.read.schema(ev.schema).orc(out)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.round(F.avg("value"), 4).alias("avg_value"),
        )
    )


# ---------------------------------------------------------------------------
# time travel: manifest-pinned snapshot reads over an append-only lake

TIME_TRAVEL_ORACLE = f"""
WITH v1 AS (
    SELECT * FROM events WHERE epoch_us(ts) // {_US_PER_DAY} <= 19737
),
v2 AS (SELECT * FROM events)
SELECT 1 AS version, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM v1
UNION ALL
SELECT 2 AS version, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM v2
"""


@query("q_time_travel", TIME_TRAVEL_ORACLE)
def time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot isolation with plain parquet + manifests — the core
    mechanic of Delta/Iceberg time travel, reproduced with stock
    Spark: each committed batch appends files plus a ``manifest-N``
    listing EVERY file visible in version N. Readers pin a version by
    loading that manifest's file list, so an in-flight append (files
    on disk, manifest not yet written) is invisible — and old
    versions stay queryable forever.

    The lake here commits v1 (events through day 19737) then appends
    the remainder as v2; the query aggregates BOTH versions from their
    manifests and the oracle recomputes each snapshot by predicate.
    At 100 TB the manifest read is a driver-side O(files) listing —
    exactly what table formats do, minus their compaction of the
    manifest itself."""
    import json

    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    (lake,) = keyed_tmp_dirs("timetravel", src, "v1-two-snapshots", "lake")
    ev = load_table(spark, sf_dir, "events")
    day = F.expr(f"unix_micros(ts) div {_US_PER_DAY}")
    if not os.path.exists(os.path.join(lake, "manifest-2.json")):
        os.makedirs(lake, exist_ok=True)
        ev.filter(day <= 19737).write.mode("overwrite").parquet(
            os.path.join(lake, "batch-1")
        )
        files_v1 = sorted(
            glob.glob(os.path.join(lake, "batch-1", "*.parquet"))
        )
        with open(os.path.join(lake, "manifest-1.json"), "w") as fh:
            json.dump(files_v1, fh)
        ev.filter(day > 19737).write.mode("overwrite").parquet(
            os.path.join(lake, "batch-2")
        )
        files_v2 = files_v1 + sorted(
            glob.glob(os.path.join(lake, "batch-2", "*.parquet"))
        )
        with open(os.path.join(lake, "manifest-2.json"), "w") as fh:
            json.dump(files_v2, fh)

    def snapshot(version: int) -> DataFrame:
        with open(os.path.join(lake, f"manifest-{version}.json")) as fh:
            files = json.load(fh)
        if not files:
            return spark.createDataFrame([], ev.schema)
        return spark.read.schema(ev.schema).parquet(*files)

    def summarize(version: int) -> DataFrame:
        return snapshot(version).agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        ).select(F.lit(version).alias("version"), "n_events", "total_value")

    return summarize(1).unionAll(summarize(2))


# ---------------------------------------------------------------------------
# dynamic partition overwrite: restate only the partitions a batch touches

DYN_OVERWRITE_ORACLE = """
WITH restated AS (
    SELECT event_type, value FROM events
    WHERE event_type <> 'error'
    UNION ALL
    SELECT event_type, value * 0.5 AS value FROM events
    WHERE event_type = 'error'
)
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM restated
GROUP BY event_type
"""


@query("q_dynamic_overwrite", DYN_OVERWRITE_ORACLE)
def dynamic_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition restatement with ``partitionOverwriteMode=dynamic``:
    a corrections batch (here: error events repriced at 0.5×)
    overwrites ONLY the partitions it contains rows for — the other
    partitions' files are untouched, not rewritten and not deleted
    (verified by the oracle covering the whole table). This is the
    backfill primitive of every partitioned lake: static overwrite
    mode would truncate the entire table first; dynamic mode makes
    restating one day of 10 000 cost one day of IO."""
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    (lake,) = keyed_tmp_dirs("dynover", src, "v1-error-repriced", "lake")
    ev = load_table(spark, sf_dir, "events")
    done = os.path.join(lake, "_RESTATED")
    if not os.path.exists(done):
        ev.write.mode("overwrite").partitionBy("event_type").parquet(lake)
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            corrections = ev.filter(F.col("event_type") == "error").withColumn(
                "value", F.col("value") * 0.5
            )
            # overwrite mode + dynamic: only event_type=error is replaced
            corrections.write.mode("overwrite").partitionBy("event_type").parquet(lake)
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        with open(done, "w") as fh:
            fh.write("ok")
    lake_df = spark.read.schema(ev.schema).parquet(lake)
    return lake_df.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# copy-on-write DELETE: rewrite only the files that contain victims

COW_DELETE_ORACLE = """
SELECT event_type, COUNT(*) AS n_events, ROUND(SUM(value), 4) AS total_value
FROM events
WHERE user_id NOT BETWEEN 4 AND 7
GROUP BY event_type
"""


@query("q_cow_delete", COW_DELETE_ORACLE)
def cow_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level DELETE on an immutable lake, copy-on-write: delete
    users 4-7 from the z-ordered events lake (a range present at
    every test SF, sf0.001 included) by (1) selecting the
    files whose footer [min, max] user_id range ADMITS a victim —
    everyone else's files are untouched — and (2) rewriting only those
    files without the victim rows. The z-order clustering is what
    makes step 1 selective (tests pin that a minority of files
    rewrite); on an unclustered lake every file would admit every key
    and copy-on-write degenerates to a full rewrite. This is the
    Delta/Iceberg DELETE mechanic with the table format's bookkeeping
    spelled out: untouched files are referenced as-is, rewritten files
    replace their originals."""
    import pyarrow.parquet as pq

    from pcap_to_parquet_spark.sources import keyed_tmp_dirs

    # build (or reuse) the z-ordered lake, then derive the deleted copy
    zorder_lake(spark, sf_dir)  # ensures the clustered lake exists
    from pcap_to_parquet_spark.sources import load_table as _lt

    src = os.path.join(os.path.abspath(sf_dir), "events.parquet")
    (zlake,) = keyed_tmp_dirs("zorder", src, _ZORDER_KEY, "lake")
    (dlake,) = keyed_tmp_dirs("cowdel", src, _COWDEL_KEY, "lake")
    ev_schema = _lt(spark, sf_dir, "events").schema
    if not os.path.exists(os.path.join(dlake, "_SUCCESS")):
        os.makedirs(dlake, exist_ok=True)
        keep_as_is, rewrite = [], []
        for p in sorted(glob.glob(os.path.join(zlake, "*.parquet"))):
            md = pq.ParquetFile(p).metadata
            stats = [md.row_group(i).column(2).statistics for i in range(md.num_row_groups)]
            if not stats or md.num_rows == 0:
                # zero row groups / zero rows: nothing to delete, keep as-is
                keep_as_is.append(p)
                continue
            if any(s is None for s in stats):
                # footer carries rows but no stats: cannot prove absence
                # of victims, so the file must go through the rewrite path
                rewrite.append(p)
                continue
            lo = min(s.min for s in stats)
            hi = max(s.max for s in stats)
            (rewrite if (lo <= 7 and hi >= 4) else keep_as_is).append(p)
        import shutil

        for i, p in enumerate(keep_as_is):
            shutil.copy(p, os.path.join(dlake, f"keep-{i}.parquet"))
        if rewrite:
            survivors = spark.read.schema(ev_schema).parquet(*rewrite).filter(
                (F.col("user_id") < 4) | (F.col("user_id") > 7)
            )
            survivors.write.mode("append").parquet(dlake)
        open(os.path.join(dlake, "_SUCCESS"), "w").close()
    out = spark.read.schema(ev_schema).parquet(dlake)
    return out.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 4).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# dynamic partition pruning: runtime dim filter prunes lake directories

DPP_JOIN_ORACLE = """
WITH hot AS (
    SELECT event_type FROM events GROUP BY event_type HAVING AVG(value) > 50
)
SELECT e.event_type, COUNT(*) AS n_events, ROUND(SUM(e.value), 4) AS total_value
FROM events e JOIN hot USING (event_type)
GROUP BY e.event_type
"""


@query("q_dpp_join", DPP_JOIN_ORACLE)
def dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DYNAMIC partition pruning: q_partitioned_lake's filter is known
    at plan time; here the qualifying event_types are only known at
    RUNTIME (an aggregate decides them), yet the partitioned scan must
    still skip the losing directories. Spark plants a DynamicPruning
    subquery on the scan's partition column, reuses the dim's
    broadcast as the filter, and the lake reads only qualifying
    partitions — the date-dim ⋈ fact pattern that makes star-schema
    queries feasible at 100 TB without hand-written predicates.
    tests/test_plan_shapes.py pins the dynamicpruning expression in
    the scan's partition filters."""
    lake = _event_type_lake(spark, sf_dir)
    from pcap_to_parquet_spark.sources import load_table

    dim = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.avg("value").alias("avg_value"))
        .filter(F.col("avg_value") > 50)
        .select("event_type")
    )
    return (
        lake.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# join-key skew planner

# the join/aggregation keys this engine's own operators shuffle on —
# the keys whose skew decides whether q_salted_join's technique (or
# AQE's skew split) is needed at 100 TB
_SKEW_KEYS = [
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("orders", "o_custkey"),
    ("events", "user_id"),
    ("events", "event_type"),
    ("documents", "lang"),
]
_SKEW_HOT_FACTOR = 10  # a key is "hot" when its row count tops 10x the mean


def _skew_branch_sql(table: str, key: str) -> str:
    return f"""(
WITH k AS (SELECT {key} AS k, COUNT(*) AS cnt FROM {table} GROUP BY {key}),
t AS (SELECT CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(COALESCE(MAX(cnt), 0) AS BIGINT) AS max_cnt
      FROM k),
h AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hot,
             CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS hot_rows
      FROM k, t
      WHERE n_keys > 0 AND cnt > ({_SKEW_HOT_FACTOR} * n_rows) // n_keys)
SELECT '{table}' AS table_name, '{key}' AS key_name, t.n_rows, t.n_keys,
       CASE WHEN t.n_keys > 0 THEN ROUND(t.n_rows * 1.0 / t.n_keys, 6) END
           AS avg_rows_per_key,
       t.max_cnt AS max_rows_per_key,
       CASE WHEN t.n_rows > 0 THEN ROUND(t.max_cnt * 1.0 / t.n_rows, 6) END
           AS max_key_share,
       h.n_hot AS n_hot_keys,
       CASE WHEN t.n_rows > 0 THEN ROUND(h.hot_rows * 1.0 / t.n_rows, 6) END
           AS hot_share
FROM t, h
)"""


SKEW_PLANNER_ORACLE = "\nUNION ALL\n".join(
    _skew_branch_sql(t, k) for t, k in _SKEW_KEYS
)


@query("q_skew_planner", SKEW_PLANNER_ORACLE)
def skew_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW PLANNER — the table read before committing a
    shuffle strategy at 100 TB: for every key this engine's operators
    shuffle on, the key-count census (rows, distinct keys, mean and
    max rows per key), the single-hottest-key share, and the hot-key
    mass (keys holding > {factor}x the mean; the rows they carry).
    A key whose hot_share is material needs q_salted_join's salting
    (or AQE skew-split) BEFORE the job runs — this op makes that a
    measured lookup instead of a post-mortem. event_type and lang are
    included as designed-skew controls (tiny key spaces where every
    key is 'hot' by the factor test on a uniform-ish table — the
    planner's answer there is 'broadcast or pre-aggregate, don't
    salt'). [engine — not in reference]

    Scale design: one partial+final COUNT per (table, key) — the same
    aggregate every q_hash_agg-style plan already pays, so the census
    costs what one extra aggregation pass costs; the per-key count
    frames reduce to 1-row stats immediately (no key list is ever
    collected or broadcast), and the hot test is EXACT INTEGER
    arithmetic: cnt > ({factor} * n_rows) div n_keys — equivalent to
    cnt * n_keys > {factor} * n_rows for integer cnt but
    OVERFLOW-SAFE at 100 TB ({factor} * n_rows stays ~1e15 << 2^63,
    whereas the product form cnt * n_keys can exceed 2^63 on a hot
    key against a high-cardinality census and silently wrap without
    ANSI mode — round-13 ADVICE fix). No float mean, no rounding
    boundary. Branches union 7 one-row frames."""
    from pcap_to_parquet_spark.sources import load_table

    outs = []
    for table, key in _SKEW_KEYS:
        k = (
            load_table(spark, sf_dir, table)
            .groupBy(F.col(key).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        t = k.agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.coalesce(F.max("cnt"), F.lit(0)).cast("long").alias("max_cnt"),
        )
        h = (
            k.crossJoin(F.broadcast(t))
            .where(
                (F.col("n_keys") > 0)
                & (
                    F.col("cnt")
                    > F.expr(f"({_SKEW_HOT_FACTOR} * n_rows) div n_keys")
                )
            )
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_hot"),
                F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("hot_rows"),
            )
        )
        outs.append(
            t.crossJoin(F.broadcast(h)).select(
                F.lit(table).alias("table_name"),
                F.lit(key).alias("key_name"),
                "n_rows",
                "n_keys",
                F.when(
                    F.col("n_keys") > 0,
                    F.round(F.col("n_rows") * 1.0 / F.col("n_keys"), 6),
                ).alias("avg_rows_per_key"),
                F.col("max_cnt").alias("max_rows_per_key"),
                F.when(
                    F.col("n_rows") > 0,
                    F.round(F.col("max_cnt") * 1.0 / F.col("n_rows"), 6),
                ).alias("max_key_share"),
                F.col("n_hot").alias("n_hot_keys"),
                F.when(
                    F.col("n_rows") > 0,
                    F.round(F.col("hot_rows") * 1.0 / F.col("n_rows"), 6),
                ).alias("hot_share"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionAll(o)
    return res


skew_planner.__doc__ = skew_planner.__doc__.format(factor=_SKEW_HOT_FACTOR)
