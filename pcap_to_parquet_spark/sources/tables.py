"""Parquet table loaders for the driver testdata layout.

Every table is read through its declared schema
(``spark.read.schema(...).parquet``): ``schema.TESTDATA_SCHEMAS`` for
the nine fixed tables, :func:`events_raw_schema` (a pyarrow footer read)
for ``events``. Given a schema, Spark skips schema inference, so a
table load launches no Spark job; a bare ``spark.read.parquet`` runs a
``parquet at …`` job per call. The scan itself is still the vectorized
reader with predicate pushdown and column pruning — the engine's job is
to NOT get in Catalyst's way (SURVEY §4.2).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from pcap_to_parquet_spark.schema import TESTDATA_SCHEMAS
from pcap_to_parquet_spark.session import tune

TABLE_NAMES = tuple(TESTDATA_SCHEMAS)


def _events_ts_arrow_type(sf_dir: str):
    """Physical parquet type of ``events.ts`` straight from the footer.

    The driver's generator has shipped this column as TIMESTAMP(NANOS)
    in one round and TIMESTAMP(MICROS) in another; a loader hardcoded
    to either breaks every events consumer when the testdata is
    regenerated. Footer read only — no Spark job, no data scan.
    Spark's default INT96 timestamp is a UTC instant, though arrow
    shows it as naive nanoseconds.
    """
    import glob

    import pyarrow as pa
    import pyarrow.parquet as pq

    p = os.path.join(sf_dir, "events.parquet")
    if os.path.isdir(p):
        # Spark-written table: a directory of part files (all parts
        # share one schema; a zero-row write still emits one part)
        parts = sorted(glob.glob(os.path.join(p, "*.parquet")))
        if not parts:
            return None
        p = parts[0]
    schema = pq.read_metadata(p).schema
    if schema.column(schema.names.index("ts")).physical_type == "INT96":
        return pa.timestamp("us", tz="UTC")
    return schema.to_arrow_schema().field("ts").type


def events_raw_schema(sf_dir: str) -> StructType:
    """Explicit read schema for events, matched to the file's actual
    ts encoding (streaming sources require an explicit schema).

    TIMESTAMP(NANOS) must be read as a raw long (Spark rejects the
    type otherwise; callers also set ``legacy.parquet.nanosAsLong``);
    naive TIMESTAMP(MICROS) maps to TIMESTAMP_NTZ; UTC-adjusted maps
    to TIMESTAMP.
    """
    import pyarrow as pa

    t = _events_ts_arrow_type(sf_dir)
    if t is None:
        ts_type = LongType()  # bare _SUCCESS dir: any schema reads 0 rows
    elif pa.types.is_timestamp(t) and t.unit == "ns" and t.tz is None:
        ts_type = LongType()  # nanoseconds via legacy.parquet.nanosAsLong
    elif pa.types.is_timestamp(t) and t.tz is not None:
        ts_type = TimestampType()
    elif pa.types.is_timestamp(t):
        ts_type = TimestampNTZType()
    else:
        ts_type = LongType()
    return StructType(
        [
            StructField("ts", ts_type) if f.name == "ts" else f
            for f in TESTDATA_SCHEMAS["events"].fields
        ]
    )


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize ``ts`` to TIMESTAMP (UTC session) whatever the file
    carried: raw nanosecond longs truncate ns → µs exactly like DuckDB
    (``epoch_us``), naive micros cast 1:1 under the UTC session tz set
    by :func:`tune`. Idempotent on already-normalized frames."""
    kind = dict(df.dtypes).get("ts")
    if kind == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if kind == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one testdata table: a parquet scan through the declared
    schema, so the load itself launches no Spark job (no schema
    inference). A file whose column types contradict the declared
    schema fails when the scan runs, never as silent NULLs.

    ``events.ts`` arrives as whatever the generator wrote (ns or µs —
    see :func:`events_raw_schema`); both engines are normalized to the
    same microsecond timeline.
    """
    if name not in TESTDATA_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    tune(spark)
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(spark.read.schema(events_raw_schema(sf_dir)).parquet(path))
    return spark.read.schema(TESTDATA_SCHEMAS[name]).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> tuple[DataFrame, ...]:
    """Load several tables at once: ``l, o = load_tables(s, d, "lineitem", "orders")``."""
    return tuple(load_table(spark, sf_dir, n) for n in names)


def fan_out(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Give a CPU-dense map stage at least ``defaultParallelism`` tasks.

    A small parquet file arrives as ONE scan split, so per-row-heavy
    work (shingling, hashing, vector math) runs on a single core while
    31 idle — measured 4× end-to-end on the MinHash pipeline at sf0.1.
    A 100-TB table arrives with thousands of splits, in which case this
    is a no-op: the repartition fires only when the plan's partitioning
    is below the floor, so it never adds a shuffle at scale.
    """
    sc = df.sparkSession.sparkContext
    floor = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < floor:
        return df.repartition(floor)
    return df


def keyed_tmp_dirs(kind: str, src: str, logic_version: str, *suffixes: str) -> list[str]:
    """Staleness-keyed tempdir paths for derived artifacts (stream
    sinks, partitioned-lake rewrites): valid only for the exact input
    bytes and logic that produced them.

    The name carries two keys: a SOURCE family key (md5 of the input
    path) and a VALIDITY key (md5 of path + mtime + size + logic
    version). Superseded dirs are swept per source family only — runs
    against a different input (another sf_dir) never delete each
    other's still-valid caches, and a concurrent run on another input
    can't lose its live checkpoint mid-query."""
    import glob
    import hashlib
    import os
    import shutil
    import tempfile

    st = os.stat(src)
    family = hashlib.md5(src.encode()).hexdigest()[:8]
    key = f"{src}|{st.st_mtime_ns}|{st.st_size}|{logic_version}"
    tag = hashlib.md5(key.encode()).hexdigest()[:12]
    tmp = tempfile.gettempdir()
    for stale in glob.glob(os.path.join(tmp, f"{kind}_*_{family}_*")):
        if not stale.endswith(tag):
            shutil.rmtree(stale, ignore_errors=True)
    return [os.path.join(tmp, f"{kind}_{s}_{family}_{tag}") for s in suffixes]
