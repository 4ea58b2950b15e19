"""The table loader reads through the declared schema.

``load_table`` passes ``schema.TESTDATA_SCHEMAS`` (``events_raw_schema``
for events) to the Parquet reader, so no load pays a schema-inference
job. That is only sound while the constant matches the files, and while
a file that contradicts it fails loudly. The job budget pins the job
count of a few queries, so a new eager action fails a count instead of
hiding in wall-time noise.
"""

from __future__ import annotations

import os
from datetime import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import TimestampType

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import QUERIES
from pcap_to_parquet_spark.schema import TESTDATA_SCHEMAS
from pcap_to_parquet_spark.sources.tables import TABLE_NAMES, events_raw_schema, load_table
from tests.conftest import REPO, SF001, SF0001, count_jobs

# the copy of the sf0.01 tables the benchmark's query_mix runs on
BENCH_SF = os.path.join(REPO, "perfbench", "data", "sf0.01")
SF_DIRS = [SF0001, SF001, os.path.join(os.path.dirname(SF001), "sf0.1"), BENCH_SF]


def _footer_schema(path: str):
    if os.path.isdir(path):  # a Spark-written table: every part has one schema
        path = os.path.join(path, sorted(p for p in os.listdir(path) if p.endswith(".parquet"))[0])
    return from_arrow_schema(pq.read_schema(path), prefer_timestamp_ntz=True)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=["sf0.001", "sf0.01", "sf0.1", "perfbench-sf0.01"])
def test_declared_schemas_match_the_parquet_footers(sf_dir):
    if not os.path.isdir(sf_dir):
        pytest.skip(f"{sf_dir} absent")
    for name in TABLE_NAMES:
        footer = _footer_schema(os.path.join(sf_dir, f"{name}.parquet"))
        got = [(f.name, f.dataType) for f in footer.fields]
        want = [(f.name, f.dataType) for f in TESTDATA_SCHEMAS[name].fields]
        if name == "events":
            # ts is read in whatever encoding the footer has
            # (events_raw_schema) and normalized after the scan
            assert footer["ts"].dataType.typeName().startswith("timestamp")
            got = [g for g in got if g[0] != "ts"]
            want = [w for w in want if w[0] != "ts"]
        assert got == want, name


def test_a_contradicting_column_type_fails_loudly(spark, tmp_path):
    pq.write_table(
        pa.table(
            {
                "c_custkey": pa.array([1, 2], pa.int64()),
                "c_name": ["a", "b"],
                "c_nationkey": ["7", "x"],  # declared int
                "c_acctbal": [1.0, 2.0],
                "c_mktsegment": ["m", "n"],
            }
        ),
        tmp_path / "customer.parquet",
    )
    df = load_table(spark, str(tmp_path), "customer")
    with pytest.raises(Exception, match="c_nationkey") as err:
        df.collect()  # never a column of silent NULLs
    assert "PARQUET_COLUMN_DATA_TYPE_MISMATCH" in str(err.value)


def test_events_written_by_spark_read_back_as_instants(spark, tmp_path):
    # Spark writes TimestampType as INT96 by default, which arrow shows as
    # naive nanoseconds; read as a raw long it would fail the scan
    t = datetime(2024, 1, 2, 3, 4, 5, 123456)
    spark.createDataFrame(
        [(1, t, 2, "click", 1.0, "{}")], TESTDATA_SCHEMAS["events"]
    ).write.parquet(str(tmp_path / "events.parquet"))
    assert events_raw_schema(str(tmp_path))["ts"].dataType == TimestampType()
    assert load_table(spark, str(tmp_path), "events").collect()[0].ts == t


def test_loading_every_table_launches_no_job(spark):
    assert count_jobs(spark, lambda: [load_table(spark, BENCH_SF, t) for t in TABLE_NAMES]) == 0


# query -> most jobs one build + noop write may launch, on whatever
# cores the session has
JOB_BUDGET = {
    "q_flagship_revenue": 5,
    "q_sql_pricing_summary": 2,
    "q_hash_agg": 2,
    "q_broadcast_join": 3,
}


@pytest.mark.parametrize("name", sorted(JOB_BUDGET))
def test_query_job_budget(spark, name):
    def run():
        QUERIES[name](spark, BENCH_SF).write.format("noop").mode("overwrite").save()

    assert count_jobs(spark, run) <= JOB_BUDGET[name]
