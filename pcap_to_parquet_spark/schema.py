"""Explicit schemas. Never inferred (matches the reference's choice of a
fixed up-front schema, /root/reference/src/main.rs:71).

PACKET_SCHEMA reproduces the reference's 9-column output in its exact
serialization order (main.rs:44-54), with unsigned types widened per
SURVEY §1.3 (Spark has no unsigned integers — widen, never reinterpret).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    FloatType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)


def _f(name: str, dtype) -> StructField:
    return StructField(name, dtype, nullable=True)


# The reference's output record: struct Packet (main.rs:6-16), column order
# from serialize() (main.rs:44-54). All fields nullable (main.rs:5,19-21).
PACKET_SCHEMA = StructType(
    [
        _f("src_ip", StringType()),     # Utf8 (main.rs:25-26)
        _f("dst_ip", StringType()),     # Utf8 (main.rs:27-28)
        _f("len", LongType()),          # UInt32 widened (main.rs:29-30)
        _f("protocol", StringType()),   # Utf8 (main.rs:31-32)
        _f("src_port", IntegerType()),  # UInt16 widened (main.rs:33-34)
        _f("dst_port", IntegerType()),  # UInt16 widened (main.rs:35-36)
        _f("mm_ts", LongType()),        # Int64 ns since epoch (main.rs:37-38,177)
        _f("mm_id", IntegerType()),     # UInt16 widened (main.rs:39-40)
        _f("mm_port", ShortType()),     # UInt8 widened (main.rs:41-42)
    ]
)

# Driver testdata schemas (FIXTURES.md §1). This is the READ schema:
# sources.tables.load_table scans every table but events through it, so
# no load pays a schema-inference job, and it must match the files'
# footers (tests/test_tables.py checks it does). events is read through
# events_raw_schema (its ts encoding varies); the entry here is its
# normalized shape, ts as TIMESTAMP.
TESTDATA_SCHEMAS: dict[str, StructType] = {
    "region": StructType([_f("r_regionkey", IntegerType()), _f("r_name", StringType())]),
    "nation": StructType(
        [
            _f("n_nationkey", IntegerType()),
            _f("n_name", StringType()),
            _f("n_regionkey", IntegerType()),
        ]
    ),
    "customer": StructType(
        [
            _f("c_custkey", LongType()),
            _f("c_name", StringType()),
            _f("c_nationkey", IntegerType()),
            _f("c_acctbal", DoubleType()),
            _f("c_mktsegment", StringType()),
        ]
    ),
    "supplier": StructType(
        [
            _f("s_suppkey", LongType()),
            _f("s_name", StringType()),
            _f("s_nationkey", IntegerType()),
            _f("s_acctbal", DoubleType()),
        ]
    ),
    "part": StructType(
        [
            _f("p_partkey", LongType()),
            _f("p_name", StringType()),
            _f("p_brand", StringType()),
            _f("p_type", StringType()),
            _f("p_size", IntegerType()),
            _f("p_retailprice", DoubleType()),
        ]
    ),
    "orders": StructType(
        [
            _f("o_orderkey", LongType()),
            _f("o_custkey", LongType()),
            _f("o_orderstatus", StringType()),
            _f("o_totalprice", DoubleType()),
            _f("o_orderdate", TimestampNTZType()),
            _f("o_orderpriority", StringType()),
        ]
    ),
    "lineitem": StructType(
        [
            _f("l_orderkey", LongType()),
            _f("l_partkey", LongType()),
            _f("l_suppkey", LongType()),
            _f("l_linenumber", IntegerType()),
            _f("l_quantity", DoubleType()),
            _f("l_extendedprice", DoubleType()),
            _f("l_discount", DoubleType()),
            _f("l_tax", DoubleType()),
            _f("l_returnflag", StringType()),
            _f("l_linestatus", StringType()),
            _f("l_shipdate", TimestampNTZType()),
        ]
    ),
    "events": StructType(
        [
            _f("event_id", LongType()),
            _f("ts", TimestampType()),
            _f("user_id", LongType()),
            _f("event_type", StringType()),
            _f("value", DoubleType()),
            _f("props", StringType()),
        ]
    ),
    "documents": StructType(
        [
            _f("doc_id", LongType()),
            _f("text", StringType()),
            _f("lang", StringType()),
            _f("source", StringType()),
            _f("n_chars", LongType()),
        ]
    ),
    "embeddings": StructType(
        [
            _f("vec_id", LongType()),
            _f("embedding", ArrayType(FloatType())),
            _f("label", IntegerType()),
        ]
    ),
}

EMBEDDING_DIM = 64  # fixed dimension of embeddings.embedding (FIXTURES.md)
