"""CSV / JSON utility scans (SURVEY §2 Part B, sources table).

Always explicit-schema (never inferSchema — a schema-inference pass
reads the data twice and guesses types; at 100 TB both are
disqualifying). Parquet remains the lake format; these are the
ingest/interchange edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from pcap_to_parquet_spark.functions.text import WHITESPACE_TOKENS_SQL
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.schema import TESTDATA_SCHEMAS
from pcap_to_parquet_spark.session import tune


def read_csv(
    spark: SparkSession, path: str, schema: StructType, header: bool = True
) -> DataFrame:
    tune(spark)
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_json(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    tune(spark)
    return spark.read.schema(schema).json(path)


def write_csv(df: DataFrame, path: str, header: bool = True) -> None:
    df.write.mode("overwrite").option("header", str(header).lower()).csv(path)


def write_json(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").json(path)


def read_orc(spark: SparkSession, path: str, schema: StructType | None = None) -> DataFrame:
    """ORC scan (built-in columnar alternative; same predicate-pushdown
    and column-pruning behavior as parquet). Schema optional: ORC files
    carry their types, so there is no inference pass to pay for."""
    tune(spark)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.orc(path)


def write_orc(df: DataFrame, path: str) -> None:
    df.write.mode("overwrite").option("compression", "zstd").orc(path)


def table_schema(name: str) -> StructType:
    """Explicit schema for a testdata table (for CSV/JSON round-trips)."""
    return TESTDATA_SCHEMAS[name]


# ---------------------------------------------------------------------------
# line-oriented text source: the remaining built-in format

TEXT_SOURCE_ORACLE = rf"""
WITH tok AS (
    SELECT unnest({WHITESPACE_TOKENS_SQL}) AS w
    FROM documents WHERE NOT contains(text, chr(10))
)
SELECT w AS word, COUNT(*) AS n
FROM tok GROUP BY w
ORDER BY n DESC, w
LIMIT 20
"""


@query("q_text_source", TEXT_SOURCE_ORACLE)
def text_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The line-oriented ``text`` source, round-tripped: documents
    (newline-free ones — one doc per line is the format's contract)
    are exported with ``df.write.text`` and re-read with
    ``spark.read.text``, then word-counted — the canonical
    grep-pipeline shape over raw text lakes (log exports, WET dumps).
    The oracle computes the same counts straight from the parquet
    table, so the round-trip must be byte-faithful. text completes the
    built-in format matrix: parquet, csv, json, xml, orc, binaryFile,
    text, plus the custom pcap/pcapng sources."""
    import os

    from pcap_to_parquet_spark.functions.text import whitespace_tokens
    from pcap_to_parquet_spark.sources import keyed_tmp_dirs, load_table

    src = os.path.join(os.path.abspath(sf_dir), "documents.parquet")
    (lake,) = keyed_tmp_dirs("textsrc", src, "v1", "lake")
    d = load_table(spark, sf_dir, "documents")
    if not os.path.exists(os.path.join(lake, "_SUCCESS")):
        d.filter(~F.col("text").contains("\n")).select("text").write.mode(
            "overwrite"
        ).text(lake)
    lines = spark.read.text(lake)  # one row per line, column `value`
    return (
        lines.select(F.explode(whitespace_tokens("value")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "word")
        .limit(20)
    )
