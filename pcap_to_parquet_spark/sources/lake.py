"""Lake maintenance: compaction and sorted (data-skipping) writes.

At 100 TB the two chronic parquet-lake diseases are small files
(per-file open/footer costs dominate scans; streaming sinks and
fine-grained partitioning both produce them) and unsorted row groups
(min/max column statistics span the whole domain, so predicate
pushdown prunes nothing). These two writers are the maintenance pass:

- :func:`compact_parquet` rewrites a directory into ~``target_mb``
  files (AQE-friendly repartition by size estimate);
- :func:`write_sorted` lays data out sorted within files so each row
  group's min/max covers a narrow slice — DuckDB/Spark scans then
  skip row groups wholesale (tests verify tight stats via
  ``parquet_metadata``).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pcap_to_parquet_spark.session import tune


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def compact_parquet(
    spark: SparkSession, src: str, dst: str, target_mb: int = 256
) -> int:
    """Rewrite ``src`` (parquet dir) into ``dst`` with ~target_mb
    files; returns the file count. Parquet re-encodes (zstd), so the
    estimate uses the source's on-disk size — close enough for a
    maintenance job, and AQE coalescing smooths the remainder."""
    tune(spark)
    # src is any caller's directory, so its schema is inferred (one job per pass)
    df = spark.read.parquet(src)
    n_files = max(1, round(_dir_bytes(src) / (target_mb * 1024 * 1024)))
    df.repartition(n_files).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(dst)
    return n_files


def write_sorted(
    df: DataFrame, dst: str, sort_cols: list[str], files: int | None = None
) -> None:
    """Range-partition by ``sort_cols`` then sort within partitions:
    globally ordered files whose row groups carry tight min/max stats.
    ``repartitionByRange`` keeps the shuffle to one pass and gives
    non-overlapping per-file key ranges (file-level skipping too)."""
    out = df.repartitionByRange(*([files] if files else []), *[F.col(c) for c in sort_cols])
    out.sortWithinPartitions(*sort_cols).write.mode("overwrite").option(
        "compression", "zstd"
    ).parquet(dst)
