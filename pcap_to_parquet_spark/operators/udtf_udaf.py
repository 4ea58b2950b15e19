"""UDTF + UDAF surface (SURVEY §2 Part B, UDF/UDAF/UDTF table).

- Python UDTF (one row → many): packet bytes → one row per stacked
  Metamako trailer. The reference keeps only the innermost trailer
  (main.rs:124-127 overwrite semantics); the UDTF generalizes that to
  the full stack, with index 0 = outermost (last-appended device).
- Grouped UDAF (``applyInPandas``): per-user robust statistics
  (median / MAD), which have no built-in JVM aggregate for the exact
  form; DuckDB's ``median``/``mad`` are the oracle.

Scalar-UDF surface note: the engine's scalar Python UDFs are the pcap
decoders running vectorized inside the pcap data source's partition
reads (sources/pcap_datasource.py) — hot paths never use row-at-a-time
``@udf``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.functions import udtf

from pcap_to_parquet_spark.operators.pcap_query import _fixture_path
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.sources import load_table
from pcap_to_parquet_spark.sources.pcap import _WHOLE_FILE, enumerate_trailers
from pcap_to_parquet_spark.sources.pcap_chunked import chunk_specs, pack_units, read_unit
from pcap_to_parquet_spark.sources.pcap_vec import scan_record_offsets


@udtf(returnType="trailer_idx int, mm_ts bigint, mm_id int, mm_port smallint")
class ExplodeTrailers:
    """LATERAL udtf: (data, ts_sec, origlen) → one row per trailer."""

    def eval(self, data, ts_sec: int, origlen: int):  # type: ignore[no-untyped-def]
        if data is None or origlen is None or origlen < 16:
            return
        for i, t in enumerate(enumerate_trailers(bytes(data), ts_sec or 0, origlen)):
            yield i, t["mm_ts"], t["mm_id"], t["mm_port"]


def pcap_records(spark: SparkSession, path: str) -> DataFrame:
    """Raw (ts_sec, origlen, data) records of pcap file(s) — the
    pre-decode stream, for operators that want packet bytes. Lists and
    reads whole-file units like every pcap entry, so hidden files are
    skipped and non-pcap input fails with ``PcapFormatError``; the units
    are packed by the same ``pack_units`` rule, one bin per slice."""
    sc = spark.sparkContext
    bins = pack_units(chunk_specs(path, _WHOLE_FILE), sc.defaultParallelism)
    units = spark.createDataFrame(
        sc.parallelize(bins, len(bins)).flatMap(lambda b: b),
        "path string, start long, end long",
    )

    def split_units(batches):  # type: ignore[no-untyped-def]
        import pandas as pd

        for pdf in batches:
            for path, start, end in zip(pdf["path"], pdf["start"], pdf["end"]):
                buf = read_unit(path, int(start), int(end))
                off, ts_sec, incl, origlen = scan_record_offsets(buf)
                yield pd.DataFrame(
                    {
                        "ts_sec": ts_sec,
                        "origlen": origlen,
                        "data": [buf[o : o + n] for o, n in zip(off.tolist(), incl.tolist())],
                    }
                )

    return units.mapInPandas(split_units, schema="ts_sec long, origlen long, data binary")


# per-trailer goldens: the 4 (packet, trailer) rows of the static
# fixture, hand-computed in tests/test_udtf_udaf.py (outermost-first
# indexing; the 82-byte packet carries a stacked pair)
PCAP_TRAILERS_ORACLE = """
SELECT origlen, trailer_idx, mm_ts, mm_id, mm_port FROM (VALUES
    (CAST(66 AS BIGINT), CAST(0 AS INTEGER), CAST(1699999998500000123 AS BIGINT), CAST(7 AS INTEGER), CAST(3 AS SMALLINT)),
    (CAST(70 AS BIGINT), CAST(0 AS INTEGER), CAST(1699999995777777777 AS BIGINT), CAST(9 AS INTEGER), CAST(4 AS SMALLINT)),
    (CAST(82 AS BIGINT), CAST(0 AS INTEGER), CAST(1699999999222222222 AS BIGINT), CAST(2 AS INTEGER), CAST(2 AS SMALLINT)),
    (CAST(82 AS BIGINT), CAST(1 AS INTEGER), CAST(1699999997111111111 AS BIGINT), CAST(1 AS INTEGER), CAST(1 AS SMALLINT))
) AS t(origlen, trailer_idx, mm_ts, mm_id, mm_port)
"""


@query("q_pcap_trailers", PCAP_TRAILERS_ORACLE)  # static-fixture goldens
def pcap_trailers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trailer rows from the golden pcap via a LATERAL Python UDTF —
    the one-row→many shape (packet → its full trailer stack)."""
    spark.udtf.register("explode_trailers", ExplodeTrailers)
    pcap_records(spark, _fixture_path()).createOrReplaceTempView("pcap_raw")
    return spark.sql(
        """
        SELECT p.origlen, t.trailer_idx, t.mm_ts, t.mm_id, t.mm_port
        FROM pcap_raw p, LATERAL explode_trailers(p.data, p.ts_sec, p.origlen) t
        ORDER BY p.origlen, t.trailer_idx
        """
    )


# ---------------------------------------------------------------------------
# grouped UDAF: applyInPandas robust stats

UDAF_ORACLE = """
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(median(value), 4) AS median_value,
       ROUND(mad(value), 4) AS mad_value
FROM events
GROUP BY user_id
"""


@query("q_udaf_robust_stats", UDAF_ORACLE)
def udaf_robust_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user median + median-absolute-deviation via a grouped-map
    pandas UDAF. Shuffles once on the group key; each group is one
    Arrow batch in the worker. For skewed keys at scale, pre-aggregate
    or switch to approx percentiles — exact medians fundamentally need
    the group's values together."""

    def stats(pdf):  # type: ignore[no-untyped-def]
        import pandas as pd

        v = pdf["value"]
        med = v.median()
        return pd.DataFrame(
            {
                "user_id": [pdf["user_id"].iloc[0]],
                "n_events": [len(v)],
                "median_value": [round(med, 4)],
                "mad_value": [round((v - med).abs().median(), 4)],
            }
        )

    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").applyInPandas(
        stats, schema="user_id long, n_events long, median_value double, mad_value double"
    )
