"""Round-15 sub-stage attribution for the heavy clustering kernels.

Times the internal stages of the winnowing / simhash / jaccard label
pipelines (noop sink per stage, same session config as bench.py) so
optimization targets inside one query wall are attributable.

Usage: python tools/profile_substages.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import functions as F  # noqa: E402

import pcap_to_parquet_spark.operators  # noqa: F401,E402
from pcap_to_parquet_spark.operators import llm  # noqa: E402
from pcap_to_parquet_spark.session import get_spark  # noqa: E402
from pcap_to_parquet_spark.sources.tables import load_table  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def t(label, fn):
    best = None
    for _ in range(2):
        t0 = time.time()
        out = fn()
        el = time.time() - t0
        best = el if best is None else min(best, el)
    print(f"{label:44s} {best:7.2f}s")
    return out


def noop(df):
    df.write.format("noop").mode("overwrite").save()
    return df


def main() -> None:
    spark = get_spark("substages")
    spark.sparkContext.setLogLevel("ERROR")
    d = load_table(spark, SF_DIR, "documents")
    # warmup
    noop(d)
    n_workers = 2 * spark.sparkContext.defaultParallelism
    spark.range(10_000, numPartitions=n_workers).toDF("x").mapInPandas(
        lambda it: it, schema="x long"
    ).write.format("noop").mode("overwrite").save()

    # --- winnowing axis ---
    t("winnow: _winnow_collapse (to checkpoint)", lambda: llm._winnow_collapse(d))
    members, sizes, pr = llm._winnow_collapse(d)
    t("winnow: members noop (post-collapse)", lambda: noop(members))
    t("winnow: candidates", lambda: noop(llm._winnow_band_candidates(pr)))
    cand = llm._winnow_band_candidates(pr)
    t("winnow: verify", lambda: noop(llm._winnow_band_verify(cand, pr)))
    ver = llm._winnow_band_verify(cand, pr).where(
        F.col("n_shared") >= llm._WINNOW_CLUSTER_TAU
    )
    ra = sizes.select(F.col("g").alias("ga"), F.col("rep_id").alias("u"))
    rb = sizes.select(F.col("g").alias("gb"), F.col("rep_id").alias("v"))
    gedges = ver.join(ra, "ga").join(rb, "gb").select("u", "v")

    def star_edges():
        e = gedges.localCheckpoint(eager=True)
        return noop(llm.star_contract(e))

    t("winnow: star_contract(edges) incl ckpt", star_edges)
    t("winnow: full q_winnowing_band_clusters", lambda: noop(
        llm.winnowing_band_clusters(spark, SF_DIR)))

    # --- simhash axis ---
    t("simhash: fingerprints", lambda: noop(llm.simhash(d)))
    t("simhash: full q_dedup_simhash_clusters", lambda: noop(
        llm.dedup_simhash_clusters(spark, SF_DIR)))

    # --- jaccard axis ---
    t("jaccard: ngram_jaccard pairs", lambda: noop(
        llm.ngram_jaccard(spark, SF_DIR)))
    t("jaccard: full q_dedup_clusters", lambda: noop(
        llm.dedup_clusters(spark, SF_DIR)))

    # --- minhash kernel ---
    t("minhash_exact: full", lambda: noop(llm.minhash_exact(spark, SF_DIR)))


if __name__ == "__main__":
    main()
