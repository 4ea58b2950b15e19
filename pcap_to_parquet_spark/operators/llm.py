"""LLM-training-data pipeline operators (SURVEY §2 Part B north star):

- deduplication: exact, MinHash+LSH, SimHash, exact n-gram Jaccard,
  embedding-cosine near-dup
- similarity search: brute-force cosine top-k + IVF-bucketed variant
- text analysis: token counting, quality scoring, language-ID
  heuristic, document fingerprinting

Design rules at 100 TB: no collect() of corpus data (only tiny
constants like the query vector / 10 centroids are broadcast); all
pairwise work is *blocked* (LSH bands, SimHash bands, label buckets)
so candidate generation is a key-equality shuffle join, never a
cartesian product; hashes are seeded deterministically.
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pcap_to_parquet_spark.functions.text import (
    SHINGLES_SQL,
    WHITESPACE_TOKENS_SQL,
    shingles,
    whitespace_tokens,
    whitespace_tokens_sql,
)
from pcap_to_parquet_spark.functions.vectors import cosine_similarity
from pcap_to_parquet_spark.registry import query
from pcap_to_parquet_spark.session import observed_checkpoint
from pcap_to_parquet_spark.sources import fan_out, load_table

# ---------------------------------------------------------------------------
# deterministic MinHash parameters (fixed seed; SURVEY §7 "fixed hash seeds")
MINHASH_PERMS = 128
MINHASH_BANDS = 16  # 16 bands × 8 rows
MINHASH_ROWS = MINHASH_PERMS // MINHASH_BANDS
# permutation field: p MUST NOT exceed the base-hash domain. With the
# original p = 2^61-1 over 31-bit inputs, a*h+b < 2^63 wraps the modulus
# at most 3 times, so every "permutation" was a piecewise-monotone
# function of h with <= 4 pieces — the 128 minima all chased the same
# smallest-h shingles and the estimator collapsed (measured at sf0.001:
# a TRUE-Jaccard 0.006 pair estimated at 0.95, a 0.95 pair missed).
# With p = 2^31-1 (Mersenne prime) and 31-bit a, products wrap ~2^31
# times: the classic (a*h + b) mod p universal family, int64-safe.
_MERSENNE = (1 << 31) - 1
_rng = random.Random(42)
_MINHASH_AB = [
    (_rng.randrange(1, _MERSENNE), _rng.randrange(0, _MERSENNE))
    for _ in range(MINHASH_PERMS)
]


# ---------------------------------------------------------------------------
# exact dedup


@query(
    "q_dedup_exact",
    r"""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on content, keep the smallest doc_id.
    At scale: group on md5(text) (16 bytes) instead of the full text so
    the shuffle carries digests, not documents."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-dedup (rows-only: hashing not expressible in DuckDB SQL)


def minhash_signatures(d: DataFrame) -> DataFrame:
    """(doc_id, sig: array<long> of MINHASH_PERMS minima).

    ZERO-shuffle signature computation. JVM-side work is ONE flat
    ``transform`` hashing each token with xxhash64 — no string shingle
    concatenation ever exists. The numpy pandas UDF then does all the
    shingle math vectorized: 3-gram shingle hash as a multiply-mix of
    three consecutive token hashes (uint64 wraparound, masked to 31
    bits), ``np.unique`` for in-doc dedup, and the 128 permutation
    minima from one broadcast ``(h[:,None] * A + B) % M`` column-min.
    Map-only: no explode, no groupBy, nothing crosses the network.

    Rejected alternatives (measured at sf0.1): string shingles +
    array_distinct + per-shingle xxhash in HOFs (the r1 shape) — HOF
    lambdas are interpreted per element and allocate shingle strings,
    2.5× slower (0.70 s vs 0.28 s warm); nested ``transform`` HOFs
    (~10× slower); explode + 128 codegen'd ``min`` aggregates (adds a
    shuffle and ~2-3 s one-time JIT). ``a*h + b`` stays within 62 bits
    (31-bit hash × 31-bit a — overflow-safe in numpy int64).
    """
    A = np.array([a for a, _ in _MINHASH_AB], dtype=np.int64)
    B = np.array([b for _, b in _MINHASH_AB], dtype=np.int64)
    _MIX1 = np.uint64(0x9E3779B97F4A7C15)  # golden-ratio odd constants
    _MIX2 = np.uint64(0xC2B2AE3D27D4EB4F)
    _MASK31 = np.uint64(0x7FFFFFFF)

    @F.pandas_udf("array<long>")
    def sig_of(th: pd.Series) -> pd.Series:
        out = []
        for h in th:
            if h is None or len(h) < 3:
                out.append(None)
                continue
            t = np.asarray(h, dtype=np.int64).astype(np.uint64)
            s = (t[:-2] * _MIX1 + t[1:-1] * _MIX2 + t[2:]) & _MASK31
            hv = (np.unique(s).astype(np.int64) % _MERSENNE)[:, None]
            out.append(((hv * A[None, :] + B[None, :]) % _MERSENNE).min(axis=0))
        return pd.Series(out)

    tok_hashes = F.transform(whitespace_tokens("text"), lambda s: F.xxhash64(s))
    base = (
        fan_out(d)
        .select("doc_id", tok_hashes.alias("th"))
        # docs with < 3 tokens have no shingles (parity with the string
        # shingle path); pre-UDF filter so the UDF runs exactly once
        .filter(F.size("th") >= 3)
    )
    return base.select("doc_id", sig_of("th").alias("sig"))


def _band_pairs(bands: DataFrame) -> DataFrame:
    """(doc_a, doc_b), doc_a < doc_b: the docs whose band key ``bh``
    matches in at least one ``band``. The one key-equality self-join
    of LSH banding, so candidates never come from a cartesian."""
    x, y = bands.alias("x"), bands.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bh") == F.col("y.bh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("doc_a"), F.col("y.doc_id").alias("doc_b"))
        .distinct()
    )


def _with_sigs(pairs: DataFrame, sig: DataFrame) -> DataFrame:
    """``pairs`` with both docs' signatures from the (doc_id, sig)
    frame ``sig``, as sig_a and sig_b."""
    return pairs.join(sig.toDF("doc_a", "sig_a"), "doc_a").join(
        sig.toDF("doc_b", "sig_b"), "doc_b"
    )


def _agree(a: str, b: str, p: int = MINHASH_PERMS) -> Column:
    """How many of the first ``p`` positions of the signature arrays
    ``a`` and ``b`` hold the same minimum."""
    eq = F.zip_with(F.slice(a, 1, p), F.slice(b, 1, p), lambda x, y: x == y)
    return F.size(F.filter(eq, lambda e: e))


@query("q_dedup_minhash")  # rows-only
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup candidates: shingle → 128 minhashes → 16
    bands of 8 → bucket-join on (band, bh) → estimate Jaccard as
    the fraction of agreeing minhashes; keep est ≥ 0.7.

    The only pairwise work happens inside LSH buckets (key-equality
    join), so the plan is shuffle-bounded by the number of colliding
    docs, never O(n²)."""
    d = load_table(spark, sf_dir, "documents")
    # localCheckpoint, NOT cache(): sigs is consumed three times by this
    # one plan (bands explode + both est joins), which the checkpoint
    # serves without recomputation. cache() would additionally register
    # the subplan in the session CacheManager, where any LATER
    # semantically-equal invocation (the bench's 2nd/3rd runs) is served
    # from memory — cross-run result reuse the bench must not price.
    # The checkpointed RDD is invocation-local and reclaimed by the
    # ContextCleaner once the plan is garbage-collected.
    sigs = minhash_signatures(d).localCheckpoint(eager=True)
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[F.element_at("sig", b * MINHASH_ROWS + r + 1) for r in range(MINHASH_ROWS)]
                        ).alias("bh"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")
    est = _with_sigs(_band_pairs(bands), sigs).select(
        "doc_a",
        "doc_b",
        (_agree("sig_a", "sig_b").cast("double") / MINHASH_PERMS).alias("est_jaccard"),
    )
    return est.filter(F.col("est_jaccard") >= 0.7).orderBy("doc_a", "doc_b")


# ---------------------------------------------------------------------------
# SimHash near-dedup (rows-only)

SIMHASH_BITS = 64
SIMHASH_BANDS = 4  # 4 × 16-bit bands; hamming ≤ 3 guarantees ≥1 exact band


def simhash(d: DataFrame) -> DataFrame:
    """(doc_id, simhash): 64-bit SimHash over whitespace tokens
    (frequency-weighted: duplicate tokens kept)."""
    toks = fan_out(d).select("doc_id", F.explode(whitespace_tokens("text")).alias("tok"))
    # signed-64 token hash assembled from two 32-bit md5 slices —
    # byte-identical in DuckDB, which is what buys the exact oracle
    # (q_dedup_simhash); swap xxhash64 back for raw production speed
    hi = F.conv(F.substring(F.md5("tok"), 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(F.md5("tok"), 9, 8), 16, 10).cast("long")
    th = (hi - F.when(hi >= F.lit(1 << 31), F.lit(1 << 32)).otherwise(0)) * F.lit(
        1 << 32
    ) + lo
    h = toks.select("doc_id", th.alias("th"))
    # bit 63's mask doesn't fit a positive long — use its two's complement
    masks = [(1 << i) if i < 63 else -(1 << 63) for i in range(SIMHASH_BITS)]
    bit_sums = [
        F.sum(
            F.when(F.col("th").bitwiseAND(F.lit(masks[i])) != 0, 1).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = h.groupBy("doc_id").agg(*bit_sums)
    # assemble the 64-bit fingerprint from the sign of each bit-sum
    fp = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.lit(masks[i])).otherwise(F.lit(0))
        fp = bit if fp is None else fp.bitwiseOR(bit)
    return agg.select("doc_id", fp.alias("simhash"))


SIMHASH_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id, unnest({WHITESPACE_TOKENS_SQL}) AS tok
    FROM documents
),
th AS (
    SELECT doc_id,
           (('0x' || substr(md5(tok), 1, 8))::BIGINT
             - CASE WHEN ('0x' || substr(md5(tok), 1, 8))::BIGINT >= 2147483648
                    THEN 4294967296 ELSE 0 END) * 4294967296
           + ('0x' || substr(md5(tok), 9, 8))::BIGINT AS th
    FROM tok
),
bits AS (
    SELECT doc_id,
           SUM(CASE WHEN (th >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0,
           SUM(CASE WHEN (th >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1,
           SUM(CASE WHEN (th >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2,
           SUM(CASE WHEN (th >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3,
           SUM(CASE WHEN (th >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4,
           SUM(CASE WHEN (th >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5,
           SUM(CASE WHEN (th >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6,
           SUM(CASE WHEN (th >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7,
           SUM(CASE WHEN (th >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8,
           SUM(CASE WHEN (th >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9,
           SUM(CASE WHEN (th >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10,
           SUM(CASE WHEN (th >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11,
           SUM(CASE WHEN (th >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12,
           SUM(CASE WHEN (th >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13,
           SUM(CASE WHEN (th >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14,
           SUM(CASE WHEN (th >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15,
           SUM(CASE WHEN (th >> 16) & 1 = 1 THEN 1 ELSE -1 END) AS b16,
           SUM(CASE WHEN (th >> 17) & 1 = 1 THEN 1 ELSE -1 END) AS b17,
           SUM(CASE WHEN (th >> 18) & 1 = 1 THEN 1 ELSE -1 END) AS b18,
           SUM(CASE WHEN (th >> 19) & 1 = 1 THEN 1 ELSE -1 END) AS b19,
           SUM(CASE WHEN (th >> 20) & 1 = 1 THEN 1 ELSE -1 END) AS b20,
           SUM(CASE WHEN (th >> 21) & 1 = 1 THEN 1 ELSE -1 END) AS b21,
           SUM(CASE WHEN (th >> 22) & 1 = 1 THEN 1 ELSE -1 END) AS b22,
           SUM(CASE WHEN (th >> 23) & 1 = 1 THEN 1 ELSE -1 END) AS b23,
           SUM(CASE WHEN (th >> 24) & 1 = 1 THEN 1 ELSE -1 END) AS b24,
           SUM(CASE WHEN (th >> 25) & 1 = 1 THEN 1 ELSE -1 END) AS b25,
           SUM(CASE WHEN (th >> 26) & 1 = 1 THEN 1 ELSE -1 END) AS b26,
           SUM(CASE WHEN (th >> 27) & 1 = 1 THEN 1 ELSE -1 END) AS b27,
           SUM(CASE WHEN (th >> 28) & 1 = 1 THEN 1 ELSE -1 END) AS b28,
           SUM(CASE WHEN (th >> 29) & 1 = 1 THEN 1 ELSE -1 END) AS b29,
           SUM(CASE WHEN (th >> 30) & 1 = 1 THEN 1 ELSE -1 END) AS b30,
           SUM(CASE WHEN (th >> 31) & 1 = 1 THEN 1 ELSE -1 END) AS b31,
           SUM(CASE WHEN (th >> 32) & 1 = 1 THEN 1 ELSE -1 END) AS b32,
           SUM(CASE WHEN (th >> 33) & 1 = 1 THEN 1 ELSE -1 END) AS b33,
           SUM(CASE WHEN (th >> 34) & 1 = 1 THEN 1 ELSE -1 END) AS b34,
           SUM(CASE WHEN (th >> 35) & 1 = 1 THEN 1 ELSE -1 END) AS b35,
           SUM(CASE WHEN (th >> 36) & 1 = 1 THEN 1 ELSE -1 END) AS b36,
           SUM(CASE WHEN (th >> 37) & 1 = 1 THEN 1 ELSE -1 END) AS b37,
           SUM(CASE WHEN (th >> 38) & 1 = 1 THEN 1 ELSE -1 END) AS b38,
           SUM(CASE WHEN (th >> 39) & 1 = 1 THEN 1 ELSE -1 END) AS b39,
           SUM(CASE WHEN (th >> 40) & 1 = 1 THEN 1 ELSE -1 END) AS b40,
           SUM(CASE WHEN (th >> 41) & 1 = 1 THEN 1 ELSE -1 END) AS b41,
           SUM(CASE WHEN (th >> 42) & 1 = 1 THEN 1 ELSE -1 END) AS b42,
           SUM(CASE WHEN (th >> 43) & 1 = 1 THEN 1 ELSE -1 END) AS b43,
           SUM(CASE WHEN (th >> 44) & 1 = 1 THEN 1 ELSE -1 END) AS b44,
           SUM(CASE WHEN (th >> 45) & 1 = 1 THEN 1 ELSE -1 END) AS b45,
           SUM(CASE WHEN (th >> 46) & 1 = 1 THEN 1 ELSE -1 END) AS b46,
           SUM(CASE WHEN (th >> 47) & 1 = 1 THEN 1 ELSE -1 END) AS b47,
           SUM(CASE WHEN (th >> 48) & 1 = 1 THEN 1 ELSE -1 END) AS b48,
           SUM(CASE WHEN (th >> 49) & 1 = 1 THEN 1 ELSE -1 END) AS b49,
           SUM(CASE WHEN (th >> 50) & 1 = 1 THEN 1 ELSE -1 END) AS b50,
           SUM(CASE WHEN (th >> 51) & 1 = 1 THEN 1 ELSE -1 END) AS b51,
           SUM(CASE WHEN (th >> 52) & 1 = 1 THEN 1 ELSE -1 END) AS b52,
           SUM(CASE WHEN (th >> 53) & 1 = 1 THEN 1 ELSE -1 END) AS b53,
           SUM(CASE WHEN (th >> 54) & 1 = 1 THEN 1 ELSE -1 END) AS b54,
           SUM(CASE WHEN (th >> 55) & 1 = 1 THEN 1 ELSE -1 END) AS b55,
           SUM(CASE WHEN (th >> 56) & 1 = 1 THEN 1 ELSE -1 END) AS b56,
           SUM(CASE WHEN (th >> 57) & 1 = 1 THEN 1 ELSE -1 END) AS b57,
           SUM(CASE WHEN (th >> 58) & 1 = 1 THEN 1 ELSE -1 END) AS b58,
           SUM(CASE WHEN (th >> 59) & 1 = 1 THEN 1 ELSE -1 END) AS b59,
           SUM(CASE WHEN (th >> 60) & 1 = 1 THEN 1 ELSE -1 END) AS b60,
           SUM(CASE WHEN (th >> 61) & 1 = 1 THEN 1 ELSE -1 END) AS b61,
           SUM(CASE WHEN (th >> 62) & 1 = 1 THEN 1 ELSE -1 END) AS b62,
           SUM(CASE WHEN (th >> 63) & 1 = 1 THEN 1 ELSE -1 END) AS b63
    FROM th GROUP BY doc_id
),
fp AS (
    SELECT doc_id, (CASE WHEN b0 > 0 THEN CAST(1 AS BIGINT) ELSE 0 END) + (CASE WHEN b1 > 0 THEN CAST(2 AS BIGINT) ELSE 0 END) + (CASE WHEN b2 > 0 THEN CAST(4 AS BIGINT) ELSE 0 END) + (CASE WHEN b3 > 0 THEN CAST(8 AS BIGINT) ELSE 0 END) + (CASE WHEN b4 > 0 THEN CAST(16 AS BIGINT) ELSE 0 END) + (CASE WHEN b5 > 0 THEN CAST(32 AS BIGINT) ELSE 0 END) + (CASE WHEN b6 > 0 THEN CAST(64 AS BIGINT) ELSE 0 END) + (CASE WHEN b7 > 0 THEN CAST(128 AS BIGINT) ELSE 0 END) + (CASE WHEN b8 > 0 THEN CAST(256 AS BIGINT) ELSE 0 END) + (CASE WHEN b9 > 0 THEN CAST(512 AS BIGINT) ELSE 0 END) + (CASE WHEN b10 > 0 THEN CAST(1024 AS BIGINT) ELSE 0 END) + (CASE WHEN b11 > 0 THEN CAST(2048 AS BIGINT) ELSE 0 END) + (CASE WHEN b12 > 0 THEN CAST(4096 AS BIGINT) ELSE 0 END) + (CASE WHEN b13 > 0 THEN CAST(8192 AS BIGINT) ELSE 0 END) + (CASE WHEN b14 > 0 THEN CAST(16384 AS BIGINT) ELSE 0 END) + (CASE WHEN b15 > 0 THEN CAST(32768 AS BIGINT) ELSE 0 END) + (CASE WHEN b16 > 0 THEN CAST(65536 AS BIGINT) ELSE 0 END) + (CASE WHEN b17 > 0 THEN CAST(131072 AS BIGINT) ELSE 0 END) + (CASE WHEN b18 > 0 THEN CAST(262144 AS BIGINT) ELSE 0 END) + (CASE WHEN b19 > 0 THEN CAST(524288 AS BIGINT) ELSE 0 END) + (CASE WHEN b20 > 0 THEN CAST(1048576 AS BIGINT) ELSE 0 END) + (CASE WHEN b21 > 0 THEN CAST(2097152 AS BIGINT) ELSE 0 END) + (CASE WHEN b22 > 0 THEN CAST(4194304 AS BIGINT) ELSE 0 END) + (CASE WHEN b23 > 0 THEN CAST(8388608 AS BIGINT) ELSE 0 END) + (CASE WHEN b24 > 0 THEN CAST(16777216 AS BIGINT) ELSE 0 END) + (CASE WHEN b25 > 0 THEN CAST(33554432 AS BIGINT) ELSE 0 END) + (CASE WHEN b26 > 0 THEN CAST(67108864 AS BIGINT) ELSE 0 END) + (CASE WHEN b27 > 0 THEN CAST(134217728 AS BIGINT) ELSE 0 END) + (CASE WHEN b28 > 0 THEN CAST(268435456 AS BIGINT) ELSE 0 END) + (CASE WHEN b29 > 0 THEN CAST(536870912 AS BIGINT) ELSE 0 END) + (CASE WHEN b30 > 0 THEN CAST(1073741824 AS BIGINT) ELSE 0 END) + (CASE WHEN b31 > 0 THEN CAST(2147483648 AS BIGINT) ELSE 0 END) + (CASE WHEN b32 > 0 THEN CAST(4294967296 AS BIGINT) ELSE 0 END) + (CASE WHEN b33 > 0 THEN CAST(8589934592 AS BIGINT) ELSE 0 END) + (CASE WHEN b34 > 0 THEN CAST(17179869184 AS BIGINT) ELSE 0 END) + (CASE WHEN b35 > 0 THEN CAST(34359738368 AS BIGINT) ELSE 0 END) + (CASE WHEN b36 > 0 THEN CAST(68719476736 AS BIGINT) ELSE 0 END) + (CASE WHEN b37 > 0 THEN CAST(137438953472 AS BIGINT) ELSE 0 END) + (CASE WHEN b38 > 0 THEN CAST(274877906944 AS BIGINT) ELSE 0 END) + (CASE WHEN b39 > 0 THEN CAST(549755813888 AS BIGINT) ELSE 0 END) + (CASE WHEN b40 > 0 THEN CAST(1099511627776 AS BIGINT) ELSE 0 END) + (CASE WHEN b41 > 0 THEN CAST(2199023255552 AS BIGINT) ELSE 0 END) + (CASE WHEN b42 > 0 THEN CAST(4398046511104 AS BIGINT) ELSE 0 END) + (CASE WHEN b43 > 0 THEN CAST(8796093022208 AS BIGINT) ELSE 0 END) + (CASE WHEN b44 > 0 THEN CAST(17592186044416 AS BIGINT) ELSE 0 END) + (CASE WHEN b45 > 0 THEN CAST(35184372088832 AS BIGINT) ELSE 0 END) + (CASE WHEN b46 > 0 THEN CAST(70368744177664 AS BIGINT) ELSE 0 END) + (CASE WHEN b47 > 0 THEN CAST(140737488355328 AS BIGINT) ELSE 0 END) + (CASE WHEN b48 > 0 THEN CAST(281474976710656 AS BIGINT) ELSE 0 END) + (CASE WHEN b49 > 0 THEN CAST(562949953421312 AS BIGINT) ELSE 0 END) + (CASE WHEN b50 > 0 THEN CAST(1125899906842624 AS BIGINT) ELSE 0 END) + (CASE WHEN b51 > 0 THEN CAST(2251799813685248 AS BIGINT) ELSE 0 END) + (CASE WHEN b52 > 0 THEN CAST(4503599627370496 AS BIGINT) ELSE 0 END) + (CASE WHEN b53 > 0 THEN CAST(9007199254740992 AS BIGINT) ELSE 0 END) + (CASE WHEN b54 > 0 THEN CAST(18014398509481984 AS BIGINT) ELSE 0 END) + (CASE WHEN b55 > 0 THEN CAST(36028797018963968 AS BIGINT) ELSE 0 END) + (CASE WHEN b56 > 0 THEN CAST(72057594037927936 AS BIGINT) ELSE 0 END) + (CASE WHEN b57 > 0 THEN CAST(144115188075855872 AS BIGINT) ELSE 0 END) + (CASE WHEN b58 > 0 THEN CAST(288230376151711744 AS BIGINT) ELSE 0 END) + (CASE WHEN b59 > 0 THEN CAST(576460752303423488 AS BIGINT) ELSE 0 END) + (CASE WHEN b60 > 0 THEN CAST(1152921504606846976 AS BIGINT) ELSE 0 END) + (CASE WHEN b61 > 0 THEN CAST(2305843009213693952 AS BIGINT) ELSE 0 END) + (CASE WHEN b62 > 0 THEN CAST(4611686018427387904 AS BIGINT) ELSE 0 END) + (CASE WHEN b63 > 0 THEN CAST(-9223372036854775808 AS BIGINT) ELSE 0 END) AS simhash
    FROM bits
),
bands AS (
    SELECT doc_id, simhash, i AS band, (simhash >> (i * 16)) & 65535 AS band_key
    FROM fp, UNNEST(range(4)) AS r(i)
),
pairs AS (
    SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
           CAST(bit_count(xor(x.simhash, y.simhash)) AS INTEGER) AS hamming
    FROM bands x
    JOIN bands y ON x.band = y.band AND x.band_key = y.band_key
                AND x.doc_id < y.doc_id
)
SELECT doc_a, doc_b, hamming FROM pairs WHERE hamming <= 3 ORDER BY doc_a, doc_b
"""


def _simhash_band_pairs(fps: DataFrame) -> DataFrame:
    """Banded hamming-≤3 pairing over a (doc_id, simhash) frame: band
    the 64-bit fingerprint into 4×16-bit keys, bucket-join, keep pairs
    with hamming distance ≤ 3 (banding is exact for that radius: 4
    bands, ≤3 differing bits → some band matches). Shared by the pair
    op (all docs) and the cluster labeling (distinct-fingerprint reps
    only) so the pairing rule cannot diverge."""
    bands = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned("simhash", b * 16).bitwiseAND(F.lit(0xFFFF)).alias("band_key"),
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "simhash", "bk.band", "bk.band_key")
    pairs = (
        bands.alias("x")
        .join(
            bands.alias("y"),
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_key") == F.col("y.band_key"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash"))).alias("hamming"),
        )
        # radius filter BEFORE the distinct:
        # hamming is a pure function of the pair, so filtering first is
        # result-identical and the distinct's exchange dedups only
        # within-radius pairs instead of the raw band-candidate volume
        .filter(F.col("hamming") <= 3)
        .distinct()
    )
    return pairs


@query("q_dedup_simhash", SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: band the 64-bit fingerprint into 4×16-bit keys,
    bucket-join, keep pairs with hamming distance ≤ 3 (banding is exact
    for that radius: 4 bands, ≤3 differing bits → some band matches)."""
    d = load_table(spark, sf_dir, "documents")
    # localCheckpoint, NOT cache(): invocation-local reuse only (the
    # band self-join reads fps twice); cache() would serve later
    # semantically-equal invocations from the session CacheManager
    fps = simhash(d).localCheckpoint(eager=True)
    return _simhash_band_pairs(fps).orderBy("doc_a", "doc_b")


# cluster labels for the SimHash axis — the third labeling of the
# dedup method matrix (jaccard has q_dedup_clusters, winnowing
# has q_winnowing_band_clusters)
SIMHASH_CLUSTERS_ORACLE = f"""
WITH RECURSIVE sp AS ({SIMHASH_ORACLE}),
sedges AS (
    SELECT doc_a AS a, doc_b AS b FROM sp
    UNION SELECT doc_b, doc_a FROM sp
),
sreach AS (
    SELECT doc_id, doc_id AS r FROM documents
    UNION
    SELECT e.b AS doc_id, sreach.r FROM sreach JOIN sedges e ON e.a = sreach.doc_id
)
SELECT doc_id, MIN(r) AS cluster_id FROM sreach GROUP BY doc_id
"""


@query("q_dedup_simhash_clusters", SIMHASH_CLUSTERS_ORACLE)
def dedup_simhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER LABELS over the SimHash hamming-≤3 graph — the third
    axis of the dedup method matrix gets its canonical-document
    selection step (jaccard: q_dedup_clusters; winnowing:
    q_winnowing_band_clusters): every document takes the minimum
    doc_id of its connected component as cluster_id; docs with no
    tokens carry no fingerprint and stay singletons. [engine — not in
    reference]

    Scale design: identical fingerprints collapse FIRST (group by the
    64-bit value, rep = min doc_id — hamming-0 cliques never enter the
    join, the same discipline as the winnowing rep-collapse), the
    shared _simhash_band_pairs kernel pairs only DISTINCT fingerprints,
    and _rep_labels contracts the fingerprint-rep graph and joins the
    labels back. Oracle: recursive reachability over the verbatim pair
    oracle, seeded from ALL documents, so the driver check proves the
    collapse and the plain definition agree."""
    d = load_table(spark, sf_dir, "documents")
    fps = simhash(d).localCheckpoint(eager=True)  # feeds groups + membership
    groups = fps.groupBy("simhash").agg(F.min("doc_id").alias("rep_id"))
    reps = groups.select(F.col("rep_id").alias("doc_id"), "simhash")
    edges = _simhash_band_pairs(reps).select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
    rep_of = fps.join(groups, "simhash").select("doc_id", "rep_id")
    return _rep_labels(rep_of, edges, d)


def _survivors_oracle(cluster_oracle: str) -> str:
    """The keep-longest survivors SELECT over a (doc_id, cluster_id)
    labeling: one row per non-trivial cluster, longest text wins and
    doc_id breaks ties. ``cluster_oracle`` is any SELECT of the labels
    (a whole cluster oracle, or a read of a CTE already holding them).
    The DuckDB twin of _survivors_from_labels."""
    return f"""
WITH lab AS ({cluster_oracle})
SELECT l.cluster_id,
       FIRST(d.doc_id ORDER BY d.n_chars DESC, d.doc_id) AS survivor_doc,
       COUNT(*) AS n_members,
       COUNT(*) - 1 AS n_dropped,
       CAST(MAX(d.n_chars) AS BIGINT) AS survivor_chars
FROM lab l JOIN documents d ON d.doc_id = l.doc_id
GROUP BY l.cluster_id
HAVING COUNT(*) > 1
"""


def _survivors_from_labels(labels: DataFrame, d: DataFrame) -> DataFrame:
    """Keep-longest survivor selection over a (doc_id, cluster_id)
    labeling: ONE max_by aggregate keyed on the cluster id, shared by
    every axis' survivors so the keep policy cannot diverge."""
    return (
        labels.join(d, "doc_id")
        .groupBy("cluster_id")
        .agg(
            F.min_by(
                "doc_id", F.struct((-F.col("n_chars")).alias("neg"), F.col("doc_id"))
            ).alias("survivor_doc"),
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
            F.max("n_chars").alias("survivor_chars"),
        )
        .filter(F.col("n_members") > 1)
    )


SIMHASH_SURVIVORS_ORACLE = _survivors_oracle(SIMHASH_CLUSTERS_ORACLE)


@query("q_dedup_simhash_survivors", SIMHASH_SURVIVORS_ORACLE)
def dedup_simhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SimHash axis' curation DELIVERABLE — one kept document per
    non-trivial hamming-≤3 cluster, completing the symmetric
    pairs → clusters → survivors pipeline on the third axis of the
    dedup matrix (jaccard: q_dedup_survivors; winnowing:
    q_winnowing_band_survivors): longest text wins, doc_id breaks ties
    (the keep rule every axis shares). With q_dedup_method_agreement3 this
    closes the full three-way switch-path: measure agreement, pick an
    axis, take its survivors. [engine — not in reference]

    q_dedup_simhash_clusters' labels through _survivors_from_labels;
    oracle: _survivors_oracle over the cluster oracle."""
    labels = dedup_simhash_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return _survivors_from_labels(labels, d)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (oracle-checkable: pure set algebra)

# document-frequency cap: shingles appearing in more than this many
# docs are boilerplate (headers, licence text, templating) — real dedup
# pipelines drop them before pairing because one hot shingle appearing
# in d docs generates O(d²) candidate pairs. The cap bounds the fan-out
# of the inverted-index self-join at any corpus size.
SHINGLE_DF_CAP = 100


def _shingle_ctes(where: str = "", out: str = "sh") -> str:
    """``tok`` and ``{out}``: the distinct (doc_id, sh) 3-gram shingles
    of the documents meeting the SQL predicate ``where`` (all of them
    when empty). The twin of ``_doc_shingles(d).distinct()``."""
    where = f" WHERE {where}" if where else ""
    return f"""tok AS (
    SELECT doc_id, {WHITESPACE_TOKENS_SQL} AS ws
    FROM documents{where}
),
{out} AS (
    SELECT DISTINCT doc_id, unnest({SHINGLES_SQL}) AS sh
    FROM tok WHERE len(ws) >= 3
)"""


# ``sh``: the shingles of ``sh_all`` found in at most SHINGLE_DF_CAP
# docs (the twin of _drop_hot)
_HOT_CAP_CTES = f"""hot AS (SELECT sh FROM sh_all GROUP BY sh HAVING COUNT(*) > {SHINGLE_DF_CAP}),
sh AS (SELECT s.doc_id, s.sh FROM sh_all s ANTI JOIN hot h USING (sh))"""

# ``n`` (shingles per doc of ``sh``) and ``jp``: every doc_a < doc_b
# sharing a shingle, with n_inter, n_a, n_b and the 6dp Jaccard j
# (the twin of _overlaps). Materialized: containment reads it twice.
_JACCARD_CTES = """n AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
jp AS MATERIALIZED (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter,
           ANY_VALUE(na.n) AS n_a, ANY_VALUE(nb.n) AS n_b,
           ROUND(COUNT(*)::DOUBLE
                 / (ANY_VALUE(na.n) + ANY_VALUE(nb.n) - COUNT(*)), 6) AS j
    FROM sh a
    JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
    JOIN n na ON na.doc_id = a.doc_id
    JOIN n nb ON nb.doc_id = b.doc_id
    GROUP BY a.doc_id, b.doc_id
)"""

NGRAM_JACCARD_ORACLE = f"""
WITH {_shingle_ctes(out="sh_all")},
{_HOT_CAP_CTES},
{_JACCARD_CTES}
SELECT doc_a, doc_b, j AS jaccard FROM jp WHERE j >= 0.8
"""


def _doc_shingles(d: DataFrame) -> DataFrame:
    """(doc_id, sh): every 3-gram shingle of every document of ``d``,
    repeats kept (callers that need a set add their own distinct).
    Over fan_out(d), so a doc_id slice that prunes to one parquet
    split still shingles on every core."""
    return (
        fan_out(d)
        .select("doc_id", whitespace_tokens("text").alias("toks"))
        .select("doc_id", F.explode(shingles("toks", 3)).alias("sh"))
    )


def _drop_hot(sh_all: DataFrame) -> DataFrame:
    """``sh_all`` without the shingles found in more than
    SHINGLE_DF_CAP docs. The hot set grows with the corpus, so the
    anti-join is not force-broadcast: AQE picks broadcast while the
    set fits, and at 100 TB it is a keyed shuffle."""
    hot = (
        sh_all.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > SHINGLE_DF_CAP)
        .select("sh")
    )
    return sh_all.join(hot, "sh", "left_anti")


def _overlaps(sh: DataFrame) -> DataFrame:
    """(doc_a, doc_b, n_inter, n_a, n_b, j) for every doc_a < doc_b
    sharing a shingle of the distinct (doc_id, sh) frame ``sh``: the
    shared count, both shingle counts and the 6dp Jaccard. ONE shingle
    self-join generates the candidates (inverted-index style: only
    docs sharing a shingle ever pair). The per-doc counts grow with
    the corpus, so their joins are unhinted too."""
    n = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    inter = (
        sh.alias("a")
        .join(
            sh.alias("b"),
            (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    union = F.col("n_a") + F.col("n_b") - F.col("n_inter")
    return (
        inter.join(n.toDF("doc_a", "n_a"), "doc_a")
        .join(n.toDF("doc_b", "n_b"), "doc_b")
        .withColumn("j", F.round(F.col("n_inter").cast("double") / union, 6))
    )


@query("q_ngram_jaccard", NGRAM_JACCARD_ORACLE)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard ≥ 0.8 pairs: distinct shingles, the hot
    cap (_drop_hot), then _overlaps' one self-join.
    Note: the word soup here shares shingles heavily; real corpora are
    far sparser. The MinHash variant is the scale path; this is the
    exact oracle-checked twin."""
    d = load_table(spark, sf_dir, "documents")
    # localCheckpoint: sh_all feeds FOUR consumers (hot, the anti-join
    # probe, per-doc counts, both self-join sides); materializing it
    # once measured 1.55 s vs 2.76 s warm at sf0.1 — recompute with
    # exchange reuse loses here, while caching the post-anti-join set
    # (a fifth materialization point tried first) measured SLOWER.
    sh_all = _doc_shingles(d).distinct().localCheckpoint(eager=True)
    jac = _overlaps(_drop_hot(sh_all)).select(
        "doc_a", "doc_b", F.col("j").alias("jaccard")
    )
    return jac.filter(F.col("jaccard") >= 0.8)


# ---------------------------------------------------------------------------
# reproducible train/val/test split (hash-gated, engine-independent)

SPLIT_ORACLE = r"""
WITH gated AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS gate
    FROM documents
)
SELECT doc_id, lang,
       CASE WHEN gate < 80 THEN 'train'
            WHEN gate < 90 THEN 'val'
            ELSE 'test' END AS split
FROM gated
"""


@query("q_train_test_split", SPLIT_ORACLE)
def train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 split: gate = first 16 bits of
    md5(doc_id) mod 100. Content-addressed and engine-independent
    (the oracle recomputes the identical gate in DuckDB), so the
    split survives re-runs, engine swaps, and data reshuffles —
    unlike ``randomSplit``/``sampleBy``, whose seeds are engine- and
    partitioning-dependent. Map-only: no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents")
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    return d.select(
        "doc_id",
        "lang",
        F.when(gate < 80, "train").when(gate < 90, "val").otherwise("test").alias("split"),
    )


# ---------------------------------------------------------------------------
# split balance audit: is the hash split representative per language?

SPLIT_BALANCE_ORACLE = r"""
WITH gated AS (
    SELECT doc_id, lang,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 AS gate
    FROM documents
),
s AS (
    SELECT lang,
           CASE WHEN gate < 80 THEN 'train'
                WHEN gate < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM gated
),
cell AS (SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs
         FROM s GROUP BY split, lang),
st AS (SELECT split, CAST(SUM(n_docs) AS BIGINT) AS split_total
       FROM cell GROUP BY split),
lt AS (SELECT lang, CAST(SUM(n_docs) AS BIGINT) AS lang_total
       FROM cell GROUP BY lang),
g AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS grand FROM cell)
SELECT c.split, c.lang, c.n_docs,
       ROUND(c.n_docs * 1.0 / st.split_total, 6) AS share_in_split,
       ROUND(lt.lang_total * 1.0 / g.grand, 6) AS global_share,
       ROUND(ABS(c.n_docs * 1.0 / st.split_total
                 - lt.lang_total * 1.0 / g.grand), 6) AS abs_dev
FROM cell c JOIN st USING (split) JOIN lt USING (lang) CROSS JOIN g
ORDER BY split, lang
"""


@query("q_split_balance", SPLIT_BALANCE_ORACLE)
def split_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-balance audit of q_train_test_split's hash gate: for every
    (split, language) cell, the language's share WITHIN the split next
    to its share of the whole corpus, and the absolute deviation — the
    representativeness check a team runs before trusting val/test
    metrics per language (a content-addressed split is unbiased only
    in expectation; small languages can still land lopsided, and this
    is the census that says by how much). Reads with q_fairness_audit:
    that op audits a classifier per group, this one audits the split
    itself. [engine — not in reference]

    Scale design: the gate is the same map-only md5 arithmetic as
    q_train_test_split (digits 1-4, so the audit measures exactly the
    split the pipeline ships); corpus-sized work is ONE |splits×langs|
    groupBy with map-side combine, after which split/lang/grand totals
    are re-aggregates of the tiny cell table (broadcast joins back).
    Flat at any corpus size beyond the single partial-agg exchange."""
    d = load_table(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10
    ).cast("int") % 100
    s = d.select(
        "lang",
        F.when(gate < 80, "train")
        .when(gate < 90, "val")
        .otherwise("test")
        .alias("split"),
    )
    cell = s.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    st = cell.groupBy("split").agg(
        F.sum("n_docs").cast("long").alias("split_total")
    )
    lt = cell.groupBy("lang").agg(
        F.sum("n_docs").cast("long").alias("lang_total")
    )
    g = cell.agg(F.sum("n_docs").cast("long").alias("grand"))
    share = F.col("n_docs") * 1.0 / F.col("split_total")
    gshare = F.col("lang_total") * 1.0 / F.col("grand")
    return (
        cell.join(F.broadcast(st), "split")
        .join(F.broadcast(lt), "lang")
        .crossJoin(F.broadcast(g))
        .select(
            "split",
            "lang",
            "n_docs",
            F.round(share, 6).alias("share_in_split"),
            F.round(gshare, 6).alias("global_share"),
            F.round(F.abs(share - gshare), 6).alias("abs_dev"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# data mixing: deterministic per-source sampling rates

MIX_RATES = {"src0": 100, "src1": 75, "src2": 50, "src3": 25}  # percent
_MIX_DEFAULT = 10

MIX_ORACLE = f"""
WITH gated AS (
    SELECT doc_id, source,
           ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 5, 4))::INT % 100 AS gate
    FROM documents
)
SELECT doc_id, source
FROM gated
WHERE gate < CASE source
             WHEN 'src0' THEN {MIX_RATES["src0"]}
             WHEN 'src1' THEN {MIX_RATES["src1"]}
             WHEN 'src2' THEN {MIX_RATES["src2"]}
             WHEN 'src3' THEN {MIX_RATES["src3"]}
             ELSE {_MIX_DEFAULT} END
"""


@query("q_data_mixing", MIX_ORACLE)
def data_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic data mixing: each source is down-sampled at its
    own rate via a content-addressed md5 gate (hex digits 5-8, so the
    mixing gate is independent of the train/val/test gate's digits
    1-4). Same reproducibility argument as q_train_test_split: the
    sample survives re-runs, engine swaps, and repartitioning, unlike
    ``sampleBy``. Map-only at any scale."""
    d = load_table(spark, sf_dir, "documents")
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 5, 4), 16, 10).cast(
        "int"
    ) % 100
    rate = F.col("source")
    expr = F.lit(_MIX_DEFAULT)
    for src, pct in reversed(MIX_RATES.items()):
        expr = F.when(rate == src, pct).otherwise(expr)
    return d.filter(gate < expr).select("doc_id", "source")


# ---------------------------------------------------------------------------
# composite curation pipeline: quality filter → exact dedup → split

CURATION_ORACLE = rf"""
WITH quality AS (
    SELECT doc_id, text,
           len({WHITESPACE_TOKENS_SQL}) AS n_toks
    FROM documents
    WHERE n_chars BETWEEN 100 AND 5000
),
deduped AS (
    SELECT MIN(doc_id) AS doc_id, md5(text) AS text_hash, ANY_VALUE(n_toks) AS n_toks
    FROM quality
    GROUP BY md5(text)
),
split AS (
    SELECT doc_id, n_toks,
           CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 100 < 80
                THEN 'train' ELSE 'heldout' END AS split
    FROM deduped
)
SELECT split, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS total_tokens
FROM split
GROUP BY split
"""


@query("q_curation_pipeline", CURATION_ORACLE)
def curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end curation chain in one plan: length gate → exact
    dedup (keep min doc_id per content hash) → reproducible 80/20
    split → per-split token accounting. Catalyst fuses the whole
    thing into scan → filter (pushed) → one dedup shuffle → map-side
    split/agg — the same shape a 100 TB curation run wants."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.size(whitespace_tokens("text"))
    quality = d.filter(F.col("n_chars").between(100, 5000)).select(
        "doc_id", "text", toks.alias("n_toks")
    )
    deduped = quality.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("doc_id"), F.first("n_toks").alias("n_toks")
    )
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "int"
    ) % 100
    split = deduped.select(
        "n_toks", F.when(gate < 80, "train").otherwise("heldout").alias("split")
    )
    return split.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_toks").alias("total_tokens")
    )


# ---------------------------------------------------------------------------
# dedup clustering: connected components over near-dup pairs

# shared CTE chain (q_ngram_jaccard's CTEs → ≥0.8-Jaccard pairs →
# symmetric edges → recursive reachability) — interpolated by BOTH
# q_dedup_clusters and q_cluster_size_census so the component
# definition can never diverge between the labels and their census.
_DC_CTES = f"""
WITH RECURSIVE {_shingle_ctes(out="sh_all")},
{_HOT_CAP_CTES},
{_JACCARD_CTES},
pairs AS (SELECT doc_a, doc_b FROM jp WHERE j >= 0.8),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION SELECT doc_b, doc_a FROM pairs
),
reach AS (
    SELECT doc_id, doc_id AS r FROM documents
    UNION
    SELECT e.b AS doc_id, reach.r FROM reach JOIN edges e ON e.a = reach.doc_id
)"""

DEDUP_CLUSTERS_ORACLE = rf"""{_DC_CTES}
SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id
"""


@query("q_dedup_clusters", DEDUP_CLUSTERS_ORACLE)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over ≥0.8-Jaccard near-dup pairs: every doc
    gets the min doc_id of its component as cluster_id (singletons keep
    their own id) — the canonical-document selection step that ends a
    dedup pipeline.

    Iterative min-label propagation, the genuinely non-SQL Spark shape
    (the oracle needs a recursive CTE): each round every doc takes the
    min label among itself and its neighbors; near-dup components are
    tiny dense cliques, so convergence is 1-2 rounds (capped at 50,
    checked via a one-scalar aggregate per round — never a corpus
    collect). At graph scale swap in alternating large-star/small-star
    rounds; the per-round join/agg shape is identical."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    # localCheckpoint (not cache): edges embed the whole ngram_jaccard
    # plan, and every round's join would re-embed it (the plan once grew
    # to 218 exchanges). Checkpointing cuts each round's plan to just
    # the round itself.
    edges = (
        pairs.union(pairs.select(F.col("doc_b"), F.col("doc_a")))
        .toDF("a", "b")
        .localCheckpoint(eager=True)
    )
    # no cache() anywhere in the loop: every round ends in ONE
    # observed_checkpoint job that also counts the changed labels. A
    # cached round frame would register in the session CacheManager and
    # serve later semantically-equal invocations (cross-run reuse the
    # bench must not price); checkpointed blocks are reclaimed by the
    # ContextCleaner as each round's reference drops.
    labels = d.select("doc_id", F.col("doc_id").alias("cluster_id"))
    converged = False
    for _round_no in range(50):
        neigh = (
            edges.join(labels, edges.a == labels.doc_id)
            .groupBy(F.col("b").alias("doc_id"))
            .agg(F.min("cluster_id").alias("neigh_min"))
        )
        # carry the old label through the ONE join so the changed count
        # rides this same frame; a second labels-join per round doubles
        # the round's shuffle count for no information gain
        merged, m = observed_checkpoint(
            labels.join(neigh, "doc_id", "left").select(
                "doc_id",
                F.least(
                    "cluster_id", F.coalesce("neigh_min", "cluster_id")
                ).alias("cluster_id"),
                (F.col("cluster_id")
                 != F.least("cluster_id", F.coalesce("neigh_min", "cluster_id"))
                 ).alias("chg"),
            ),
            n_changed=F.sum(F.col("chg").cast("long")),
        )
        changed = m["n_changed"] or 0
        labels = merged.select("doc_id", "cluster_id")
        if changed == 0:
            converged = True
            break
    if not converged:
        # returning stale labels would be silently wrong (components
        # with diameter > 50 — degenerate near-dup chains); fail loud
        raise RuntimeError("dedup_clusters: label propagation did not converge in 50 rounds")
    return labels


# ---------------------------------------------------------------------------
# embedding-cosine near-dup (oracle-checkable via label blocking)

EMBED_NEARDUP_ORACLE = r"""
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label,
       ROUND(CAST(list_cosine_similarity(a.embedding, b.embedding) AS DOUBLE), 4) AS cos_sim
FROM embeddings a
JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.45
"""


@query("q_embed_neardup", EMBED_NEARDUP_ORACLE)
def embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup within label blocks, computed as one BLAS
    gram matrix per block (``applyInPandas``): X·Xᵀ over the block's
    (n × d) float64 matrix, upper triangle, threshold, emit.

    This is the generic blocked-pairwise shape at scale — swap the
    label for an LSH bucket id when no natural key exists; each block
    is one Arrow batch and the only shuffle is the blocking key. A
    pure column-algebra join variant (zip_with/aggregate per pair) was
    10× slower: lambda HOFs evaluate interpreted, and the pairwise
    join re-ran three of them per candidate pair.

    Byte-identical vectors are COLLAPSED to one representative per
    (label, embedding) group before the gram pass (the 100× replica
    rehearsal measured the per-block O(n²d) gram going quadratic in
    duplication multiplicity — 354 s and a 3 GB cosine matrix per
    block): the BLAS work runs on distinct vectors only, then verified
    representative pairs expand back through group membership
    (cross-group pairs inherit the representative cosine — it is a
    function of the two vectors alone; within-group pairs are cosine
    1.0 by identity). Same dedup-before-pairgen move as the
    multimodal MIH ops."""
    em = load_table(spark, sf_dir, "embeddings")

    def gram(pdf):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        order = pdf["vec_id"].to_numpy().argsort()
        ids = pdf["vec_id"].to_numpy()[order]
        x = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(x, axis=1)
        cos = (x @ x.T) / np.outer(norms, norms)
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = cos[ia, ib] > 0.45
        return pd.DataFrame(
            {
                "vec_a": ids[ia[keep]],
                "vec_b": ids[ib[keep]],
                "label": pdf["label"].iloc[0],
                "cos_sim": np.round(cos[ia[keep], ib[keep]], 4),
            }
        )

    wv = Window.partitionBy("label", "embedding")
    m = em.withColumn("rep", F.min("vec_id").over(wv)).localCheckpoint(
        eager=True
    )  # one materialization feeds reps + both expansion sides
    members = m.select("label", "rep", "vec_id")
    reps = m.filter(F.col("vec_id") == F.col("rep")).select(
        "vec_id", "label", "embedding"
    )
    rep_pairs = reps.groupBy("label").applyInPandas(
        gram, schema="vec_a long, vec_b long, label int, cos_sim double"
    )
    ma = members.select(F.col("rep").alias("vec_a"), F.col("vec_id").alias("xa"))
    mb = members.select(F.col("rep").alias("vec_b"), F.col("vec_id").alias("xb"))
    inter = (
        rep_pairs.join(ma, "vec_a")
        .join(mb, "vec_b")
        .select(
            F.least("xa", "xb").alias("vec_a"),
            F.greatest("xa", "xb").alias("vec_b"),
            "label",
            "cos_sim",
        )
    )
    m1 = members.select("rep", "label", F.col("vec_id").alias("vec_a"))
    m2 = members.select("rep", F.col("vec_id").alias("vec_b"))
    intra = (
        m1.join(m2, "rep")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", "label", F.lit(1.0).alias("cos_sim"))
    )
    return inter.unionAll(intra)


# ---------------------------------------------------------------------------
# SemDeDup: semantic (embedding-space) dedup with a keep-one decision

_SEMDEDUP_TAU = 0.45

SEMDEDUP_ORACLE = rf"""
WITH pc AS (
    SELECT b.vec_id,
           CAST(list_cosine_similarity(a.embedding::DOUBLE[],
                                       b.embedding::DOUBLE[]) AS DOUBLE) AS c
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
),
dom AS (
    SELECT vec_id,
           COUNT(*) FILTER (WHERE c >= {_SEMDEDUP_TAU}) AS nd,
           MAX(c) AS mx
    FROM pc GROUP BY vec_id
)
SELECT e.vec_id, e.label,
       COALESCE(d.nd, 0) = 0 AS kept,
       CAST(COALESCE(d.nd, 0) AS BIGINT) AS n_dominators,
       ROUND(d.mx, 4) AS max_lower_sim
FROM embeddings e LEFT JOIN dom d USING (vec_id)
"""


@query("q_semdedup", SEMDEDUP_ORACLE)
def semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): embedding-space semantic dedup
    that makes the KEEP decision, not just the pair list — where
    q_embed_neardup reports near-dup pairs, this emits per vector
    whether it survives: a vector is DROPPED iff some lower-vec_id
    vector in its block has cosine ≥ {tau} (the monotone dominance
    rule — each decision depends only on the raw pairwise graph, never
    on other decisions, so it is one blocked pairwise pass with an
    exact relational oracle; the paper's greedy leader scan is
    sequential within a cluster and differs only when a dropped vector
    is the sole link between two survivors).

    Scale shape: identical to q_embed_neardup — one shuffle on the
    blocking key (label here; an IVF/LSH bucket id in production, the
    paper uses k-means cluster ids), one BLAS gram per block, per-vec
    emit. Dominator counts and the nearest-lower-neighbor similarity
    ride along for threshold tuning.

    Byte-identical vectors COLLAPSE to one representative per (label,
    embedding) group before the gram (the 100× replica rehearsal
    showed the per-block O(n²d) gram quadratic in duplication
    multiplicity). The gram over G distinct vectors emits two bounded
    rep-level structures per target group: the τ-thresholded dominance
    edges (for exact counts) and the running-max-cosine STAIRCASE in
    rep-id order (≈log G rows per group in expectation — enough to
    answer "max cosine among groups whose min id precedes x" for any
    member x, because the max over a prefix of an increasing staircase
    is its last step). Per-member results are then pure rank/join
    arithmetic: a member's dominators are its rank-1 earlier own-group
    twins (cosine 1 by identity) plus, per dominance edge, the source
    group's members with smaller vec_id."""
    em = load_table(spark, sf_dir, "embeddings")

    def rep_model(pdf):  # type: ignore[no-untyped-def]
        # pdf holds ONE REPRESENTATIVE per distinct vector in a label
        order = pdf["vec_id"].to_numpy().argsort()
        ids = pdf["vec_id"].to_numpy()[order]
        x = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(x, axis=1)
        cos = (x @ x.T) / np.outer(norms, norms)
        n = len(ids)
        tgt, src, c, tag = [], [], [], []
        for j in range(n):
            run = -np.inf
            for i in range(n):
                if i == j:
                    continue
                if cos[i, j] >= _SEMDEDUP_TAU:  # dominance edge (count)
                    tgt.append(ids[j]); src.append(ids[i])
                    c.append(float(cos[i, j])); tag.append("d")
                if cos[i, j] > run:  # staircase step (max, unthresholded)
                    run = float(cos[i, j])
                    tgt.append(ids[j]); src.append(ids[i])
                    c.append(run); tag.append("s")
        return pd.DataFrame({"tgt": tgt, "src": src, "c": c, "tag": tag})

    wv = Window.partitionBy("label", "embedding")
    m = (
        em.withColumn("rep", F.min("vec_id").over(wv))
        .withColumn("rank", F.row_number().over(wv.orderBy("vec_id")))
        .localCheckpoint(eager=True)  # one materialization, many readers
    )
    members = m.select("label", "rep", "vec_id", "rank")
    reps = m.filter(F.col("vec_id") == F.col("rep")).select(
        "vec_id", "label", "embedding"
    )
    model = reps.groupBy("label").applyInPandas(
        rep_model, schema="tgt long, src long, c double, tag string"
    )
    x = members.select(
        "label", "vec_id", (F.col("rank") - 1).alias("own_nd"), F.col("rep").alias("tgt")
    )
    # cross-group dominator COUNT: per dominance edge, source-group
    # members with smaller vec_id (row volume = the true answer)
    mb = members.select(F.col("rep").alias("src"), F.col("vec_id").alias("b_id"))
    cross_nd = (
        x.join(model.filter(F.col("tag") == "d").select("tgt", "src"), "tgt")
        .join(mb, "src")
        .filter(F.col("b_id") < F.col("vec_id"))
        .groupBy("vec_id")
        .agg(F.count(F.lit(1)).alias("cnd"))
    )
    # cross-group MAX cosine among groups whose min id (= rep) < x:
    # staircase is increasing in src order, so prefix-max = plain MAX
    cross_mx = (
        x.join(
            model.filter(F.col("tag") == "s").select("tgt", "src", "c"), "tgt"
        )
        .filter(F.col("src") < F.col("vec_id"))
        .groupBy("vec_id")
        .agg(F.max("c").alias("cmx"))
    )
    out = (
        x.join(cross_nd, "vec_id", "left")
        .join(cross_mx, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            (F.col("own_nd") + F.coalesce(F.col("cnd"), F.lit(0))).alias("nd"),
            F.greatest(
                F.when(F.col("own_nd") >= 1, F.lit(1.0)), F.col("cmx")
            ).alias("mx"),
        )
    )
    return out.select(
        "vec_id",
        "label",
        (F.col("nd") == 0).alias("kept"),
        F.col("nd").cast("long").alias("n_dominators"),
        F.round(F.col("mx"), 4).alias("max_lower_sim"),
    )


semdedup.__doc__ = semdedup.__doc__.format(tau=_SEMDEDUP_TAU)


# ---------------------------------------------------------------------------
# similarity search: brute-force top-k and IVF variant

SIM_TOPK_ORACLE = r"""
SELECT b.vec_id, b.label,
       ROUND(CAST(list_cosine_similarity(q.embedding, b.embedding) AS DOUBLE), 5) AS cos_sim
FROM embeddings b, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
WHERE b.vec_id <> 0
ORDER BY list_cosine_similarity(q.embedding, b.embedding) DESC, b.vec_id
LIMIT 10
"""


@query("q_similarity_topk", SIM_TOPK_ORACLE)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast ONLY the query vector (one
    row), scan the corpus once, TakeOrderedAndProject keeps k rows per
    partition — no global sort, no corpus collect. This is the exact
    baseline ANN engines are measured against."""
    em = load_table(spark, sf_dir, "embeddings")
    qvec = em.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_embedding"))
    cos = cosine_similarity("q_embedding", "embedding")
    return (
        em.filter(F.col("vec_id") != 0)
        .join(F.broadcast(qvec))
        .select("vec_id", "label", cos.alias("raw_cos"))
        .orderBy(F.col("raw_cos").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("raw_cos", 5).alias("cos_sim"))
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embeddings table, fanned out and materialized once for the
    kernels that re-read it across several driver actions.
    localCheckpoint, NOT cache(): cache() would also register the
    subplan in the session CacheManager and serve later
    semantically-equal invocations (other embedding queries, repeated
    bench runs) from memory."""
    return fan_out(load_table(spark, sf_dir, "embeddings")).localCheckpoint(eager=True)


def _ivf_centroids(em: DataFrame) -> DataFrame:
    """(c_label, centroid): elementwise-mean embedding per label — the
    deterministic IVF coarse quantizer shared by q_similarity_ivf,
    q_ivf_pq and q_ivf_probe_curve (explode (pos, val), avg,
    re-assemble)."""
    comp = em.select(
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    return (
        comp.groupBy("label", "pos")
        .agg(F.avg("val").alias("cval"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cval"))).alias("pv"))
        .select(
            F.col("label").alias("c_label"),
            F.transform("pv", lambda s: s.getField("cval")).alias("centroid"),
        )
    )


def _ivf_probe(em: DataFrame, qvec: DataFrame, n_probes: int) -> DataFrame:
    """c_label of the ``n_probes`` IVF lists whose centroids are
    cosine-nearest the one-row ``qvec`` (column q_embedding), ties by
    label. The 10 centroid rows are driver-sized but ranked in-plan."""
    return (
        _ivf_centroids(em)
        .join(F.broadcast(qvec))
        .select("c_label", cosine_similarity("q_embedding", "centroid").alias("c_cos"))
        .orderBy(F.col("c_cos").desc(), F.col("c_label"))
        .limit(n_probes)
        .select("c_label")
    )


SIM_IVF_ORACLE = r"""
WITH comp AS (
    SELECT label, i - 1 AS pos, CAST(e.embedding[i] AS DOUBLE) AS val
    FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) t(i)
),
cent AS (
    SELECT label AS c_label, list(cval ORDER BY pos) AS centroid
    FROM (SELECT label, pos, AVG(val) AS cval FROM comp GROUP BY label, pos)
    GROUP BY label
),
q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT c_label FROM cent, q
    ORDER BY list_cosine_similarity(q.embedding::DOUBLE[], cent.centroid)
             DESC, c_label
    LIMIT 2
)
SELECT b.vec_id, b.label,
       ROUND(CAST(list_cosine_similarity(q.embedding, b.embedding) AS DOUBLE),
             5) AS cos_sim
FROM embeddings b, q
WHERE b.vec_id <> 0 AND b.label IN (SELECT c_label FROM probe)
ORDER BY list_cosine_similarity(q.embedding, b.embedding) DESC, b.vec_id
LIMIT 10
"""


@query("q_similarity_ivf", SIM_IVF_ORACLE)
def similarity_ivf(
    spark: SparkSession, sf_dir: str, n_probes: int = 2
) -> DataFrame:
    """IVF-style ANN: build 10 centroids (mean embedding per label),
    probe the ``n_probes`` centroids nearest the query, and brute-force
    ONLY vectors assigned to those centroids. The inverted lists are a
    partition pruning structure: at 100 TB the corpus is written
    partitioned by centroid id and the probe reads n_probes/10 of the
    data. Recall rises monotonically with n_probes (measured on the
    synthetic embeddings: ~0.3 recall@10 at 2 probes — the labels
    cluster the space only weakly — 1.0 at 10 probes == brute force);
    tests/test_llm_ops.py pins the tradeoff curve. Approximate relative
    to brute force but fully DETERMINISTIC (centroids are label means),
    so the oracle replays the exact probe: measured probe-boundary
    margin is ~0.028 cosine, 13 orders above cross-engine float
    noise."""
    em = load_table(spark, sf_dir, "embeddings")
    qvec = em.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_embedding"))
    probe = _ivf_probe(em, qvec, n_probes)
    cos = cosine_similarity("q_embedding", "embedding")
    return (
        em.filter(F.col("vec_id") != 0)
        .join(F.broadcast(probe), em.label == F.col("c_label"), "left_semi")
        .join(F.broadcast(qvec))
        .select("vec_id", "label", cos.alias("raw_cos"))
        .orderBy(F.col("raw_cos").desc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("raw_cos", 5).alias("cos_sim"))
    )


# ---------------------------------------------------------------------------
# IVF probe-count tuning curve: recall vs scan cost across the nprobe
# grid — the deployment decision behind every IVF index

_IVFC_Q = 8  # query panel: vec_id 0..7; corpus: vec_id >= 8
_IVFC_K = 10
_IVFC_GRID = [1, 2, 4, 8, 10]

IVF_PROBE_CURVE_ORACLE = rf"""
WITH comp AS (
    SELECT label, i - 1 AS pos, CAST(e.embedding[i] AS DOUBLE) AS val
    FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) t(i)
),
cent AS (
    SELECT label AS c_label, list(cval ORDER BY pos) AS centroid
    FROM (SELECT label, pos, AVG(val) AS cval FROM comp GROUP BY label, pos)
    GROUP BY label
),
q AS (SELECT vec_id AS qid, embedding AS qe
      FROM embeddings WHERE vec_id < {_IVFC_Q}),
crank AS (
    SELECT q.qid, c.c_label,
           ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
               ROUND(CAST(list_cosine_similarity(q.qe::DOUBLE[], c.centroid)
                          AS DOUBLE), 9) DESC,
               c.c_label) AS crn
    FROM q, cent c
),
bc AS (
    SELECT q.qid, b.vec_id, b.label,
           ROUND(CAST(list_cosine_similarity(q.qe::DOUBLE[],
                                             b.embedding::DOUBLE[])
                      AS DOUBLE), 9) AS c
    FROM q, embeddings b WHERE b.vec_id >= {_IVFC_Q}
),
exact10 AS (
    SELECT qid, vec_id FROM (
        SELECT qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY c DESC, vec_id) AS rn
        FROM bc) x WHERE rn <= {_IVFC_K}
),
grid AS (SELECT unnest([{", ".join(str(p) for p in _IVFC_GRID)}]) AS probes),
probed AS (
    SELECT g.probes, cr.qid, cr.c_label
    FROM grid g JOIN crank cr ON cr.crn <= g.probes
),
scanned AS (
    SELECT p.probes, p.qid, bc.vec_id, bc.c
    FROM probed p JOIN bc ON bc.qid = p.qid AND bc.label = p.c_label
),
ivf10 AS (
    SELECT probes, qid, vec_id FROM (
        SELECT probes, qid, vec_id,
               ROW_NUMBER() OVER (PARTITION BY probes, qid
                                  ORDER BY c DESC, vec_id) AS rn
        FROM scanned) x WHERE rn <= {_IVFC_K}
),
hit AS (SELECT i.probes, i.qid, CAST(COUNT(*) AS BIGINT) AS n_hit
        FROM ivf10 i JOIN exact10 e ON e.qid = i.qid AND e.vec_id = i.vec_id
        GROUP BY i.probes, i.qid),
den AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_exact
        FROM exact10 GROUP BY qid),
scn AS (SELECT probes, qid, CAST(COUNT(*) AS BIGINT) AS n_scanned
        FROM scanned GROUP BY probes, qid),
corp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus
         FROM embeddings WHERE vec_id >= {_IVFC_Q}),
pq AS (
    SELECT s.probes, s.qid,
           COALESCE(h.n_hit, 0) * 1.0 / NULLIF(d.n_exact, 0) AS recall,
           s.n_scanned * 1.0 / NULLIF(corp.n_corpus, 0) AS scan_frac
    FROM scn s CROSS JOIN corp
    JOIN den d ON d.qid = s.qid
    LEFT JOIN hit h ON h.probes = s.probes AND h.qid = s.qid
)
SELECT probes, CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(AVG(recall), 4) AS avg_recall,
       ROUND(AVG(scan_frac), 4) AS avg_scan_frac
FROM pq GROUP BY probes ORDER BY probes
"""


@query("q_ivf_probe_curve", IVF_PROBE_CURVE_ORACLE)
def ivf_probe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe-count TUNING CURVE — the nprobe decision behind every
    IVF deployment, measured instead of guessed: for each probe count
    on the grid, mean recall@{k} against the exact brute-force top-{k}
    over an {nq}-query panel, next to the mean fraction of the corpus
    the probe actually scans. q_similarity_ivf ships ONE committed
    probe count; this op prices the whole recall-vs-scan frontier so
    the index setting is a lookup — the IVF twin of q_lsh_planner
    (band geometry) and q_minhash_perm_sensitivity (signature budget),
    closing the tuning axis for all three ANN/sketch families.
    [engine — not in reference]

    Scale design: the corpus-sized work is ONE panel-broadcast scan
    computing the {nq}x|corpus| cosine frame (localCheckpointed — it
    feeds both the exact ranking and every probe set's ranking);
    centroid ranking is |panel|x|labels| rows, the probe grid joins are
    label-keyed on that tiny frame, and every downstream aggregate is
    per-(probes, qid) on top-{k}-bounded or label-pruned rows.
    Similarities are 9dp-rounded before ranking (the retrieval-eval
    discipline) so both engines rank identically; probe-boundary
    centroid margins are ~1e-2 cosine, far above float noise."""
    em = load_table(spark, sf_dir, "embeddings")
    cent = _ivf_centroids(em)
    panel = em.where(F.col("vec_id") < _IVFC_Q).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    crank = (
        cent.crossJoin(F.broadcast(panel))
        .select(
            "qid",
            "c_label",
            F.round(cosine_similarity("qe", "centroid"), 9).alias("cc"),
        )
        .withColumn(
            "crn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.col("cc").desc(), F.col("c_label")
                )
            ),
        )
    )
    bc = (
        em.where(F.col("vec_id") >= _IVFC_Q)
        .crossJoin(F.broadcast(panel))
        .select(
            "qid",
            "vec_id",
            "label",
            F.round(cosine_similarity("qe", "embedding"), 9).alias("c"),
        )
        .localCheckpoint(eager=True)  # feeds exact ranking + probe rankings
    )
    exact10 = (
        bc.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(F.col("c").desc(), F.col("vec_id"))
            ),
        )
        .where(F.col("rn") <= _IVFC_K)
        .select("qid", "vec_id")
    )
    grid = spark.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in _IVFC_GRID])).alias("probes")
    )
    # probed's qid is renamed p_qid BEFORE the join: both bc and probed
    # derive qid from the same `panel` lineage, and a bc.qid == probed.qid
    # predicate would be a trivially-true self-comparison that Spark only
    # rescues via Dataset self-join auto-disambiguation (fragile across
    # refactors). Distinct attribute names make the equi-join unambiguous.
    probed = grid.join(
        F.broadcast(crank.select("qid", "c_label", "crn")),
        F.col("crn") <= F.col("probes"),
    ).select(
        "probes", F.col("qid").alias("p_qid"), F.col("c_label").alias("p_label")
    )
    scanned = bc.join(
        F.broadcast(probed),
        (bc.qid == probed.p_qid) & (bc.label == probed.p_label),
    ).select(bc.qid, "probes", "vec_id", "c")
    ivf10 = (
        scanned.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("probes", "qid").orderBy(
                    F.col("c").desc(), F.col("vec_id")
                )
            ),
        )
        .where(F.col("rn") <= _IVFC_K)
        .select("probes", "qid", "vec_id")
    )
    hit = ivf10.join(exact10, ["qid", "vec_id"], "left_semi").groupBy(
        "probes", "qid"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    den = exact10.groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    scn = scanned.groupBy("probes", "qid").agg(
        F.count(F.lit(1)).cast("long").alias("n_scanned")
    )
    corp = em.where(F.col("vec_id") >= _IVFC_Q).agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus")
    )
    pq = (
        scn.crossJoin(F.broadcast(corp))
        .join(F.broadcast(den), "qid")
        .join(F.broadcast(hit), ["probes", "qid"], "left")
        .select(
            "probes",
            "qid",
            (
                F.coalesce(F.col("n_hit"), F.lit(0))
                * 1.0
                / F.nullif(F.col("n_exact"), F.lit(0))
            ).alias("recall"),
            (F.col("n_scanned") * 1.0 / F.nullif(F.col("n_corpus"), F.lit(0))).alias(
                "scan_frac"
            ),
        )
    )
    return (
        pq.groupBy("probes")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_queries"),
            F.round(F.avg("recall"), 4).alias("avg_recall"),
            F.round(F.avg("scan_frac"), 4).alias("avg_scan_frac"),
        )
        .orderBy("probes")
    )


ivf_probe_curve.__doc__ = ivf_probe_curve.__doc__.format(k=_IVFC_K, nq=_IVFC_Q)


# ---------------------------------------------------------------------------
# k-means over embeddings (iterative Lloyd; clustering as a curation
# primitive: topic buckets, diversity sampling, IVF coarse quantizers)

KMEANS_K = 8
KMEANS_ITERS = 3


def kmeans_assign(em: DataFrame, centroids) -> DataFrame:  # type: ignore[no-untyped-def]
    """(vec_id, cluster): nearest-centroid assignment by cosine.

    The centroid matrix is a driver-side constant (k × d floats — the
    only thing ever collected), broadcast inside a vectorized pandas
    UDF: each Arrow batch is one (n × d) @ (d × k) matmul. Map-only."""
    c = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)

    @F.pandas_udf("int")
    def assign(e: pd.Series) -> pd.Series:
        x = np.stack(e.to_numpy()).astype(np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        return pd.Series((x @ c.T).argmax(axis=1).astype(np.int32))

    return em.select("vec_id", assign("embedding").alias("cluster"))


def _kmeans_oracle() -> str:
    """Exact SQL replay of the Lloyd loop as a materialized-CTE chain
    (the q_kcore/q_unigram_lm unroll trick). Replayability rests on two
    measured facts at sf0.01: the min winner-vs-runner-up cosine margin
    across all rounds is 7.4e-5 and the per-dim means sit ≥3.9e-10 from
    a 6dp rounding boundary — both orders of magnitude above the ~1e-12
    cross-engine float-summation noise, so argmax and ROUND agree
    bit-for-bit between Spark partial aggs and DuckDB sequential sums.
    Centroids are rounded to 6dp in BOTH engines after every update
    (the q_embed_outliers trick); empty clusters keep their previous
    centroid via COALESCE, mirroring the Spark driver loop."""
    steps = [
        """el AS MATERIALIZED (
    SELECT vec_id, i.p AS pos, CAST(embedding[i.p] AS DOUBLE) AS val
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(p)
)""",
        """nx AS MATERIALIZED (
    SELECT vec_id, GREATEST(sqrt(SUM(val * val)), 1e-12) AS nrm
    FROM el GROUP BY vec_id
)""",
        f"""c0 AS MATERIALIZED (
    SELECT s.cluster, el.pos, el.val AS cval
    FROM (SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                     AS cluster
          FROM embeddings ORDER BY vec_id LIMIT {KMEANS_K}) s
    JOIN el ON el.vec_id = s.vec_id
)""",
    ]
    assign = """a{r} AS MATERIALIZED (
    SELECT vec_id, cluster FROM (
        SELECT d.vec_id, d.cluster,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id
                                  ORDER BY d.cos DESC, d.cluster) AS rk
        FROM (
            SELECT el.vec_id, c.cluster,
                   SUM(el.val * c.cval)
                       / (ANY_VALUE(nx.nrm) * ANY_VALUE(nc.nrm)) AS cos
            FROM el
            JOIN c{p} c ON el.pos = c.pos
            JOIN nx ON nx.vec_id = el.vec_id
            JOIN nc{p} nc ON nc.cluster = c.cluster
            GROUP BY el.vec_id, c.cluster
        ) d
    ) WHERE rk = 1
)"""
    for r in range(1, KMEANS_ITERS + 1):
        p = r - 1
        steps.append(
            f"""nc{p} AS MATERIALIZED (
    SELECT cluster, sqrt(SUM(cval * cval)) AS nrm FROM c{p} GROUP BY cluster
)"""
        )
        steps.append(assign.format(r=r, p=p))
        steps.append(
            f"""m{r} AS MATERIALIZED (
    SELECT a.cluster, el.pos, ROUND(AVG(el.val), 6) AS cval
    FROM a{r} a JOIN el ON el.vec_id = a.vec_id
    GROUP BY a.cluster, el.pos
)"""
        )
        steps.append(
            f"""c{r} AS MATERIALIZED (
    SELECT p.cluster, p.pos, COALESCE(m.cval, p.cval) AS cval
    FROM c{p} p LEFT JOIN m{r} m ON m.cluster = p.cluster AND m.pos = p.pos
)"""
        )
    f = KMEANS_ITERS
    steps.append(
        f"""nc{f} AS MATERIALIZED (
    SELECT cluster, sqrt(SUM(cval * cval)) AS nrm FROM c{f} GROUP BY cluster
)"""
    )
    steps.append(assign.format(r=f + 1, p=f))
    return (
        "WITH "
        + ",\n".join(steps)
        + f"""
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n_vecs,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
FROM a{f + 1}
GROUP BY cluster ORDER BY cluster
"""
    )


KMEANS_ORACLE = _kmeans_oracle()


@query("q_kmeans", KMEANS_ORACLE)
def kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, 3 iterations, cosine): deterministic init
    from the k smallest vec_ids; per-iteration the assignment is a
    map-only batched matmul and the update is one groupBy computing
    per-dimension means (posexplode → avg → re-assemble). Only the
    k × d centroid matrix ever reaches the driver — the standard
    big-data k-means loop shape. Output is integer-only (cluster
    sizes + min member id).

    EXACT oracle: centroids are 6dp-rounded after every update in both
    engines and the whole loop is unrolled as a materialized-CTE chain
    in SQL — see
    _kmeans_oracle's docstring for the measured margins that make the
    replay bit-exact."""
    em = _embeddings(spark, sf_dir)
    init = em.orderBy("vec_id").limit(KMEANS_K).collect()
    centroids = np.stack([np.asarray(r.embedding, dtype=np.float64) for r in init])
    for _ in range(KMEANS_ITERS):
        assigned = kmeans_assign(em, centroids)
        upd = (
            em.join(assigned, "vec_id")
            .select(
                "cluster",
                F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
                    "pos", "val"
                ),
            )
            .groupBy("cluster", "pos")
            # 6dp round in BOTH engines: float-summation order (Spark
            # partial aggs vs DuckDB sequential) cannot reach the oracle
            .agg(F.round(F.avg("val"), 6).alias("m"))
            .groupBy("cluster")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select("cluster", F.transform("pm", lambda s: s.getField("m")).alias("centroid"))
            .collect()
        )
        for r in upd:  # empty clusters keep their previous centroid
            centroids[r.cluster] = np.asarray(r.centroid, dtype=np.float64)
    final = kmeans_assign(em, centroids)
    return (
        final.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_vecs"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("cluster")
    )


# ---------------------------------------------------------------------------
# text analysis


@query(
    "q_text_stats",
    rf"""
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 4) AS avg_chars,
           ROUND(AVG(len({WHITESPACE_TOKENS_SQL})), 4)
               AS avg_tokens,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang
    """,
)
def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        F.round(F.avg(F.size(whitespace_tokens("text"))), 4).alias("avg_tokens"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


@query(
    "q_token_count",
    rf"""
    SELECT doc_id,
           len({WHITESPACE_TOKENS_SQL}) AS n_ws_tokens,
           len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace tokens and a BPE-ish regex
    pre-tokenizer (letter runs / digit runs / single punctuation)."""
    d = load_table(spark, sf_dir, "documents")
    bpe_re = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    return d.select(
        "doc_id",
        F.size(whitespace_tokens("text")).cast("bigint").alias("n_ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(bpe_re), F.lit(0)))
        .cast("bigint")
        .alias("n_bpe_tokens"),
    )


QUALITY_ORACLE = rf"""
SELECT doc_id,
       ROUND(len({WHITESPACE_TOKENS_SQL})::DOUBLE
             / GREATEST(n_chars, 1), 6) AS token_density,
       ROUND(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::DOUBLE
             / GREATEST(n_chars, 1), 6) AS punct_ratio,
       ROUND(len(list_filter({WHITESPACE_TOKENS_SQL},
                             t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
             / GREATEST(len({WHITESPACE_TOKENS_SQL}), 1), 6)
           AS stopword_ratio,
       (n_chars BETWEEN 100 AND 5000) AS length_ok
FROM documents
"""


@query("q_quality_score", QUALITY_ORACLE)
def quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality signals: token density, punctuation ratio,
    stopword ratio, length gate — the standard pre-training filters."""
    d = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    n_toks = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to")))
    punct = F.size(F.regexp_extract_all("text", F.lit(r"[^a-zA-Z0-9 ]"), F.lit(0)))
    denom = F.greatest(F.col("n_chars"), F.lit(1))
    return d.select(
        "doc_id",
        F.round(n_toks.cast("double") / denom, 6).alias("token_density"),
        F.round(punct.cast("double") / denom, 6).alias("punct_ratio"),
        F.round(stop.cast("double") / F.greatest(n_toks, F.lit(1)), 6).alias("stopword_ratio"),
        F.col("n_chars").between(100, 5000).alias("length_ok"),
    )


# Filter-attribution rules: each gate on the 6dp-rounded q_quality_score
# signals so a last-ulp ratio difference can never flip a decision. The
# high_punct rule fires zero times on the synthetic corpus (no
# punctuation) — deliberately kept: a dead filter is exactly what the
# attribution table exists to expose before a curation run commits it.
_FA_DENS = 0.175
_FA_PUNCT = 0.10
_FA_STOP = 0.01

# the four gate flags as SQL select-list items — the ONE SQL definition
# of "fails the quality filter", shared by q_filter_attribution and
# q_filter_dedup_overlap (mirrors _fa_flag_cols on the Spark side)
_FA_FLAGS_SQL = rf"""CAST(NOT (n_chars BETWEEN 100 AND 5000) AS INT) AS f_len,
           CAST(ROUND(len({WHITESPACE_TOKENS_SQL})::DOUBLE
                      / GREATEST(n_chars, 1), 6) < {_FA_DENS} AS INT) AS f_dens,
           CAST(ROUND(len(regexp_extract_all(text, '[^a-zA-Z0-9 ]'))::DOUBLE
                      / GREATEST(n_chars, 1), 6) > {_FA_PUNCT} AS INT) AS f_punct,
           CAST(ROUND(len(list_filter({WHITESPACE_TOKENS_SQL},
                          t -> t IN ('the', 'a', 'of', 'and', 'to')))::DOUBLE
                      / GREATEST(len({WHITESPACE_TOKENS_SQL}), 1), 6) < {_FA_STOP} AS INT) AS f_stop"""

FILTER_ATTRIBUTION_ORACLE = rf"""
WITH sig AS (
    SELECT {_FA_FLAGS_SQL}
    FROM documents
),
nf AS (SELECT *, f_len + f_dens + f_punct + f_stop AS n_f FROM sig),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(f_len), 0) AS BIGINT) AS fail_len,
           CAST(COALESCE(SUM(CASE WHEN f_len = 1 AND n_f = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS uni_len,
           CAST(COALESCE(SUM(f_dens), 0) AS BIGINT) AS fail_dens,
           CAST(COALESCE(SUM(CASE WHEN f_dens = 1 AND n_f = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS uni_dens,
           CAST(COALESCE(SUM(f_punct), 0) AS BIGINT) AS fail_punct,
           CAST(COALESCE(SUM(CASE WHEN f_punct = 1 AND n_f = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS uni_punct,
           CAST(COALESCE(SUM(f_stop), 0) AS BIGINT) AS fail_stop,
           CAST(COALESCE(SUM(CASE WHEN f_stop = 1 AND n_f = 1 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS uni_stop,
           CAST(COALESCE(SUM(CASE WHEN n_f = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_pass_all
    FROM nf
)
SELECT r.rule, r.n_failing, r.n_unique_failing, t.n_docs, t.n_pass_all,
       ROUND(r.n_failing * 1.0 / NULLIF(t.n_docs, 0), 6) AS fail_share
FROM tot t, (
    SELECT 'length' AS rule, fail_len AS n_failing,
           uni_len AS n_unique_failing FROM tot
    UNION ALL SELECT 'low_density', fail_dens, uni_dens FROM tot
    UNION ALL SELECT 'high_punct', fail_punct, uni_punct FROM tot
    UNION ALL SELECT 'low_stopword', fail_stop, uni_stop FROM tot
) r
ORDER BY r.rule
"""


def _fa_flag_cols() -> tuple:
    """The four committed quality-gate flags as int Columns over a
    documents frame (text, n_chars) — the ONE definition of "fails the
    quality filter" shared by q_filter_attribution and
    q_filter_dedup_overlap, gating on 6dp-rounded signals so both
    engines decide identically at the boundary."""
    toks = whitespace_tokens("text")
    n_toks = F.size(toks)
    denom = F.greatest(F.col("n_chars"), F.lit(1))
    dens = F.round(n_toks.cast("double") / denom, 6)
    punct = F.round(
        F.size(F.regexp_extract_all("text", F.lit(r"[^a-zA-Z0-9 ]"), F.lit(0))).cast(
            "double"
        )
        / denom,
        6,
    )
    stopr = F.round(
        F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to"))).cast(
            "double"
        )
        / F.greatest(n_toks, F.lit(1)),
        6,
    )
    return (
        (~F.col("n_chars").between(100, 5000)).cast("int"),
        (dens < _FA_DENS).cast("int"),
        (punct > _FA_PUNCT).cast("int"),
        (stopr < _FA_STOP).cast("int"),
    )


@query("q_filter_attribution", FILTER_ATTRIBUTION_ORACLE)
def filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-filter ablation census — which rule does the work: for
    each of the four standard pre-training gates (length window, low
    token density, high punctuation, low stopword rate — the
    q_quality_score signal family with committed thresholds), how many
    documents it fails, how many it UNIQUELY removes (fail only this
    rule — the docs the pipeline loses by keeping it), the corpus size
    and the pass-everything count. The overlap structure this exposes
    (a rule with n_failing > 0 but n_unique_failing == 0 is fully
    shadowed; high_punct firing zero times here means a dead rule) is
    what a curation run reads before committing or dropping a filter.
    [engine — not in reference]

    Scale design: one corpus scan computes the four boolean flags and
    their sum map-side; the whole census is ONE map-side-combined
    1-row global aggregate (9 sums), unpivoted to 4 rule rows by an
    inline of literal structs — no shuffle beyond the partial-agg
    exchange, flat at any corpus size. Thresholds compare 6dp-rounded
    signals so both engines make identical decisions at the gate
    boundary."""
    d = load_table(spark, sf_dir, "documents")
    f_len, f_dens, f_punct, f_stop = _fa_flag_cols()
    flags = fan_out(d).select(
        f_len.alias("f_len"),
        f_dens.alias("f_dens"),
        f_punct.alias("f_punct"),
        f_stop.alias("f_stop"),
    )
    return _fa_unpivot(_fa_tot(flags))


def _fa_tot(flags: DataFrame) -> DataFrame:
    """1-row gate census (9 sums) over a frame of the four int flags —
    shared by the batch census and its streaming twin (where this is
    the complete-mode streaming aggregate)."""
    nf = flags.withColumn(
        "n_f", F.col("f_len") + F.col("f_dens") + F.col("f_punct") + F.col("f_stop")
    )

    def _uni(flag: str):  # docs failing ONLY this rule
        return F.sum(
            F.when((F.col(flag) == 1) & (F.col("n_f") == 1), 1).otherwise(0)
        )

    return nf.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("f_len"), F.lit(0)).cast("long").alias("fail_len"),
        F.coalesce(_uni("f_len"), F.lit(0)).cast("long").alias("uni_len"),
        F.coalesce(F.sum("f_dens"), F.lit(0)).cast("long").alias("fail_dens"),
        F.coalesce(_uni("f_dens"), F.lit(0)).cast("long").alias("uni_dens"),
        F.coalesce(F.sum("f_punct"), F.lit(0)).cast("long").alias("fail_punct"),
        F.coalesce(_uni("f_punct"), F.lit(0)).cast("long").alias("uni_punct"),
        F.coalesce(F.sum("f_stop"), F.lit(0)).cast("long").alias("fail_stop"),
        F.coalesce(_uni("f_stop"), F.lit(0)).cast("long").alias("uni_stop"),
        F.coalesce(F.sum(F.when(F.col("n_f") == 0, 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("n_pass_all"),
    )


def _fa_unpivot(tot: DataFrame) -> DataFrame:
    """Unpivot the 1-row census to the 4 rule rows (batch side — runs
    after the streaming sink in the stream twin)."""

    def _row(rule: str, fail: str, uni: str):
        return F.struct(
            F.lit(rule).alias("rule"),
            F.col(fail).alias("n_failing"),
            F.col(uni).alias("n_unique_failing"),
        )

    return (
        tot.select(
            F.inline(
                F.array(
                    _row("length", "fail_len", "uni_len"),
                    _row("low_density", "fail_dens", "uni_dens"),
                    _row("high_punct", "fail_punct", "uni_punct"),
                    _row("low_stopword", "fail_stop", "uni_stop"),
                )
            ),
            "n_docs",
            "n_pass_all",
        )
        .select(
            "rule",
            "n_failing",
            "n_unique_failing",
            "n_docs",
            "n_pass_all",
            F.round(
                F.try_divide(
                    F.col("n_failing") * 1.0, F.nullif(F.col("n_docs"), F.lit(0))
                ),
                6,
            ).alias("fail_share"),
        )
        .orderBy("rule")
    )


LANG_ID_ORACLE = rf"""
WITH scored AS (
    SELECT doc_id, lang,
           len(list_filter({WHITESPACE_TOKENS_SQL},
                           t -> t IN ('the', 'a', 'of', 'and', 'to', 'is'))) AS en_hits,
           len({WHITESPACE_TOKENS_SQL}) AS n_tokens
    FROM documents
)
SELECT doc_id, lang AS labeled_lang,
       CASE WHEN n_tokens > 0 AND en_hits::DOUBLE / n_tokens >= 0.05
            THEN 'en' ELSE 'und' END AS detected_lang,
       ROUND(en_hits::DOUBLE / GREATEST(n_tokens, 1), 6) AS en_score
FROM scored
"""


@query("q_lang_id", LANG_ID_ORACLE)
def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID: English function-word hit rate (the
    n-gram/stopword heuristic family; real multi-language tables get one
    stopword set per language and an argmax)."""
    d = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    en_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to", "is")))
    n_tokens = F.size(toks)
    score = en_hits.cast("double") / F.greatest(n_tokens, F.lit(1))
    return d.select(
        "doc_id",
        F.col("lang").alias("labeled_lang"),
        F.when((n_tokens > 0) & (score >= 0.05), "en").otherwise("und").alias("detected_lang"),
        F.round(score, 6).alias("en_score"),
    )


@query(
    "q_fingerprint",
    f"""
    SELECT doc_id,
           md5(lower(trim(text))) AS content_md5,
           md5(array_to_string(list_sort(list_distinct(
               {whitespace_tokens_sql("lower(trim(text))")})), ' '))
               AS bag_md5
    FROM documents
    """,
)
def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprints: exact content digest + an order-insensitive
    bag-of-words digest (sorted distinct tokens) that survives shuffling."""
    d = load_table(spark, sf_dir, "documents")
    norm = F.lower(F.trim(F.col("text")))
    toks = F.filter(F.split(norm, r"\s+"), lambda t: t != "")
    return d.select(
        "doc_id",
        F.md5(norm).alias("content_md5"),
        F.md5(F.array_join(F.array_sort(F.array_distinct(toks)), " ")).alias("bag_md5"),
    )


# ---------------------------------------------------------------------------
# int8 embedding quantization (symmetric, per-vector absmax scale)

EMBED_QUANTIZE_ORACLE = """
WITH v AS (
    SELECT vec_id, label,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
    FROM embeddings
),
s AS (
    SELECT vec_id, label, e,
           list_max(list_transform(e, x -> ABS(x))) / 127.0 AS scale
    FROM v
),
q AS (
    SELECT vec_id, label, scale,
           list_transform(e, x -> CAST(ROUND(x / scale) AS BIGINT)) AS qv
    FROM s
    WHERE scale > 0
)
SELECT vec_id, label, ROUND(scale, 6) AS scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_min(qv) AS BIGINT) AS q_min,
       CAST(list_max(qv) AS BIGINT) AS q_max
FROM q
"""


@query("q_embed_quantize", EMBED_QUANTIZE_ORACLE)
def embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization of embeddings (per-vector absmax
    scale, the standard ANN-index compression: 4× smaller than float32,
    recall loss ~0): q_i = round(x_i / (absmax/127)) ∈ [-127, 127].
    The oracle recomputes the quantized vector in DuckDB list algebra
    and checks its sum and range, so a kernel divergence (wrong scale,
    wrong rounding) fails the value hash.

    Map-only higher-order-function column algebra — zero shuffles at
    any corpus size. HOF lambdas evaluate interpreted, fine for d=64
    metadata-scale work; a hot 100 TB requantization loop would move
    the same kernel into a vectorized numpy pandas_udf (the
    minhash_signatures pattern)."""
    em = load_table(spark, sf_dir, "embeddings")
    e = F.transform("embedding", lambda x: x.cast("double"))
    with_scale = em.select(
        "vec_id",
        "label",
        e.alias("e"),
        (F.array_max(F.transform(e, F.abs)) / 127.0).alias("scale"),
    ).filter(F.col("scale") > 0)
    qv = F.transform("e", lambda x: F.round(x / F.col("scale")).cast("bigint"))
    quantized = with_scale.select("vec_id", "label", "scale", qv.alias("qv"))
    return quantized.select(
        "vec_id",
        "label",
        F.round("scale", 6).alias("scale"),
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_min("qv").alias("q_min"),
        F.array_max("qv").alias("q_max"),
    )


# ---------------------------------------------------------------------------
# incremental dedup: new batch vs existing corpus (continuous ingestion)

INCREMENTAL_DEDUP_ORACLE = """
WITH corpus AS (
    SELECT DISTINCT md5(text) AS text_hash
    FROM documents WHERE doc_id % 10 <> 0
),
batch AS (
    SELECT doc_id, md5(text) AS text_hash
    FROM documents WHERE doc_id % 10 = 0
)
SELECT b.doc_id, b.text_hash
FROM batch b
ANTI JOIN corpus c ON b.text_hash = c.text_hash
"""


@query("q_incremental_dedup", INCREMENTAL_DEDUP_ORACLE)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-snapshot) dedup: which documents of an
    incoming batch are NOT already in the corpus — the admission check
    a continuously-ingesting training pipeline runs on every delivery
    (q_dedup_exact dedups within one corpus; this dedups a delta
    against it). Here the batch is the doc_id % 10 slice.

    Scale shape: both sides reduce to 16-byte md5 digests before the
    left-anti join, so the shuffle carries digests, never documents —
    the corpus side of a 100 TB lake is its hash column only (in
    practice a maintained hash table / bloom index; the anti-join IS
    the exact fallback that validates it)."""
    d = load_table(spark, sf_dir, "documents")
    corpus = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("text_hash"))
        .distinct()
    )
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5("text").alias("text_hash")
    )
    return batch.join(corpus, "text_hash", "left_anti").select("doc_id", "text_hash")


# ---------------------------------------------------------------------------
# distributed Bloom pre-filter for corpus admission (sketch operator)

BLOOM_M_BITS = 1 << 20  # filter width (bits); sized for the test corpora
BLOOM_K = 5  # hash functions


def bloom_prefilter(
    spark: SparkSession, sf_dir: str, m_bits: int = BLOOM_M_BITS, k: int = BLOOM_K
) -> DataFrame:
    """Distributed Bloom-filter admission check, built from DataFrame
    primitives (PySpark exposes no Bloom API): the corpus's SET BITS
    are a distributed table of positions — pos_ij = xxhash64(digest,
    seed_i) mod m over each corpus digest — and a batch document is
    "maybe duplicate" iff ALL k of its positions hit that set, computed
    as a position-equality join + per-doc match count. No all-pairs
    work, no driver-side bitmap: build and probe are both key-equality
    shuffles on position, and the position table is ≤ min(m, n·k) rows
    regardless of corpus size.

    This is the scale path q_incremental_dedup's docstring names: at
    100 TB the admission gate probes a maintained Bloom table (cheap,
    no false negatives) and only bloom-positive docs pay the exact
    digest anti-join. Output per batch doc: the exact verdict and the
    bloom verdict; a false positive is bloom_maybe_dup=1 &
    exact_dup=0 — rate bounded by (set_fraction)^k, asserted in
    tests/test_llm_ops.py."""
    d = load_table(spark, sf_dir, "documents")
    # md5-derived digests/positions: byte-identical in DuckDB, which is
    # what makes the whole filter oracle-checkable (swap xxhash64 back
    # in production — parity is what md5 buys here)
    corpus = (
        d.filter(F.col("doc_id") % 10 != 0)
        .select(F.md5("text").alias("h"))
        .distinct()
    )

    def _pos(i):  # noqa: ANN001, ANN202
        return (
            F.conv(
                F.substring(F.md5(F.concat("h", F.lit(f"#{i}"))), 1, 8), 16, 10
            ).cast("long")
            % m_bits
        )

    positions = F.array(*[_pos(i) for i in range(k)])
    bits = corpus.select(F.explode(positions).alias("pos")).distinct()
    batch = d.filter(F.col("doc_id") % 10 == 0).select(
        "doc_id", F.md5("text").alias("h")
    )
    probed = (
        batch.select("doc_id", F.explode(positions).alias("pos"))
        .join(bits, "pos", "left_semi")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    exact_dup = batch.join(
        corpus.withColumnRenamed("h", "ch"), batch.h == F.col("ch"), "left_semi"
    ).select("doc_id", F.lit(1).alias("exact_dup"))
    return (
        batch.select("doc_id")
        .join(probed, "doc_id", "left")
        .join(exact_dup, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("exact_dup", F.lit(0)).alias("exact_dup"),
            (F.coalesce("n_hit", F.lit(0)) == k).cast("int").alias("bloom_maybe_dup"),
        )
    )


BLOOM_ORACLE = f"""
WITH corpus AS (
    SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 10 <> 0
),
bits AS (
    SELECT DISTINCT
        ('0x' || substr(md5(h || '#' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
            % {BLOOM_M_BITS} AS pos
    FROM corpus, UNNEST(range({BLOOM_K})) AS r(i)
),
batch AS (
    SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 10 = 0
),
probe AS (
    SELECT doc_id,
        ('0x' || substr(md5(h || '#' || CAST(i AS VARCHAR)), 1, 8))::BIGINT
            % {BLOOM_M_BITS} AS pos
    FROM batch, UNNEST(range({BLOOM_K})) AS r(i)
),
hits AS (
    SELECT doc_id, COUNT(*) AS n_hit
    FROM probe p SEMI JOIN bits b USING (pos)
    GROUP BY doc_id
)
SELECT b.doc_id,
       CASE WHEN EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
            THEN 1 ELSE 0 END AS exact_dup,
       CAST(COALESCE(h.n_hit, 0) = {BLOOM_K} AS INTEGER) AS bloom_maybe_dup
FROM batch b LEFT JOIN hits h ON h.doc_id = b.doc_id
"""


@query("q_bloom_prefilter", BLOOM_ORACLE)
def bloom_prefilter_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    return bloom_prefilter(spark, sf_dir)


# ---------------------------------------------------------------------------
# grouped embedding pooling (the retrieval-pipeline mean-pool)

EMBED_POOL_ORACLE = """
SELECT label,
       COUNT(*) AS n_vecs,
       ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 6) AS c1,
       ROUND(AVG(CAST(embedding[17] AS DOUBLE)), 6) AS c17,
       ROUND(AVG(CAST(embedding[33] AS DOUBLE)), 6) AS c33,
       ROUND(AVG(CAST(embedding[64] AS DOUBLE)), 6) AS c64,
       ROUND(AVG(list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE)), 'sum')), 4) AS mean_mass
FROM embeddings
GROUP BY label
ORDER BY label
"""


@query("q_embed_pool", EMBED_POOL_ORACLE)
def embed_pool(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped mean-pooling of embeddings — the centroid build behind
    label prototypes, class-conditional retrieval, and cluster
    summaries. Verified on four probe coordinates of the pooled
    centroid plus each vector's total mass (left-to-right double
    accumulation, identical fold order both engines).

    Scale shape: element_at + avg is pure column algebra — partial
    aggregation pools within each partition, the final exchange
    carries |labels| x (probes + 1) doubles, never vectors. For the
    full 64-dim centroid at scale the same plan extends per-dimension
    (or one pandas-UDF mean per partition, as q_kmeans does); the
    probe-dim projection here is what makes the result
    oracle-hashable."""
    em = load_table(spark, sf_dir, "embeddings")
    probe = {f"c{i}": F.element_at("embedding", i).cast("double") for i in (1, 17, 33, 64)}
    mass = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + x.cast("double")
    )
    return (
        em.select("label", mass.alias("mass"), *[v.alias(k) for k, v in probe.items()])
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            *[F.round(F.avg(k), 6).alias(k) for k in probe],
            F.round(F.avg("mass"), 4).alias("mean_mass"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# asymmetric containment: partial-copy detection that Jaccard misses

_CONTAIN_THRESH = 0.6

NGRAM_CONTAIN_ORACLE = f"""
WITH {_shingle_ctes(out="sh_all")},
{_HOT_CAP_CTES},
{_JACCARD_CTES},
c AS (
    SELECT doc_a AS contained_doc, doc_b AS container_doc,
           ROUND(n_inter::DOUBLE / n_a, 6) AS containment FROM jp
    UNION ALL
    SELECT doc_b, doc_a, ROUND(n_inter::DOUBLE / n_b, 6) FROM jp
)
SELECT * FROM c WHERE containment >= {_CONTAIN_THRESH}
"""


@query("q_ngram_containment", NGRAM_CONTAIN_ORACLE)
def ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT |A∩B| / |A| ≥ {thresh} — the
    partial-copy detector. A short document quoted inside a long one
    scores near 1.0 here but far below any Jaccard threshold (the
    union is dominated by the long side), which is exactly why
    curation pipelines run containment alongside symmetric near-dup:
    symmetric misses subset plagiarism and template expansion.

    Same kernels as q_ngram_jaccard (_doc_shingles, _drop_hot,
    _overlaps), and the pair is DIRECTED: each undirected overlap row
    gives both (a in b) = n_inter/n_a and (b in a) = n_inter/n_b, and
    each direction emits when it clears the threshold — the relation
    is not symmetric."""
    d = load_table(spark, sf_dir, "documents")
    sh_all = _doc_shingles(d).distinct().localCheckpoint(eager=True)

    def contained(a: str, b: str, n: str) -> Column:
        share = F.round(F.col("n_inter").cast("double") / F.col(n), 6)
        return F.struct(
            F.col(a).alias("contained_doc"),
            F.col(b).alias("container_doc"),
            share.alias("containment"),
        )

    both = F.array(contained("doc_a", "doc_b", "n_a"), contained("doc_b", "doc_a", "n_b"))
    return (
        _overlaps(_drop_hot(sh_all))
        .select(F.explode(both).alias("c"))
        .select("c.*")
        .filter(F.col("containment") >= _CONTAIN_THRESH)
    )


ngram_containment.__doc__ = ngram_containment.__doc__.format(thresh=_CONTAIN_THRESH)


# ---------------------------------------------------------------------------
# dedup survivors: the curation DELIVERABLE — one kept doc per cluster

DEDUP_SURVIVORS_ORACLE = _survivors_oracle(DEDUP_CLUSTERS_ORACLE)


@query("q_dedup_survivors", DEDUP_SURVIVORS_ORACLE)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's actual deliverable: for every NON-TRIVIAL
    near-dup cluster, the one document to keep — longest text wins,
    doc_id breaks ties (the keep-longest policy of production curation:
    the longest member usually subsumes the fragments). Reports the
    survivor plus how many near-duplicates it absorbs; singleton
    clusters are the untouched corpus and are excluded.

    q_dedup_clusters' labels (checkpoint-bounded label propagation)
    through _survivors_from_labels, which adds one shuffle of
    |clustered docs| rows; oracle: _survivors_oracle over the cluster
    oracle."""
    labels = dedup_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return _survivors_from_labels(labels, d)


# ---------------------------------------------------------------------------
# cluster-size census: the SHAPE of near-duplication in the corpus

CLUSTER_SIZE_ORACLE = rf"""{_DC_CTES},
lab AS (SELECT doc_id, MIN(r) AS cluster_id FROM reach GROUP BY doc_id),
cs AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
       FROM lab GROUP BY cluster_id)
SELECT CASE WHEN sz = 1 THEN '1'
            WHEN sz = 2 THEN '2'
            WHEN sz <= 4 THEN '3-4'
            WHEN sz <= 8 THEN '5-8'
            ELSE '9+' END AS size_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_clusters,
       CAST(SUM(sz) AS BIGINT) AS n_docs,
       CAST(MAX(sz) AS BIGINT) AS max_size
FROM cs
GROUP BY size_bucket
ORDER BY size_bucket
"""


@query("q_cluster_size_census", CLUSTER_SIZE_ORACLE)
def cluster_size_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-SIZE census — the shape question behind every
    dedup decision: is duplication a long tail of pairs (bucket '2')
    or a few mega-clusters ('9+', where one survivor replaces hundreds
    and removal fraction explodes)? Buckets q_dedup_clusters' exact
    components by size and reports clusters, docs and the largest
    member per bucket. A pairs-mostly shape says tighten the
    threshold; a mega-cluster shape says inspect those clusters first
    (they're usually templates or boilerplate). Bucket labels sort
    lexicographically in band order by construction.
    [engine — not in reference]

    Scale design: the components are q_dedup_clusters' already-audited
    label propagation (checkpoint-bounded rounds); the census adds ONE
    |clusters|-key aggregate and ONE ≤5-group aggregate on top — both
    map-side combined. Shares _DC_CTES with the labels oracle, so the
    census and the labels can never disagree on what a component is."""
    labels = dedup_clusters(spark, sf_dir)
    cs = labels.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    bucket = (
        F.when(F.col("sz") == 1, "1")
        .when(F.col("sz") == 2, "2")
        .when(F.col("sz") <= 4, "3-4")
        .when(F.col("sz") <= 8, "5-8")
        .otherwise("9+")
    )
    return (
        cs.select(bucket.alias("size_bucket"), "sz")
        .groupBy("size_bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_clusters"),
            F.sum("sz").cast("long").alias("n_docs"),
            F.max("sz").cast("long").alias("max_size"),
        )
        .orderBy("size_bucket")
    )


# ---------------------------------------------------------------------------
# MinHash+LSH with md5-derived hashes: the exact-oracle twin of
# q_dedup_minhash (same algorithm, same band geometry, same constants —
# only the base hash differs so DuckDB can reproduce every signature)

_MHX_MINS = ",\n           ".join(
    f"MIN(((h % {_MERSENNE}) * {a} + {b}) % {_MERSENNE}) AS m{i}"
    for i, (a, b) in enumerate(_MINHASH_AB)
)
_MHX_BANDS = "\n    UNION ALL ".join(
    "SELECT doc_id, {band} AS band, md5({concat}) AS bh FROM mins".format(
        band=b,
        concat=" || ',' || ".join(
            f"CAST(m{b * MINHASH_ROWS + r} AS VARCHAR)" for r in range(MINHASH_ROWS)
        ),
    )
    for b in range(MINHASH_BANDS)
)
_MHX_SIG_LIST = "[" + ", ".join(f"m{i}" for i in range(MINHASH_PERMS)) + "]"


def _agree_sql(p: int = MINHASH_PERMS) -> str:
    """The twin of _agree over the ``sig`` lists of ``sa`` and ``sb``
    (a flat 128-term sum exceeds DuckDB's binder recursion limit)."""
    return f"len(list_filter(generate_series(1, {p}), i -> sa.sig[i] = sb.sig[i]))"


# ``hh``, ``mins``, ``sigl``, ``bands`` and ``cand`` over the shingles
# ``sh``: the md5-derived signatures and their banded candidate pairs
# (the twins of _md5_signatures, _md5_bands and _band_pairs). Every
# band reads ``mins`` and most audits read ``cand`` more than once, so
# both are materialized: DuckDB inlines a plain CTE at each reference.
_MINHASH_CTES = f"""hh AS (SELECT doc_id, ('0x' || substr(md5(sh), 1, 8))::BIGINT AS h FROM sh),
mins AS MATERIALIZED (
    SELECT doc_id,
           {_MHX_MINS}
    FROM hh GROUP BY doc_id
),
sigl AS (SELECT doc_id, {_MHX_SIG_LIST} AS sig FROM mins),
bands AS (
    {_MHX_BANDS}
),
cand AS MATERIALIZED (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
)"""

# shared CTE block (shingles → MinHash candidates → estimated Jaccard
# → verified pairs ``vp``) — interpolated by q_minhash_exact and its
# three censuses so they can never diverge on what the production
# near-dup pipeline detects.
_MHX_CTES = f"""
WITH {_shingle_ctes()},
{_MINHASH_CTES},
est AS (
    SELECT c.doc_a, c.doc_b,
           ROUND({_agree_sql()} / {MINHASH_PERMS}.0, 4) AS est_jaccard
    FROM cand c
    JOIN sigl sa ON sa.doc_id = c.doc_a
    JOIN sigl sb ON sb.doc_id = c.doc_b
),
vp AS MATERIALIZED (SELECT * FROM est WHERE est_jaccard >= 0.7)"""

MINHASH_EXACT_ORACLE = f"""{_MHX_CTES}
SELECT doc_a, doc_b, est_jaccard FROM vp
"""


def _md5_signatures(shingled: DataFrame) -> DataFrame:
    """(doc_id, sig): the MINHASH_PERMS md5-derived minhash minima of each
    doc's (doc_id, sh) shingles, as an array. A repeated shingle cannot
    move a MIN, so ``shingled`` need not be distinct."""
    h32 = F.conv(F.substring(F.md5("sh"), 1, 8), 16, 10).cast("long")
    h = F.col("h") % _MERSENNE
    mins = (
        shingled.select("doc_id", h32.alias("h"))
        .groupBy("doc_id")
        .agg(
            *[
                F.min((h * F.lit(a) + F.lit(b)) % F.lit(_MERSENNE)).alias(f"m{i}")
                for i, (a, b) in enumerate(_MINHASH_AB)
            ]
        )
    )
    return mins.select(
        "doc_id", F.array(*[f"m{i}" for i in range(MINHASH_PERMS)]).alias("sig")
    )


def _md5_bands(sig: DataFrame) -> DataFrame:
    """(doc_id, band, bh): each signature cut into MINHASH_BANDS bands
    of MINHASH_ROWS, keyed by the md5 of the band's comma-joined
    values. ONE explode of an array of band structs, so the signature
    frame is read once per side of the band join; a 16-way unionAll of
    projections re-ran the signature aggregate once per band."""
    return sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.element_at("sig", b * MINHASH_ROWS + r + 1)
                                    for r in range(MINHASH_ROWS)
                                ],
                            )
                        ).alias("bh"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bh")


@query("q_minhash_exact", MINHASH_EXACT_ORACLE)
def minhash_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup detection, EXACT-ORACLE EDITION: identical
    algorithm, band geometry (16 bands x 8 rows), permutation constants
    and >= 0.7 threshold as q_dedup_minhash, but the shingle base hash
    is the first 8 hex chars of md5 instead of the xxhash64 mix — pure
    integer algebra DuckDB reproduces bit-for-bit, so the whole LSH
    pipeline (signatures, band buckets, candidate pairs, estimated
    Jaccard) is value-checked against SQL, not just row-counted.

    Spark-side the signature stage is 100% JVM column algebra: explode
    shingles (no dedup — MIN ignores multiplicity, so the distinct's
    string shuffle is pure cost), one md5+conv per shingle, then
    {perms} codegen'd MIN aggregates partially aggregated map-side so
    the ONE shuffle carries only 128 longs per (doc, partition). (a*h + b) stays under 2^63 (31-bit a x 32-bit h), so the
    arithmetic is overflow-free in both engines. q_dedup_minhash
    remains the raw-throughput path (map-only numpy signatures, zero
    shuffle); this twin is the correctness anchor — same plan shape
    from the bands join onward (_band_pairs, _with_sigs, _agree)."""
    d = load_table(spark, sf_dir, "documents")
    # NO distinct before the signature aggregate: MIN over a multiset
    # equals MIN over its set, so duplicate shingles cannot change any
    # signature — and the distinct's exchange shipped the full shingle
    # STRING volume across the shuffle just to dedup rows the min
    # ignores. Without it the 128 mins partial-aggregate map-side and
    # the only shuffle carries 128 longs per (doc, partition). The
    # oracle keeps its DISTINCT; values are identical by the argument
    # above (driver-checked).
    # sig is reused by the bands explode and both est joins —
    # localCheckpoint, as in q_dedup_minhash (invocation-local reuse
    # without registering the subplan in the session CacheManager)
    sig = _md5_signatures(_doc_shingles(d)).localCheckpoint(eager=True)
    est = _with_sigs(_band_pairs(_md5_bands(sig)), sig).select(
        "doc_a",
        "doc_b",
        F.round(_agree("sig_a", "sig_b") / F.lit(float(MINHASH_PERMS)), 4).alias(
            "est_jaccard"
        ),
    )
    return est.filter(F.col("est_jaccard") >= 0.7)


minhash_exact.__doc__ = minhash_exact.__doc__.format(perms=MINHASH_PERMS)


# ---------------------------------------------------------------------------
# dedup selection-bias census: what does near-dup removal cost each
# language?

DEDUP_BIAS_ORACLE = rf"""{_MHX_CTES},
rem AS (SELECT DISTINCT doc_b AS doc_id FROM vp),
lang_c AS (
    SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rem.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_removed
    FROM documents d LEFT JOIN rem ON d.doc_id = rem.doc_id
    GROUP BY d.lang
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS t_docs,
               CAST(SUM(n_removed) AS BIGINT) AS t_removed
        FROM lang_c)
SELECT lang, n_docs, n_removed,
       ROUND(n_removed * 1.0 / n_docs, 6) AS removal_frac,
       ROUND((n_removed * 1.0 / n_docs)
             / NULLIF(t_removed * 1.0 / t_docs, 0), 4) AS rel_risk
FROM lang_c CROSS JOIN tot
ORDER BY lang
"""


@query("q_dedup_bias", DEDUP_BIAS_ORACLE)
def dedup_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup selection-bias census: per language, how many documents
    the production MinHash near-dup pass (q_minhash_exact's exact
    geometry and ≥0.7 threshold, keep-smallest-id survivor rule) would
    remove, the removal fraction, and the relative risk vs the
    corpus-wide removal rate. Near-dup removal is never language-
    neutral — templated or machine-translated languages duplicate
    more — and a curation run reads this table before shipping a
    dedup pass that silently halves a low-resource language. Completes
    the fairness axis: q_fairness_audit audits a classifier per group,
    q_split_balance audits the split, this audits the dedup itself.
    [engine — not in reference]

    Scale design: the detection half IS q_minhash_exact (same fn —
    signatures on one shuffle, banded candidate join, never all-pairs;
    measured 6.3× at the 100× replica plant). On top of it: one
    distinct over the removed-id set, one key-partitioned left join
    against documents, and a |languages|-row census with map-side
    combine; the 1-row totals frame is a broadcast cross join. No new
    scale risk beyond the already-audited detection kernel."""
    pairs = minhash_exact(spark, sf_dir)
    rem = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    lang_c = (
        d.join(rem.withColumn("rm", F.lit(1)), "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("rm"), F.lit(0))).cast("long").alias("n_removed"),
        )
    )
    tot = lang_c.agg(
        F.sum("n_docs").cast("long").alias("t_docs"),
        F.sum("n_removed").cast("long").alias("t_removed"),
    )
    frac = F.col("n_removed") * 1.0 / F.col("n_docs")
    gfrac = F.col("t_removed") * 1.0 / F.col("t_docs")
    return (
        lang_c.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "n_removed",
            F.round(frac, 6).alias("removal_frac"),
            F.round(frac / F.nullif(gfrac, F.lit(0.0)), 4).alias("rel_risk"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# per-source duplicate census: is duplication mirrors ACROSS sources
# or re-posts WITHIN one?

DEDUP_SOURCE_CENSUS_ORACLE = rf"""{_MHX_CTES},
ps AS (SELECT v.doc_a, v.doc_b, da.source AS sa, db.source AS sb
       FROM vp v JOIN documents da ON da.doc_id = v.doc_a
                 JOIN documents db ON db.doc_id = v.doc_b),
w AS (SELECT sa AS source, CAST(COUNT(*) AS BIGINT) AS n_within_pairs
      FROM ps WHERE sa = sb GROUP BY sa),
x AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_cross_pairs
      FROM (SELECT sa AS source FROM ps WHERE sa <> sb
            UNION ALL SELECT sb FROM ps WHERE sa <> sb)
      GROUP BY source),
remd AS (SELECT DISTINCT doc_b AS doc_id FROM vp),
sc AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs,
              CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_removed
       FROM documents d LEFT JOIN remd r ON d.doc_id = r.doc_id
       GROUP BY d.source)
SELECT sc.source, sc.n_docs, sc.n_removed,
       ROUND(sc.n_removed * 1.0 / sc.n_docs, 6) AS removal_frac,
       CAST(COALESCE(w.n_within_pairs, 0) AS BIGINT) AS n_within_pairs,
       CAST(COALESCE(x.n_cross_pairs, 0) AS BIGINT) AS n_cross_pairs
FROM sc LEFT JOIN w USING (source) LEFT JOIN x USING (source)
ORDER BY sc.source
"""


@query("q_dedup_source_census", DEDUP_SOURCE_CENSUS_ORACLE)
def dedup_source_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-SOURCE duplicate census — where duplication comes from: for
    every source, the docs the production MinHash pass would remove,
    plus its duplicate pairs split into WITHIN-source (re-posts inside
    one crawl — fix that source's extraction) and CROSS-source pairs
    (mirrors/syndication — dedup is load-bearing and dropping one
    mirror source entirely may be cheaper than pairwise dedup). On the
    synthetic corpus the split is 24 cross vs 1 within at sf0.01 —
    duplication here is syndication, which no per-source cleanup would
    fix. Completes the provenance axis next to q_dedup_bias (per
    language) and q_cluster_size_census (shape).
    [engine — not in reference]

    Scale design: detection is the audited q_minhash_exact kernel; its
    verified pair table is localCheckpointed (pair-bounded, plan forks
    into the pair censuses and the removal set). Pair-side work is two
    |sources|-key aggregates of the small pair table; the doc census is
    one key-partitioned left join and a |sources|-row aggregate; final
    assembly is broadcast joins of ≤|sources|-row frames."""
    vp = (
        minhash_exact(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    src = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    ps = vp.join(
        src.select(F.col("doc_id").alias("doc_a"), F.col("source").alias("sa")),
        "doc_a",
    ).join(
        src.select(F.col("doc_id").alias("doc_b"), F.col("source").alias("sb")),
        "doc_b",
    )
    w = (
        ps.where(F.col("sa") == F.col("sb"))
        .groupBy(F.col("sa").alias("source"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_within_pairs"))
    )
    crossed = ps.where(F.col("sa") != F.col("sb"))
    x = (
        crossed.select(F.col("sa").alias("source"))
        .unionAll(crossed.select(F.col("sb").alias("source")))
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cross_pairs"))
    )
    remd = vp.select(F.col("doc_b").alias("doc_id")).distinct()
    sc = (
        src.join(remd.withColumn("rm", F.lit(1)), "doc_id", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce(F.col("rm"), F.lit(0))).cast("long").alias("n_removed"),
        )
    )
    return (
        sc.join(F.broadcast(w), "source", "left")
        .join(F.broadcast(x), "source", "left")
        .select(
            "source",
            "n_docs",
            "n_removed",
            F.round(F.col("n_removed") * 1.0 / F.col("n_docs"), 6).alias(
                "removal_frac"
            ),
            F.coalesce(F.col("n_within_pairs"), F.lit(0))
            .cast("long")
            .alias("n_within_pairs"),
            F.coalesce(F.col("n_cross_pairs"), F.lit(0))
            .cast("long")
            .alias("n_cross_pairs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# pipeline-ordering census: how much dedup work do the quality gates
# save, and do the two filters remove the same documents?

FILTER_DEDUP_OVERLAP_ORACLE = rf"""{_MHX_CTES},
remd AS (SELECT DISTINCT doc_b AS doc_id FROM vp),
qf AS (
    SELECT doc_id, CAST(f_len + f_dens + f_punct + f_stop >= 1 AS INT) AS f_any
    FROM (SELECT doc_id, {_FA_FLAGS_SQL} FROM documents)
),
docs AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COALESCE(SUM(q.f_any), 0) AS BIGINT) AS n_fail_quality,
           CAST(COALESCE(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_dup_removed,
           CAST(COALESCE(SUM(CASE WHEN r.doc_id IS NOT NULL AND q.f_any = 1
                                  THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_both
    FROM qf q LEFT JOIN remd r ON q.doc_id = r.doc_id
),
pr AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(COALESCE(SUM(CASE WHEN qa.f_any = 0 AND qb.f_any = 0
                                  THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_pairs_after_filter
    FROM vp
    JOIN qf qa ON qa.doc_id = vp.doc_a
    JOIN qf qb ON qb.doc_id = vp.doc_b
)
SELECT d.n_docs, d.n_fail_quality, d.n_dup_removed, d.n_both,
       d.n_dup_removed - d.n_both AS n_dup_only,
       p.n_pairs, p.n_pairs_after_filter,
       ROUND(1.0 - p.n_pairs_after_filter * 1.0 / NULLIF(p.n_pairs, 0), 4)
           AS pair_reduction
FROM docs d CROSS JOIN pr p
"""


@query("q_filter_dedup_overlap", FILTER_DEDUP_OVERLAP_ORACLE)
def filter_dedup_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-ORDERING census for the two big curation passes: if the
    cheap quality gates (q_filter_attribution's committed rules) run
    BEFORE the expensive near-dup pass (q_minhash_exact's geometry and
    threshold), how many of the dup-removed documents were already
    gone (n_both), how many the dedup still uniquely removes
    (n_dup_only — its marginal contribution), and what fraction of the
    verified duplicate pairs involve a quality-failing member
    (pair_reduction — the verify bill the ordering saves, since a pair
    needs checking only when both members survive the gates). This is
    the table that decides filter-then-dedup vs dedup-then-filter
    before a 100-TB run commits the order. [engine — not in reference]

    Scale design: detection is the already-audited q_minhash_exact
    kernel; its verified pair table is localCheckpointed (pair-bounded)
    because the plan forks into the doc census and the pair census.
    The gate flags are one map-only corpus scan (shared _fa_flag_cols
    definition); the doc census is a key-partitioned left join against
    the distinct removed-id set and ONE 1-row aggregate; the pair side
    joins the small pair table against the flags (broadcast-eligible)
    and reduces to one row. No new scale risk beyond the detection
    kernel."""
    vp = (
        minhash_exact(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    remd = vp.select(F.col("doc_b").alias("doc_id")).distinct()
    f_len, f_dens, f_punct, f_stop = _fa_flag_cols()
    d = load_table(spark, sf_dir, "documents")
    qf = fan_out(d).select(
        "doc_id", ((f_len + f_dens + f_punct + f_stop) >= 1).cast("int").alias("f_any")
    )
    docs = (
        qf.join(remd.withColumn("rm", F.lit(1)), "doc_id", "left")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.coalesce(F.sum("f_any"), F.lit(0)).cast("long").alias("n_fail_quality"),
            F.coalesce(F.sum(F.coalesce(F.col("rm"), F.lit(0))), F.lit(0))
            .cast("long")
            .alias("n_dup_removed"),
            F.coalesce(
                F.sum(
                    F.when((F.col("rm") == 1) & (F.col("f_any") == 1), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_both"),
        )
    )
    qa = qf.select(F.col("doc_id").alias("doc_a"), F.col("f_any").alias("fa_a"))
    qb = qf.select(F.col("doc_id").alias("doc_b"), F.col("f_any").alias("fa_b"))
    pr = (
        vp.join(qa, "doc_a")
        .join(qb, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.coalesce(
                F.sum(
                    F.when((F.col("fa_a") == 0) & (F.col("fa_b") == 0), 1).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_pairs_after_filter"),
        )
    )
    return docs.crossJoin(F.broadcast(pr)).select(
        "n_docs",
        "n_fail_quality",
        "n_dup_removed",
        "n_both",
        (F.col("n_dup_removed") - F.col("n_both")).alias("n_dup_only"),
        "n_pairs",
        "n_pairs_after_filter",
        F.round(
            F.lit(1.0)
            - F.col("n_pairs_after_filter") * 1.0 / F.nullif(F.col("n_pairs"), F.lit(0)),
            4,
        ).alias("pair_reduction"),
    )


# ---------------------------------------------------------------------------
# k-NN JOIN: top-k neighbors for EVERY vector (blocked by label)

_KNN_K = 3

KNN_JOIN_ORACLE = rf"""
SELECT vec_id, label, nn_rank, nn_id, cos_sim FROM (
    SELECT a.vec_id, a.label, b.vec_id AS nn_id,
           ROUND(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
               AS cos_sim,
           ROW_NUMBER() OVER (
               PARTITION BY a.vec_id
               ORDER BY ROUND(list_cosine_similarity(
                                  a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4)
                        DESC, b.vec_id
           ) AS nn_rank
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
) WHERE nn_rank <= {_KNN_K}
"""


@query("q_knn_join", KNN_JOIN_ORACLE)
def knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: the top-{k} cosine neighbors for EVERY vector, not
    one query point (q_similarity_topk) and not a threshold
    (q_embed_neardup) — the all-pairs retrieval primitive behind
    embedding dedup review, hard-negative mining and kNN-LM lookups.

    Blocked by label like q_embed_neardup: one BLAS gram matrix per
    block in applyInPandas, then a vectorized per-row top-{k} via an
    integer composite sort key (rounded-similarity desc, id asc) — the
    SAME deterministic order the oracle's window uses, so ranks are
    reproducible even under float ties. Only the blocking key
    shuffles; swap label for an IVF/LSH bucket id at corpus scale (the
    per-block cost is quadratic in block size by design — that is the
    ANN blocking contract, not an accident).

    Oracle note: the similarity must be computed in float64 on BOTH
    sides (embedding::DOUBLE[] in DuckDB) — the float32
    list_cosine_similarity default disagrees with BLAS float64 in the
    4th decimal often enough to flip round-boundary ranks at sf0.01."""
    em = load_table(spark, sf_dir, "embeddings")

    def knn(pdf):  # type: ignore[no-untyped-def]
        import numpy as np
        import pandas as pd

        order = pdf["vec_id"].to_numpy().argsort()
        ids = pdf["vec_id"].to_numpy()[order]
        n = len(ids)
        if n < 2:
            return pd.DataFrame(
                {"vec_id": [], "label": [], "nn_rank": [], "nn_id": [], "cos_sim": []}
            ).astype(
                {
                    "vec_id": "int64",
                    "label": "int32",
                    "nn_rank": "int64",
                    "nn_id": "int64",
                    "cos_sim": "float64",
                }
            )
        x = np.stack(pdf["embedding"].to_numpy()[order]).astype(np.float64)
        norms = np.linalg.norm(x, axis=1)
        r = np.round((x @ x.T) / np.outer(norms, norms), 4)
        # integer composite key: (-cos_rounded, id) ascending == the
        # oracle's (cos_rounded DESC, vec_id ASC); exact in int64
        key = (-r * 10000).astype(np.int64) * (1 << 32) + ids[None, :]
        np.fill_diagonal(key, np.iinfo(np.int64).max)  # exclude self
        k = min(_KNN_K, n - 1)
        nn = np.argsort(key, axis=1)[:, :k]
        rows = np.repeat(np.arange(n), k)
        cols = nn.ravel()
        return pd.DataFrame(
            {
                "vec_id": ids[rows],
                "label": np.full(len(rows), pdf["label"].iloc[0], dtype="int32"),
                "nn_rank": np.tile(np.arange(1, k + 1, dtype="int64"), n),
                "nn_id": ids[cols],
                "cos_sim": r[rows, cols],
            }
        )

    return em.groupBy("label").applyInPandas(
        knn, schema="vec_id long, label int, nn_rank long, nn_id long, cos_sim double"
    )


# ---------------------------------------------------------------------------
# MMR diversified retrieval: greedy re-rank of a bounded candidate set

_MMR_LAMBDA = 0.7
_MMR_CANDS = 20
_MMR_K = 5


def _mmr_oracle() -> str:
    """Unrolled greedy MMR in SQL: one CTE pair per selection step —
    the same fixed-iteration unrolling trick as PAGERANK_ORACLE."""
    steps = []
    sel_union = "SELECT vec_id FROM s1"
    steps.append(
        f"s1 AS (SELECT vec_id, sim, {_MMR_LAMBDA} * sim AS score\n"
        f"       FROM cands ORDER BY {_MMR_LAMBDA} * sim DESC, vec_id LIMIT 1)"
    )
    for k in range(2, _MMR_K + 1):
        steps.append(
            f"r{k} AS (SELECT c.vec_id, c.sim,\n"
            f"         {_MMR_LAMBDA} * c.sim - {round(1 - _MMR_LAMBDA, 10)} * MAX(p.s) AS score\n"
            f"       FROM cands c JOIN ps p ON p.i = c.vec_id AND p.j IN ({sel_union})\n"
            f"       WHERE c.vec_id NOT IN ({sel_union})\n"
            f"       GROUP BY c.vec_id, c.sim),\n"
            f"s{k} AS (SELECT vec_id, sim, score FROM r{k}\n"
            f"       ORDER BY score DESC, vec_id LIMIT 1)"
        )
        sel_union += f" UNION SELECT vec_id FROM s{k}"
    outs = "\nUNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS mmr_rank, vec_id,"
        f" ROUND(sim, 6) AS cos_sim, ROUND(score, 6) AS mmr_score FROM s{k}"
        for k in range(1, _MMR_K + 1)
    )
    return (
        "WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),\n"
        "cands AS (\n"
        "    SELECT b.vec_id, b.embedding::DOUBLE[] AS e,\n"
        "           list_cosine_similarity(b.embedding::DOUBLE[], q.qe) AS sim\n"
        f"    FROM embeddings b, q WHERE b.vec_id <> 0\n"
        f"    ORDER BY sim DESC, b.vec_id LIMIT {_MMR_CANDS}\n"
        "),\n"
        "ps AS (SELECT a.vec_id AS i, b.vec_id AS j, list_cosine_similarity(a.e, b.e) AS s\n"
        "       FROM cands a, cands b WHERE a.vec_id <> b.vec_id),\n"
        + ",\n".join(steps)
        + "\n"
        + outs
    )


MMR_ORACLE = _mmr_oracle()


@query("q_mmr_diversify", MMR_ORACLE)
def mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking — the retrieval
    diversifier every RAG serving stack runs between ANN and the
    prompt: greedily pick {k} of the top-{c} candidates maximizing
    lambda*sim(query, d) - (1-lambda)*max sim(d, selected), so the
    context window gets relevant-but-non-redundant passages.

    Scale split: candidate generation is the DISTRIBUTED part
    (TakeOrderedAndProject top-{c} over the corpus — same plan as
    q_similarity_topk); the greedy loop runs on the {c}-row candidate
    set, which is bounded by construction (like k-means' centroid
    pull, this is a legal driver-side constant, not a corpus
    collect). The oracle unrolls the {k} greedy steps as SQL CTE
    pairs — fixed-iteration unrolling, as in q_pagerank."""
    import numpy as np

    em = load_table(spark, sf_dir, "embeddings")
    qv = em.filter(F.col("vec_id") == 0).select("embedding")
    cands = (
        em.crossJoin(F.broadcast(qv.withColumnRenamed("embedding", "qe")))
        .filter(F.col("vec_id") != 0)
        .select(
            "vec_id",
            "embedding",
            cosine_similarity("embedding", "qe").alias("sim"),
        )
        .orderBy(F.col("sim").desc(), "vec_id")
        .limit(_MMR_CANDS)
    ).collect()  # bounded: _MMR_CANDS rows by construction
    if not cands:
        return spark.createDataFrame(
            [], "mmr_rank long, vec_id long, cos_sim double, mmr_score double"
        )
    ids = np.array([r.vec_id for r in cands], dtype=np.int64)
    x = np.array([r.embedding for r in cands], dtype=np.float64)
    sims = np.array([r.sim for r in cands], dtype=np.float64)
    norms = np.linalg.norm(x, axis=1)
    pair = (x @ x.T) / np.outer(norms, norms)
    selected: list[int] = []
    out = []
    remaining = list(range(len(ids)))
    for rank in range(1, min(_MMR_K, len(ids)) + 1):
        best = None
        for i in remaining:
            penalty = max(pair[i, j] for j in selected) if selected else None
            score = (
                _MMR_LAMBDA * sims[i]
                if penalty is None
                else _MMR_LAMBDA * sims[i] - (1 - _MMR_LAMBDA) * penalty
            )
            key = (-score, ids[i])
            if best is None or key < best[0]:
                best = (key, i, score)
        _, i, score = best
        remaining.remove(i)
        selected.append(i)
        out.append((rank, int(ids[i]), round(float(sims[i]), 6), round(float(score), 6)))
    return spark.createDataFrame(
        out, "mmr_rank long, vec_id long, cos_sim double, mmr_score double"
    )


mmr_diversify.__doc__ = mmr_diversify.__doc__.format(k=_MMR_K, c=_MMR_CANDS)


# ---------------------------------------------------------------------------
# connected components via alternating large-star / small-star rounds —
# the bounded-intermediate MapReduce CC kernel (same answer, same oracle
# as q_dedup_clusters' label propagation)


@query("q_components_star", DEDUP_CLUSTERS_ORACLE)
def components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the ≥0.8-Jaccard near-dup graph via
    ALTERNATING LARGE-STAR / SMALL-STAR rounds (Kiveris et al., 2014)
    — the kernel q_dedup_clusters' docstring names as its graph-scale
    replacement, implemented for real and pinned to produce the
    IDENTICAL clustering (same oracle, plus a direct equality test).

    Why it scales where min-label propagation strains: label
    propagation's per-round shuffle is proportional to |E| FOREVER
    (every edge re-sends its endpoint label each round); star rounds
    CONTRACT the edge set — large-star hangs every larger neighbor
    under the neighborhood minimum, small-star re-parents the smaller
    ones, and components collapse into stars in O(log²) rounds with
    intermediate size provably O(|E|). Each round is one groupBy per
    direction — the same aggregate shuffle shape, on a shrinking
    input. Convergence = the canonical edge set reaches a fixpoint
    (checked with one symmetric-difference aggregate, never a
    collect)."""
    d = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    edges = pairs.toDF("u", "v").localCheckpoint(eager=True)  # cut the jaccard lineage once
    return _with_singletons(star_contract(edges), d)


def _with_singletons(labels: DataFrame, nodes: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, cluster_id) ``labels`` plus every ``nodes`` key they lack,
    labelled with itself: a node in no edge is its own component."""
    singles = nodes.select(key).join(labels.select(key), key, "left_anti")
    return labels.unionByName(singles.select(key, F.col(key).alias("cluster_id")))


def _rep_labels(rep_of: DataFrame, rep_edges: DataFrame, nodes: DataFrame) -> DataFrame:
    """Component labels of a graph whose identical items were collapsed
    to representatives first. ``rep_of`` maps every (doc_id) to its
    rep_id, the minimum doc_id of its group; ``rep_edges`` (u, v) join
    reps. The edges are checkpointed once (cutting the candidate
    lineage), contracted by star_contract, and the labels joined back
    through rep_of; a rep in no edge is its own component, and
    ``nodes`` outside rep_of are singletons. rep = group minimum, so
    the component-minimum rep IS the component-minimum document."""
    rlabels = star_contract(rep_edges.localCheckpoint(eager=True))
    rlabels = rlabels.withColumnRenamed("doc_id", "rep_id")
    lab = rep_of.join(rlabels, "rep_id", "left").select(
        "doc_id", F.coalesce("cluster_id", F.col("rep_id")).alias("cluster_id")
    )
    return _with_singletons(lab, nodes)


def star_contract(edges: DataFrame) -> DataFrame:
    """Alternating large-star/small-star contraction of an undirected
    edge set (columns u, v; any orientation, duplicates allowed, no
    self-loops): returns (doc_id, cluster_id) labels for every node
    appearing in an edge, cluster_id = component minimum. Callers pass
    their pairs as they come: the first round's canonical() orders and
    dedups them. q_components_star and q_density_clusters run it on
    their pair sets, and _rep_labels on a representative graph. Random
    graphs fuzz it against a union-find reference."""

    def canonical(e: DataFrame) -> DataFrame:
        """Undirected edge set as (min, max) pairs, deduped."""
        return e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        ).distinct()

    def neighborhoods(e: DataFrame) -> DataFrame:
        """Symmetric (u, v) adjacency with the neighborhood min m_u
        attached to every row (min over Γ(u) ∪ {u}). The Window form
        deliberately: one exchange + sort per call. The aggregate+join
        alternative (shuffle |V| partial mins, AQE-broadcast them back)
        was measured SLOWER on the census-scale graphs every caller has
        — two broadcast builds per round added more stage latency than
        the 2|E| window sort costs (measured: winnow clusters 8.0→10.1 s
        with agg+join) — and at graph scale the window's single
        re-partition of the adjacency is the same exchange the join
        would pay anyway."""
        sym = e.union(e.select(F.col("v"), F.col("u")).toDF("u", "v"))
        w = Window.partitionBy("u")
        return sym.withColumn(
            "m", F.least(F.min("v").over(w), F.col("u"))
        )

    # each round's checkpoint job also yields the edge set's convergence
    # FINGERPRINT: row count plus residue sums of the endpoints and of
    # xxhash64(u, v) (mod 2^20 so the sums stay in long range to ~2^43
    # rows). Each component is a pure function of the SET, so unequal
    # fingerprints PROVE the round changed the edge set (the common
    # case, decided for free), while equal fingerprints trigger the one
    # exact set-equality job below, instead of a symmetric-difference
    # shuffle job every round.
    res = F.lit(1 << 20)
    fingerprint = dict(
        n=F.count(F.lit(1)),
        su=F.sum(F.pmod(F.col("u"), res)),
        sv=F.sum(F.pmod(F.col("v"), res)),
        sh=F.sum(F.pmod(F.xxhash64("u", "v"), res)),
    )
    cur, cur_fp = observed_checkpoint(canonical(edges), **fingerprint)
    converged = False
    for _ in range(50):
        nb = neighborhoods(cur)
        # large-star: strictly larger neighbors hang under the minimum.
        # NOT checkpointed: the small-star half consumes it through a
        # reused exchange, so fusing both stars into the one round-end
        # checkpoint job halves the actions per round.
        large = nb.filter(F.col("v") > F.col("u")).select(
            F.col("v").alias("u"), F.col("m").alias("v")
        )
        # NOT canonicalized: the mid-round distinct bought nothing —
        # neighborhoods() symmetrizes (orientation is irrelevant) and
        # min is multiplicity-insensitive, while large-star emits at
        # most one row per undirected edge, so there is no growth to
        # bound either; dropping it removes one exchange per round.
        # The round-end canonical below still dedups what the next
        # round consumes.
        after_large = large.filter(F.col("u") != F.col("v"))
        nb2 = neighborhoods(after_large)
        # small-star: u and its ≤ neighbors all re-parent to the minimum
        small = (
            nb2.filter(F.col("v") <= F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(nb2.select(F.col("u"), F.col("m")).toDF("u", "v"))
        )
        new, new_fp = observed_checkpoint(
            canonical(small.filter(F.col("u") != F.col("v"))), **fingerprint
        )
        if new_fp == cur_fp:
            # convergence = empty symmetric difference. Both frames are
            # DISTINCT canonical edge sets, so a row differs iff it
            # appears exactly once in their unionAll. The exact check
            # runs only on fingerprint match (in practice: the final
            # round); a collision that survives it merely costs one
            # more round.
            changed = (
                new.unionAll(cur)
                .groupBy("u", "v")
                .agg(F.count(F.lit(1)).alias("c"))
                .where(F.col("c") == 1)
                .limit(1)
                .count()
            )
            if changed == 0:
                cur = new
                converged = True
                break
        cur, cur_fp = new, new_fp
    if not converged:
        raise RuntimeError("star_contract: star rounds did not converge in 50 rounds")
    # fixpoint is a union of stars rooted at component minima: every
    # edge is (center, member) in canonical form
    members = cur.select(F.col("v").alias("doc_id"), F.col("u").alias("cluster_id"))
    centers = cur.select(F.col("u").alias("doc_id"), F.col("u").alias("cluster_id")).distinct()
    return members.unionByName(centers)


# ---------------------------------------------------------------------------
# weighted sampling without replacement (Efraimidis-Spirakis one-pass)

_WS_K = 20

WEIGHTED_SAMPLE_ORACLE = """
WITH k AS (
    SELECT doc_id, n_chars,
           ROUND(POWER(
               (('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                   / 4294967296.0,
               1.0 / GREATEST(n_chars, 1)), 9) AS skey
    FROM documents
)
SELECT doc_id, n_chars, skey FROM k
ORDER BY skey DESC, doc_id
LIMIT 20
"""


@query("q_weighted_sample", WEIGHTED_SAMPLE_ORACLE)
def weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement in one distributed pass —
    Efraimidis-Spirakis: key each doc with u^(1/w) (u uniform from its
    md5, w = its length) and keep the global top-{k} keys. Longer
    documents win proportionally more often, no per-item acceptance
    loop, no second pass over the corpus — and top-k by key plans as
    TakeOrderedAndProject (per-partition heaps + driver merge of k
    rows), never a global sort. This is how a training-mix sampler
    draws a length-weighted subset of a 100 TB corpus in one scan.

    Determinism: u is md5-derived, and ranking uses the key ROUNDED to
    9 decimals with doc_id tiebreak, so cross-engine pow() last-ulp
    differences cannot flip an order the oracle can see."""
    d = load_table(spark, sf_dir, "documents")
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        + 1
    ) / F.lit(4294967296.0)
    skey = F.round(
        F.pow(u, 1.0 / F.greatest(F.col("n_chars"), F.lit(1))), 9
    ).alias("skey")
    return (
        d.select("doc_id", "n_chars", skey)
        .orderBy(F.col("skey").desc(), "doc_id")
        .limit(_WS_K)
    )


weighted_sample.__doc__ = weighted_sample.__doc__.format(k=_WS_K)


# ---------------------------------------------------------------------------
# density clustering over embeddings: near-dup graph + star contraction

DENSITY_CLUSTERS_ORACLE = r"""
WITH RECURSIVE pairs AS (
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.embedding, b.embedding) > 0.45
),
edges AS (
    SELECT vec_a AS a, vec_b AS b FROM pairs
    UNION SELECT vec_b, vec_a FROM pairs
),
reach AS (
    SELECT vec_id, vec_id AS r FROM embeddings
    UNION
    SELECT e.b AS vec_id, reach.r FROM reach JOIN edges e ON e.a = reach.vec_id
)
SELECT vec_id, MIN(r) AS cluster_id FROM reach GROUP BY vec_id
"""


@query("q_density_clusters", DENSITY_CLUSTERS_ORACLE)
def density_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Density clustering of the embedding space — DBSCAN's core move
    (eps-neighborhood graph → connected components) composed from two
    already-verified kernels: q_embed_neardup's label-blocked BLAS
    pair generation (cos > 0.45) feeding star_contract's
    large-star/small-star contraction (fuzz-tested against
    union-find). Every vector gets the min vec_id of its density
    component; isolated vectors are their own clusters.

    This is the curation step that collapses embedding-level
    near-duplicate GROUPS (not just pairs) before sampling — and the
    composition is the point: blocked pairwise + graph contraction,
    both shuffle-bounded, no new primitive needed."""
    em = load_table(spark, sf_dir, "embeddings")
    pairs = embed_neardup(spark, sf_dir).select("vec_a", "vec_b")
    edges = pairs.toDF("u", "v").localCheckpoint(eager=True)  # cut the gram-matrix lineage once
    return _with_singletons(star_contract(edges).toDF("vec_id", "cluster_id"), em, "vec_id")


# ---------------------------------------------------------------------------
# product-quantization ANN: subspace codebooks + asymmetric distance

PQ_M = 8  # subspaces (64-dim embedding -> 8 x 8-dim subvectors)
PQ_K = 16  # codes per subspace codebook
PQ_ITERS = 3
PQ_SHORTLIST = 50  # ADC candidates kept for the exact rerank


def _pq_subel_sql() -> str:
    """Shared CTE prologue: per-element table keyed by (sub, spos)."""
    d_sub = 64 // PQ_M
    return f"""el AS MATERIALIZED (
    SELECT vec_id,
           CAST((i.p - 1) // {d_sub} AS INTEGER) AS sub,
           CAST((i.p - 1) % {d_sub} AS INTEGER) AS spos,
           CAST(embedding[i.p] AS DOUBLE) AS val
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(p)
)"""


_PQ_ASSIGN_SQL = """{out} AS MATERIALIZED (
    SELECT vec_id, sub, code FROM (
        SELECT d.vec_id, d.sub, d.code,
               ROW_NUMBER() OVER (PARTITION BY d.vec_id, d.sub
                                  ORDER BY d.d2, d.code) AS rk
        FROM (
            SELECT el.vec_id, el.sub, b.code,
                   SUM((el.val - b.cval) * (el.val - b.cval)) AS d2
            FROM {el} el JOIN {books} b ON b.sub = el.sub AND b.spos = el.spos
            {where}
            GROUP BY el.vec_id, el.sub, b.code
        ) d
    ) WHERE rk = 1
)"""


def _pq_train_sql(el: str = "el", pre: str = "", k: int = PQ_K) -> list[str]:
    """Materialized-CTE replay of pq_train's cold path: deterministic
    init from the ``k`` smallest vec_ids, PQ_ITERS Lloyd rounds with
    per-(sub, code) argmin-L2 assignment (code-index tiebreak, exactly
    numpy argmin), 6dp-rounded mean updates matching the np.round the
    Spark trainer applies, and COALESCE keep-previous for empty codes.
    Yields {pre}b0..{pre}b{PQ_ITERS} over the (vec_id, sub, spos, val)
    element table ``el``; {pre}b{PQ_ITERS} is the trained codebook."""
    steps = [
        f"""{pre}b0 AS MATERIALIZED (
    SELECT s.code, el.sub, el.spos, el.val AS cval
    FROM (SELECT vec_id,
                 CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                     AS code
          FROM embeddings ORDER BY vec_id LIMIT {k}) s
    JOIN {el} el ON el.vec_id = s.vec_id
)""",
    ]
    for r in range(1, PQ_ITERS + 1):
        steps.append(
            _PQ_ASSIGN_SQL.format(
                out=f"{pre}tr{r}", books=f"{pre}b{r - 1}", where="", el=el
            )
        )
        steps.append(
            f"""{pre}m{r} AS MATERIALIZED (
    SELECT a.sub, a.code, el.spos, ROUND(AVG(el.val), 6) AS cval
    FROM {pre}tr{r} a JOIN {el} el ON el.vec_id = a.vec_id AND el.sub = a.sub
    GROUP BY a.sub, a.code, el.spos
)""",
        )
        steps.append(
            f"""{pre}b{r} AS MATERIALIZED (
    SELECT p.sub, p.code, p.spos, COALESCE(m.cval, p.cval) AS cval
    FROM {pre}b{r - 1} p
    LEFT JOIN {pre}m{r} m
      ON m.sub = p.sub AND m.code = p.code AND m.spos = p.spos
)""",
        )
    return steps


def _pq_search_sql(candidate_where: str) -> str:
    """CTE epilogue replaying pq_search over b{PQ_ITERS}: ADC lookup
    table from the vec_id==0 query, encode candidates, top-{PQ_SHORTLIST}
    shortlist by (adc, vec_id), exact-L2 rerank to the final 10."""
    f = PQ_ITERS
    enc = _PQ_ASSIGN_SQL.format(
        out="enc",
        books=f"b{f}",
        where=f"WHERE el.vec_id != 0 {candidate_where}",
        el="el",
    )
    return (
        f"""qel AS MATERIALIZED (
    SELECT sub, spos, val AS qval FROM el WHERE vec_id = 0
),
lut AS MATERIALIZED (
    SELECT b.sub, b.code,
           SUM((q.qval - b.cval) * (q.qval - b.cval)) AS qd
    FROM b{f} b JOIN qel q ON q.sub = b.sub AND q.spos = b.spos
    GROUP BY b.sub, b.code
),
"""
        + enc
        + f""",
adct AS MATERIALIZED (
    SELECT e.vec_id, SUM(l.qd) AS adc
    FROM enc e JOIN lut l ON l.sub = e.sub AND l.code = e.code
    GROUP BY e.vec_id
),
short AS MATERIALIZED (
    SELECT vec_id FROM adct ORDER BY adc, vec_id LIMIT {PQ_SHORTLIST}
),
rer AS (
    SELECT el.vec_id, sqrt(SUM((el.val - q.qval) * (el.val - q.qval))) AS raw
    FROM el
    JOIN short USING (vec_id)
    JOIN qel q ON q.sub = el.sub AND q.spos = el.spos
    GROUP BY el.vec_id
)
SELECT r.vec_id, e.label, ROUND(r.raw, 4) AS l2_dist
FROM rer r JOIN embeddings e USING (vec_id)
ORDER BY r.raw, r.vec_id LIMIT 10
"""
    )


PQ_ANN_ORACLE = (
    "WITH "
    + _pq_subel_sql()
    + ",\n"
    + ",\n".join(_pq_train_sql())
    + ",\n"
    + _pq_search_sql("")
)


@query("q_pq_ann", PQ_ANN_ORACLE)
def pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (Jégou et al. 2011): split each
    64-dim embedding into {m} subvectors, learn a {k}-entry L2
    codebook per subspace (deterministic Lloyd iterations seeded from
    the {k} smallest vec_ids), encode every vector as {m} one-byte
    codes, and answer the query by ASYMMETRIC distance — a {m}×{k}
    lookup table of exact query-subvector-to-centroid distances,
    summed over each database vector's codes — then EXACTLY rerank the
    {short}-candidate ADC shortlist, the two-stage shape every
    production PQ deployment uses (the quantizer ranks cheaply; float
    vectors are fetched only for the shortlist).

    This is the memory-bound ANN shape for a 100 TB corpus: the
    encoded table is {m} bytes/vector (64× smaller than float32), the
    codebooks are driver-sized constants broadcast into vectorized
    pandas UDFs, training touches only (sub, code) partial sums —
    bounded by partitions × {m}·{k} tiny rows, never vectors — ADC
    scoring is a map-only scan with a TakeOrderedAndProject
    shortlist, and the rerank touches {short} rows. Compose with the
    IVF list pruning of q_similarity_ivf for IVF-PQ. Recall vs exact
    L2 (0.8@10 on the weakly-clustered synthetic embeddings, vs 0.2
    for raw ADC) is pinned in tests/test_round4c_ops.py."""
    em = _embeddings(spark, sf_dir)
    books = pq_train(em)
    out = pq_search(em, em, books)
    return out


pq_ann.__doc__ = pq_ann.__doc__.format(m=PQ_M, k=PQ_K, short=PQ_SHORTLIST)


def pq_train(em: DataFrame, init_books=None, m: int = PQ_M, k: int = PQ_K):  # type: ignore[no-untyped-def]
    """Learn the (m, k, 64 // m) subspace codebooks over ``em``;
    deterministic Lloyd rounds seeded from the k smallest vec_ids,
    or warm-started from ``init_books`` (OPQ's alternating loop passes
    the previous iteration's codebooks so each Lloyd restart begins at
    the prior optimum — the monotone-descent guarantee needs it).
    Only (sub, code) partial sums leave the executors. ``m=1`` is plain
    k-means over whole vectors (q_residual_quant's coarse codebook)."""
    d_sub = 64 // m
    if init_books is not None:
        books = np.array(init_books, dtype=np.float64, copy=True)
    else:
        init = em.orderBy("vec_id").limit(k).collect()
        # codebooks[s] : (k, d_sub) — subspace s's centroid matrix
        books = np.stack(
            [
                np.asarray(r.embedding, dtype=np.float64).reshape(m, d_sub)
                for r in init
            ]
        ).transpose(1, 0, 2)

    partial_schema = "sub int, code int, cnt long, sums array<double>"

    for _ in range(PQ_ITERS):
        b = books  # capture current codebooks by value

        def partials(batches, _b=b):
            # per-batch (sub, code) -> (count, sum-vector): the ONLY
            # thing that leaves the executors during training
            for pdf in batches:
                x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                x = x.reshape(len(x), m, d_sub)
                out = []
                for s in range(m):
                    d2 = ((x[:, s, None, :] - _b[s][None, :, :]) ** 2).sum(axis=2)
                    code = d2.argmin(axis=1)
                    for c in np.unique(code):
                        sel = x[code == c, s, :]
                        out.append((s, int(c), len(sel), sel.sum(axis=0).tolist()))
                yield pd.DataFrame(out, columns=["sub", "code", "cnt", "sums"])

        rows = em.select("embedding").mapInPandas(partials, partial_schema).collect()
        # deterministic driver-side reduce: sort partials by content so
        # float summation order never depends on task scheduling
        acc = np.zeros((m, k, d_sub))
        cnt = np.zeros((m, k))
        for r in sorted(rows, key=lambda r: (r.sub, r.code, r.cnt, tuple(r.sums))):
            acc[r.sub, r.code] += np.asarray(r.sums)
            cnt[r.sub, r.code] += r.cnt
        nz = cnt > 0  # empty codes keep their previous centroid
        books = books.copy()
        # 6dp-round every update (cold AND warm paths) so the DuckDB
        # replay oracles see bit-identical codebooks regardless of
        # float-summation order (measured mean-to-boundary distance
        # 1.6e-10 vs ~1e-12 noise; 1.2e-12 vs ~1e-15 for the m=1
        # coarse book). The OPQ warm path rounds too: its
        # monotone-descent invariant is pinned at 1e-5 tolerance (true
        # decreases are ~0.03, four orders above the rounding
        # perturbation), which buys the exact OPQ oracle.
        books[nz] = np.round(acc[nz] / cnt[nz][:, None], 6)
    return books


def pq_search(candidates: DataFrame, em: DataFrame, books) -> DataFrame:  # type: ignore[no-untyped-def]
    """ADC-shortlist + exact-rerank top-10 of ``candidates`` for the
    vec_id==0 query vector in ``em``, using trained ``books``."""
    d_sub = 64 // PQ_M
    bfinal = books
    qrow = em.filter(F.col("vec_id") == 0).select("embedding").collect()
    qsub = np.asarray(qrow[0].embedding, dtype=np.float64).reshape(PQ_M, d_sub)
    # ADC lookup table: exact query-subvector -> centroid distances
    adc = ((qsub[:, None, :] - bfinal) ** 2).sum(axis=2)  # (PQ_M, PQ_K)

    @F.pandas_udf("double")
    def pq_dist(e: pd.Series) -> pd.Series:
        x = np.stack(e.to_numpy()).astype(np.float64).reshape(len(e), PQ_M, d_sub)
        d2 = ((x[:, :, None, :] - bfinal[None]) ** 2).sum(axis=3)  # (n, M, K)
        codes = d2.argmin(axis=2)  # encode ...
        # ... then score via the ADC table only (codes, not vectors)
        return pd.Series(adc[np.arange(PQ_M)[None, :], codes].sum(axis=1))

    shortlist = (
        candidates.filter(F.col("vec_id") != 0)
        .select("vec_id", pq_dist("embedding").alias("adc"))
        .orderBy(F.col("adc").asc(), F.col("vec_id"))
        .limit(PQ_SHORTLIST)
    )
    # exact rerank of the shortlist only: the 50-row candidate set
    # broadcasts; float vectors are read for candidates, never scored
    # corpus-wide
    qvec = em.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"))
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with("embedding", "qv", lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda s, v: s + v.cast("double"),
        )
    )
    return (
        em.join(F.broadcast(shortlist.select("vec_id")), "vec_id")
        .join(F.broadcast(qvec))
        .select("vec_id", "label", l2.alias("raw"))
        .orderBy(F.col("raw").asc(), F.col("vec_id"))
        .limit(10)
        .select("vec_id", "label", F.round("raw", 4).alias("l2_dist"))
    )


IVF_PQ_ORACLE = (
    "WITH "
    + _pq_subel_sql()
    + ",\n"
    + ",\n".join(_pq_train_sql())
    + """,
pcomp AS (
    SELECT label, i - 1 AS pos, CAST(e.embedding[i] AS DOUBLE) AS val
    FROM embeddings e, UNNEST(range(1, len(e.embedding) + 1)) t(i)
),
pcent AS (
    SELECT label AS c_label, list(cval ORDER BY pos) AS centroid
    FROM (SELECT label, pos, AVG(val) AS cval FROM pcomp GROUP BY label, pos)
    GROUP BY label
),
pq0 AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
probe AS (
    SELECT c_label FROM pcent, pq0
    ORDER BY list_cosine_similarity(pq0.embedding::DOUBLE[], pcent.centroid)
             DESC, c_label
    LIMIT 3
),
cand AS (
    SELECT vec_id FROM embeddings
    WHERE label IN (SELECT c_label FROM probe)
),
"""
    + _pq_search_sql("AND el.vec_id IN (SELECT vec_id FROM cand)")
)


@query("q_ivf_pq", IVF_PQ_ORACLE)  # exact: probe + Lloyd replay
def ivf_pq(spark: SparkSession, sf_dir: str, n_probes: int = 3) -> DataFrame:
    """IVF-PQ, the composition the two index halves exist for (and the
    FAISS default at billion scale): q_similarity_ivf's inverted lists
    prune WHICH vectors are considered (read n_probes/10 of the
    corpus), q_pq_ann's codebooks make each considered vector cost
    {m} bytes and a table lookup. Codebooks are trained corpus-wide
    (standard: one quantizer, many lists), candidates are the probed
    lists only, and the ADC shortlist is exactly reranked. Recall
    relative to plain IVF at the same probe count is pinned in
    tests/test_round4c_ops.py — PQ's quantization loss must cost at
    most a small recall delta once the rerank runs."""
    em = _embeddings(spark, sf_dir)
    books = pq_train(em)
    # probe selection: label-centroid lists, exactly similarity_ivf's
    qvec = em.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_embedding"))
    candidates = em.join(
        F.broadcast(_ivf_probe(em, qvec, n_probes)), em.label == F.col("c_label"), "left_semi"
    )
    return pq_search(candidates, em, books)


ivf_pq.__doc__ = ivf_pq.__doc__.format(m=PQ_M)


# ---------------------------------------------------------------------------
# distributed PCA over the embedding column (moment-sketch + driver eig)

PCA_COMPONENTS = 16


@query("q_pca_embed")  # rows-only: eigendecomposition has no SQL analogue
def pca_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA of the 64-dim embedding column, reduced to
    {k} components — the embedding-compression / whitening step before
    clustering or ANN indexing. The covariance matrix is assembled
    from per-batch MOMENT SKETCHES (count, sum vector, X^T X Gram
    partial) — the only thing that ever leaves the executors is
    O(d²) numbers per batch, so a 100 TB corpus costs one map-only
    scan plus a driver-side 64×64 eigendecomposition. Projection is a
    second map-only pass with the component matrix as a broadcast
    constant.

    Output is the {k}-row component summary: eigenvalue, cumulative
    explained-variance ratio, and the DISTRIBUTED variance of the
    actual projections — which must reproduce the eigenvalue, the
    end-to-end proof that sketch, eig and projection agree (pinned in
    tests/test_round4c_ops.py)."""
    em = _embeddings(spark, sf_dir)
    d_dim = 64

    def moments(batches):
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            yield pd.DataFrame(
                {
                    "cnt": [len(x)],
                    "s": [x.sum(axis=0).tolist()],
                    "g": [(x.T @ x).ravel().tolist()],
                }
            )

    parts = em.select("embedding").mapInPandas(
        moments, "cnt long, s array<double>, g array<double>"
    ).collect()
    # content-sorted driver reduce: summation order independent of
    # task scheduling (same determinism rule as q_pq_ann's trainer)
    n = 0
    s = np.zeros(d_dim)
    g = np.zeros((d_dim, d_dim))
    for r in sorted(parts, key=lambda r: (r.cnt, tuple(r.s))):
        n += r.cnt
        s += np.asarray(r.s)
        g += np.asarray(r.g).reshape(d_dim, d_dim)
    mu = s / n
    cov = (g - n * np.outer(mu, mu)) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(evals)[::-1][:PCA_COMPONENTS]
    lam = evals[order]
    w = evecs[:, order]  # (d, k) orthonormal
    total_var = float(evals.sum())

    @F.pandas_udf("array<double>")
    def project(e: pd.Series) -> pd.Series:
        x = np.stack(e.to_numpy()).astype(np.float64)
        return pd.Series(list((x - mu) @ w))

    proj_var = (
        em.select(F.posexplode(project("embedding")).alias("component", "y"))
        .groupBy("component")
        .agg(F.var_samp("y").alias("proj_var"))
    )
    lam_df = proj_var.sparkSession.createDataFrame(
        [
            (int(i), float(lam[i]), float(np.cumsum(lam)[i] / total_var))
            for i in range(PCA_COMPONENTS)
        ],
        "component int, eigenvalue double, cum_explained double",
    )
    return (
        lam_df.join(proj_var, "component")
        .orderBy("component")
        .select(
            "component",
            F.round("eigenvalue", 6).alias("eigenvalue"),
            F.round("cum_explained", 6).alias("cum_explained"),
            F.round("proj_var", 6).alias("proj_var"),
        )
    )


pca_embed.__doc__ = pca_embed.__doc__.format(k=PCA_COMPONENTS)


# ---------------------------------------------------------------------------
# distributed logistic-regression quality classifier (supervised kernel)

LR_ITERS = 12
LR_RATE = 1.0
_LR_FEATURES = ["bias", "log_tokens", "mean_tok_len", "stopword_ratio", "vowel_ratio"]



def _lr_sql() -> str:
    """Unrolled full-batch gradient-descent oracle for
    q_quality_classifier: feature extraction, standardization, LR_ITERS
    weight updates and the final evaluation pass, all as MATERIALIZED
    CTEs — the q_unigram_lm/q_kcore pattern extended to a TRAINED
    MODEL. Cross-engine float surfaces: summation order (~1e-15) and
    exp/log libm ulps, both far under the 6dp output rounding."""
    fs = ["x0", "x1", "x2", "x3", "x4"]
    dot = " + ".join(f"w.c{i} * f.{c}" for i, c in enumerate(fs))
    parts = [
        rf"""
WITH toks AS MATERIALIZED (
    SELECT {WHITESPACE_TOKENS_SQL} AS ws,
           text, lang
    FROM documents
),
raw AS MATERIALIZED (
    SELECT LN(1.0 + GREATEST(len(ws), 1)) AS f1,
           CAST(len(regexp_replace(text, '\s', '', 'g')) AS DOUBLE)
               / GREATEST(len(ws), 1) AS f2,
           CAST(len(list_filter(ws,
                t -> list_contains(['the', 'a', 'of', 'and', 'to'], t)))
                AS DOUBLE) / GREATEST(len(ws), 1) AS f3,
           CAST(len(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
               / GREATEST(len(text), 1) AS f4,
           CAST(lang = 'en' AS INT) AS y
    FROM toks
),
st AS MATERIALIZED (
    SELECT AVG(f1) m1, AVG(f2) m2, AVG(f3) m3, AVG(f4) m4,
           STDDEV_SAMP(f1) s1, STDDEV_SAMP(f2) s2,
           STDDEV_SAMP(f3) s3, STDDEV_SAMP(f4) s4
    FROM raw
),
feats AS MATERIALIZED (
    SELECT CAST(1 AS DOUBLE) AS x0,
           (r.f1 - st.m1) / GREATEST(COALESCE(st.s1, 0), 1e-9) AS x1,
           (r.f2 - st.m2) / GREATEST(COALESCE(st.s2, 0), 1e-9) AS x2,
           (r.f3 - st.m3) / GREATEST(COALESCE(st.s3, 0), 1e-9) AS x3,
           (r.f4 - st.m4) / GREATEST(COALESCE(st.s4, 0), 1e-9) AS x4,
           CAST(r.y AS DOUBLE) AS y
    FROM raw r, st
),
w0 AS MATERIALIZED (
    SELECT CAST(0 AS DOUBLE) c0, CAST(0 AS DOUBLE) c1, CAST(0 AS DOUBLE) c2,
           CAST(0 AS DOUBLE) c3, CAST(0 AS DOUBLE) c4
)"""
    ]
    for r in range(1, LR_ITERS + 2):  # one extra pass for the final metrics
        parts.append(
            f""",
p{r} AS MATERIALIZED (
    SELECT f.*, 1.0 / (1.0 + EXP(-({dot}))) AS p
    FROM feats f, w{r - 1} w
),
g{r} AS MATERIALIZED (
    SELECT COUNT(*) AS n,
           {", ".join(f"SUM((p - y) * {c}) AS g{i}" for i, c in enumerate(fs))},
           SUM(-(y * LN(p + 1e-12) + (1 - y) * LN(1 - p + 1e-12))) AS loss,
           SUM(CASE WHEN (p >= 0.5) = (y >= 0.5) THEN 1 ELSE 0 END) AS hit
    FROM p{r}
)"""
        )
        if r <= LR_ITERS:
            parts.append(
                f""",
w{r} AS MATERIALIZED (
    SELECT {", ".join(f"w.c{i} - {LR_RATE} * g.g{i} / g.n AS c{i}" for i in range(5))}
    FROM w{r - 1} w, g{r} g
)"""
            )
    names = ", ".join(
        f"({i}, '{n}')" for i, n in enumerate(
            ["bias", "log_tokens", "mean_tok_len", "stopword_ratio", "vowel_ratio"]
        )
    )
    coefs = " UNION ALL ".join(
        f"SELECT {i} AS fid, c{i} AS coef FROM w{LR_ITERS}" for i in range(5)
    )
    parts.append(
        f""",
fn(fid, feature) AS (VALUES {names}),
coefs AS ({coefs})
SELECT fn.feature,
       ROUND(c.coef, 6) AS coef,
       ROUND(g1.loss / g1.n, 6) AS loss_initial,
       ROUND(gf.loss / gf.n, 6) AS loss_final,
       ROUND(gf.hit / gf.n, 6) AS train_acc
FROM coefs c
JOIN fn ON fn.fid = c.fid
CROSS JOIN g1
CROSS JOIN g{LR_ITERS + 1} gf
"""
    )
    return "".join(parts)


@query("q_quality_classifier", _lr_sql())
def quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic regression — the fastText-style quality
    classifier every curation pipeline trains (CCNet, GPT-3's
    WebText-vs-CommonCrawl filter): cheap text features, a binary
    target (here: is the doc English — the only supervised signal the
    synthetic corpus carries), full-batch gradient descent.

    This is the SUPERVISED member of the iterative-kernel family
    (k-means, PageRank, PCA): per iteration ONE map-only pass emits
    per-batch (count, gradient-sum, loss-sum) partials — O(d) numbers
    per batch, never rows — reduced on the driver in content-sorted
    order so float summation is schedule-independent; the weight
    vector is a broadcast constant. 100 TB costs iters × one scan.
    Feature extraction is pure column algebra ahead of the loop and
    is materialized once.

    Output: one row per feature with the learned coefficient plus the
    training loss/accuracy trajectory endpoints; loss decrease and
    better-than-majority accuracy are pinned in
    tests/test_round4c_ops.py."""
    d = load_table(spark, sf_dir, "documents")
    toks = whitespace_tokens("text")
    n_toks = F.greatest(F.size(toks), F.lit(1))
    stop = F.size(F.filter(toks, lambda t: t.isin("the", "a", "of", "and", "to")))
    vowels = F.length(F.regexp_replace("text", "[^aeiou]", ""))
    raw = fan_out(d).select(
        F.log(F.lit(1.0) + n_toks).cast("double").alias("f1"),
        (F.length(F.regexp_replace("text", r"\s", "")).cast("double") / n_toks).alias("f2"),
        (stop.cast("double") / n_toks).alias("f3"),
        (vowels.cast("double") / F.greatest(F.length("text"), F.lit(1))).alias("f4"),
        (F.col("lang") == "en").cast("double").alias("y"),
    )
    # ONE text pass total: the regexp-heavy feature extraction is the
    # expensive part, so materialize the five raw feature columns once
    # (localCheckpoint, NOT cache(): invocation-local reuse without
    # registering the subplan in the session CacheManager — the old
    # shape paid the text pass twice per invocation, once for the
    # standardization aggregate and once to materialize feats, and then
    # served later invocations from the cross-run cache).
    raw = raw.localCheckpoint(eager=True)
    # standardize from a one-row aggregate over the materialized
    # features (full-batch GD with a fixed rate needs unit-scale
    # features or it oscillates — measured: raw mean_tok_len ~5
    # diverged 0.69 -> 0.89 loss in 12 rounds); zero-variance features
    # scale to 0 via the greatest() floor. Kept as the deterministic
    # agg path (NOT an observe() metric riding the checkpoint: observe
    # merges task partials in completion order, which could perturb the
    # float sums run-to-run; the agg's merge order is fixed).
    st = raw.agg(
        *[F.avg(f).alias(f"m{f}") for f in ("f1", "f2", "f3", "f4")],
        *[F.stddev_samp(f).alias(f"s{f}") for f in ("f1", "f2", "f3", "f4")],
    ).collect()[0]
    norm = [
        (F.col(f) - F.lit(float(st[f"m{f}"] or 0.0)))
        / F.lit(float(max(st[f"s{f}"] or 0.0, 1e-9)))
        for f in ("f1", "f2", "f3", "f4")
    ]
    # the normalization is five arithmetic expressions over the
    # checkpointed blocks — each epoch re-evaluates it for free, no
    # second materialization needed
    feats = raw.select(F.array(F.lit(1.0), *norm).alias("x"), "y")
    dim = len(_LR_FEATURES)
    schema = (
        "feature string, coef double, loss_initial double, "
        "loss_final double, train_acc double"
    )
    if st["mf1"] is None:  # empty corpus: nothing to train on
        return spark.createDataFrame([], schema)
    wvec = np.zeros(dim)
    trajectory = []

    def epoch(_w):
        """One distributed pass: per-batch (count, grad, loss, hits)."""

        def partials(batches):
            for pdf in batches:
                x = np.stack(pdf["x"].to_numpy()).astype(np.float64)
                y = pdf["y"].to_numpy().astype(np.float64)
                p = 1.0 / (1.0 + np.exp(-(x @ _w)))
                eps = 1e-12
                loss = -(y * np.log(p + eps) + (1 - y) * np.log(1 - p + eps)).sum()
                grad = x.T @ (p - y)
                acc = float(((p >= 0.5) == (y >= 0.5)).sum())
                yield pd.DataFrame(
                    {"cnt": [len(y)], "grad": [grad.tolist()], "loss": [loss], "hit": [acc]}
                )

        rows = feats.mapInPandas(
            partials, "cnt long, grad array<double>, loss double, hit double"
        ).collect()
        n = sum(r.cnt for r in rows)
        g = np.zeros(dim)
        loss = 0.0
        hit = 0.0
        # content-sorted reduce: same determinism rule as q_pq_ann/q_pca_embed
        for r in sorted(rows, key=lambda r: (r.cnt, r.loss, tuple(r.grad))):
            g += np.asarray(r.grad)
            loss += r.loss
            hit += r.hit
        return n, g, loss, hit

    for _ in range(LR_ITERS):
        n, g, loss, hit = epoch(wvec)
        trajectory.append((loss / n, hit / n))
        wvec = wvec - LR_RATE * g / n
    # one extra evaluation pass so loss_final/train_acc are measured AT
    # the emitted coefficients, not one update behind them
    n, _, loss, hit = epoch(wvec)
    trajectory.append((loss / n, hit / n))
    first_loss, first_acc = trajectory[0]
    last_loss, last_acc = trajectory[-1]
    return spark.createDataFrame(
        [
            (
                _LR_FEATURES[i],
                float(round(wvec[i], 6)),
                float(round(first_loss, 6)),
                float(round(last_loss, 6)),
                float(round(last_acc, 6)),
            )
            for i in range(dim)
        ],
        schema,
    )


# ---------------------------------------------------------------------------
# OPQ: learned rotation that minimizes PQ quantization error

OPQ_ITERS = 3
OPQ_NS_STEPS = 34  # Newton–Schulz polar iterations (converged ≤31 at cond 4e3)


def _opq_polar(m: "np.ndarray") -> "np.ndarray":
    """Polar factor of ``m`` (= U Vᵀ from its SVD, the orthogonal
    Procrustes optimum) via the inverse-free Newton–Schulz iteration
    X_{k+1} = X_k (3I − X_kᵀX_k)/2 from X_0 = m/‖m‖_F. Chosen over
    np.linalg.svd NOT for speed — it's a 64×64 — but because a fixed
    count of matrix multiplies is replayable as a DuckDB CTE chain,
    which is what upgrades q_opq_train from rows-only to an exact
    oracle. Fro-normalization puts every singular value in (0, 1], the
    iteration's convergence region; 34 steps reach the fixed point to
    ~1e-15 for condition numbers up to ~4e3 (measured)."""
    x = m / np.linalg.norm(m)
    eye3 = 3.0 * np.eye(m.shape[0])
    for _ in range(OPQ_NS_STEPS):
        x = x @ (eye3 - x.T @ x) / 2.0
    return x


def _opq_oracle_sql() -> str:
    """Full materialized-CTE replay of opq_train: per-iteration
    6dp-rounded rotation (matrix-vector join), warm-started Lloyd
    rounds (the _pq_train_sql template continued from the previous
    iteration's final codebook), encode + SSE, 6dp-rounded
    cross-moment M = Σ x ŷᵀ, and the Newton–Schulz polar chain (two
    64×64-matmul CTEs per step) that both engines now run
    identically. Every engine boundary (rotated values, codebook
    means, M entries, R entries, the output means) is 6dp-rounded so
    float-summation order can never flip a value."""
    d_sub = 64 // PQ_M
    ctes = [
        f"""oel AS MATERIALIZED (
    SELECT vec_id,
           CAST(i.p - 1 AS INTEGER) AS pos,
           CAST((i.p - 1) // {d_sub} AS INTEGER) AS sub,
           CAST((i.p - 1) % {d_sub} AS INTEGER) AS spos,
           CAST(embedding[i.p] AS DOUBLE) AS val
    FROM embeddings, unnest(generate_series(1, len(embedding))) AS i(p)
)""",
        # iteration 0 rotation is the identity: y = round(x, 6)
        """rel0 AS MATERIALIZED (
    SELECT vec_id, sub, spos, ROUND(val, 6) AS val FROM oel
)""",
    ]
    for t in range(OPQ_ITERS + 1):
        if t == 0:
            # cold Lloyd: PQ_K-smallest-vec_id init over rel0
            ctes += _pq_train_sql(el="rel0", pre="i0")
        else:
            # rotate: y = round(x @ R_t, 6); R is rrot{t}
            ctes.append(
                f"""rel{t} AS MATERIALIZED (
    SELECT el.vec_id,
           CAST(rr.c // {d_sub} AS INTEGER) AS sub,
           CAST(rr.c % {d_sub} AS INTEGER) AS spos,
           ROUND(SUM(el.val * rr.val), 6) AS val
    FROM oel el JOIN rrot{t} rr ON rr.r = el.pos
    GROUP BY el.vec_id, rr.c
)"""
            )
            # warm Lloyd: continue from the previous iteration's final
            # books — alias them as this chain's b0, then reuse the
            # round template
            ctes.append(
                f"""i{t}b0 AS MATERIALIZED (
    SELECT sub, code, spos, cval FROM i{t - 1}b{PQ_ITERS}
)"""
            )
            for r in range(1, PQ_ITERS + 1):
                ctes.append(
                    _PQ_ASSIGN_SQL.format(
                        out=f"i{t}tr{r}",
                        books=f"i{t}b{r - 1}",
                        where="",
                        el=f"rel{t}",
                    )
                )
                ctes.append(
                    f"""i{t}m{r} AS MATERIALIZED (
    SELECT a.sub, a.code, el.spos, ROUND(AVG(el.val), 6) AS cval
    FROM i{t}tr{r} a
    JOIN rel{t} el ON el.vec_id = a.vec_id AND el.sub = a.sub
    GROUP BY a.sub, a.code, el.spos
)"""
                )
                ctes.append(
                    f"""i{t}b{r} AS MATERIALIZED (
    SELECT p.sub, p.code, p.spos, COALESCE(m.cval, p.cval) AS cval
    FROM i{t}b{r - 1} p
    LEFT JOIN i{t}m{r} m
      ON m.sub = p.sub AND m.code = p.code AND m.spos = p.spos
)"""
                )
        # final encode of this iteration's rotated vectors
        ctes.append(
            _PQ_ASSIGN_SQL.format(
                out=f"enc{t}",
                books=f"i{t}b{PQ_ITERS}",
                where="",
                el=f"rel{t}",
            )
        )
        # SSE of the reconstruction
        ctes.append(
            f"""sse{t} AS MATERIALIZED (
    SELECT SUM((el.val - b.cval) * (el.val - b.cval)) AS sse
    FROM rel{t} el
    JOIN enc{t} a ON a.vec_id = el.vec_id AND a.sub = el.sub
    JOIN i{t}b{PQ_ITERS} b
      ON b.sub = el.sub AND b.code = a.code AND b.spos = el.spos
)"""
        )
        if t < OPQ_ITERS:
            # cross-moment M = Σ x ŷᵀ over RAW x (6dp-rounded entries)
            ctes.append(
                f"""mt{t} AS MATERIALIZED (
    SELECT x.pos AS r,
           CAST(b.sub * {d_sub} + b.spos AS INTEGER) AS c,
           ROUND(SUM(x.val * b.cval), 6) AS val
    FROM oel x
    JOIN enc{t} a ON a.vec_id = x.vec_id
    JOIN i{t}b{PQ_ITERS} b ON b.sub = a.sub AND b.code = a.code
    GROUP BY x.pos, b.sub, b.spos
)"""
            )
            # Newton–Schulz polar chain: X_0 = M/‖M‖_F, then
            # Z_k = (3I − X_kᵀX_k)/2 and X_{k+1} = X_k Z_k
            ctes.append(
                f"""ns{t}_0 AS MATERIALIZED (
    SELECT r, c, val / (SELECT SQRT(SUM(val * val)) FROM mt{t}) AS val
    FROM mt{t}
)"""
            )
            for k in range(1, OPQ_NS_STEPS + 1):
                ctes.append(
                    f"""nsz{t}_{k} AS MATERIALIZED (
    SELECT a.c AS r, b.c AS c,
           (CASE WHEN a.c = b.c THEN 1.5 ELSE 0.0 END)
               - 0.5 * SUM(a.val * b.val) AS val
    FROM ns{t}_{k - 1} a JOIN ns{t}_{k - 1} b ON a.r = b.r
    GROUP BY a.c, b.c
)"""
                )
                ctes.append(
                    f"""ns{t}_{k} AS MATERIALIZED (
    SELECT x.r, z.c, SUM(x.val * z.val) AS val
    FROM ns{t}_{k - 1} x JOIN nsz{t}_{k} z ON x.c = z.r
    GROUP BY x.r, z.c
)"""
                )
            ctes.append(
                f"""rrot{t + 1} AS MATERIALIZED (
    SELECT r, c, ROUND(val, 6) AS val FROM ns{t}_{OPQ_NS_STEPS}
)"""
            )
    finals = "\nUNION ALL\n".join(
        f"SELECT CAST({t} AS INTEGER) AS iteration, "
        f"ROUND(sse / (SELECT COUNT(*) FROM embeddings), 6) "
        f"AS mean_sq_error FROM sse{t}"
        for t in range(OPQ_ITERS + 1)
    )
    return "WITH " + ",\n".join(ctes) + "\n" + finals + "\nORDER BY iteration"


@query("q_opq_train", _opq_oracle_sql())  # exact: NS-polar replay
def opq_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimized Product Quantization (Ge et al. 2013): learn an
    orthogonal rotation R so that PQ's independent-subspace assumption
    fits the data better, by alternating (a) train PQ codebooks on the
    rotated vectors and (b) solve the orthogonal Procrustes problem
    R = UVᵀ from the SVD of Σ xᵢŷᵢᵀ between data and their quantized
    reconstructions.

    Distributed shape: every pass is map-only — rotation is a
    broadcast 64×64 constant inside the codebook trainer (pq_train
    unchanged), the Procrustes cross-moment Σ xŷᵀ leaves the
    executors as O(d²) per-batch partials (same moment-sketch
    discipline as q_pca_embed), and the polar solve is a driver-side
    64×64 Newton–Schulz iteration (see _opq_polar — identical to
    UVᵀ from the SVD, but replayable in SQL, which is what makes
    this query exact-oracle-checkable). Every engine
    boundary is 6dp-rounded: rotated vectors, Lloyd means (pq_train's
    warm path), the cross-moment, and R itself, so the DuckDB replay
    is bit-identical. Output: per-iteration mean quantization error,
    iteration 0 being PLAIN PQ (R = I) — the monotone decrease that
    is OPQ's whole point is pinned in tests/test_round4c_ops.py."""
    em = _embeddings(spark, sf_dir)
    d_dim, d_sub = 64, 64 // PQ_M
    r_mat = np.eye(d_dim)
    errors = []
    books = None

    for it in range(OPQ_ITERS + 1):
        r_cur = r_mat

        @F.pandas_udf("array<double>")
        def rotate(e: pd.Series) -> pd.Series:
            x = np.stack(e.to_numpy()).astype(np.float64)
            # 6dp-round the rotated values: downstream Lloyd then sees
            # bit-identical inputs in Spark and the DuckDB replay,
            # whatever each engine's matmul summation order was
            return pd.Series(list(np.round(x @ r_cur, 6)))

        rotated = em.select("vec_id", rotate("embedding").alias("embedding"))
        # warm-start from the previous iteration's codebooks: Procrustes
        # lowered the error at those books' codes, and Lloyd from them
        # can only lower it further — a cold re-seed could land in a
        # worse local optimum and break the monotone invariant
        books = pq_train(rotated, init_books=books)

        def recon_moments(batches, _b=books, _r=r_cur):
            # per-batch (count, Σ‖y-ŷ‖², Σ xŷᵀ partial): O(d²) out.
            # Same 6dp rounding as the rotate UDF — encode/err must see
            # exactly the values the codebooks were trained on.
            for pdf in batches:
                x = np.stack(pdf["x"].to_numpy()).astype(np.float64)
                y = np.round(x @ _r, 6)
                ys = y.reshape(len(y), PQ_M, d_sub)
                codes = (
                    ((ys[:, :, None, :] - _b[None]) ** 2).sum(axis=3).argmin(axis=2)
                )
                yhat = _b[np.arange(PQ_M)[None, :], codes].reshape(len(y), d_dim)
                err = float(((y - yhat) ** 2).sum())
                yield pd.DataFrame(
                    {
                        "cnt": [len(y)],
                        "err": [err],
                        "m": [(x.T @ yhat).ravel().tolist()],
                    }
                )

        parts = (
            em.select(F.col("embedding").alias("x"))
            .mapInPandas(recon_moments, "cnt long, err double, m array<double>")
            .collect()
        )
        n = 0
        err = 0.0
        m = np.zeros((d_dim, d_dim))
        # content-sorted reduce, as in pq_train/pca_embed
        for r in sorted(parts, key=lambda r: (r.cnt, r.err)):
            n += r.cnt
            err += r.err
            m += np.asarray(r.m).reshape(d_dim, d_dim)
        errors.append((it, float(round(err / n, 6))))
        if it < OPQ_ITERS:
            # orthogonal Procrustes optimum = polar factor of the
            # 6dp-rounded cross-moment; rounded again so both engines
            # rotate with the identical R next iteration
            r_mat = np.round(_opq_polar(np.round(m, 6)), 6)
    return spark.createDataFrame(errors, "iteration int, mean_sq_error double")


# ---------------------------------------------------------------------------
# residual quantization: coarse codebook + PQ on the residuals

RQ_COARSE_K = 16


def _rq_coarse_sql() -> list[str]:
    """The coarse codebook is pq_train with one 64-dim subspace, so its
    replay is _pq_train_sql over ``cel``, the element table seen as
    one subspace (sub 0, spos 0..63): cb0..cb{PQ_ITERS} are the books
    and ca{PQ_ITERS + 1} the final one-code-per-vector assignment."""
    return [
        f"""cel AS MATERIALIZED (
    SELECT vec_id, CAST(0 AS INTEGER) AS sub,
           sub * {64 // PQ_M} + spos AS spos, val
    FROM el
)""",
        *_pq_train_sql(el="cel", pre="c", k=RQ_COARSE_K),
        _PQ_ASSIGN_SQL.format(
            out=f"ca{PQ_ITERS + 1}", books=f"cb{PQ_ITERS}", where="", el="cel"
        ),
    ]


def _rq_oracle() -> str:
    """Exact replay of the whole two-level encoder comparison: coarse
    Lloyd over full vectors, residual stream, cold-path PQ on both the
    residuals and the raw vectors, then the three mean squared
    reconstruction errors. Rounding discipline identical to the Spark
    op (6dp codebooks in both engines; measured boundary margins in
    the docstrings of the pieces)."""
    f = PQ_ITERS
    steps = [_pq_subel_sql()]
    steps += _rq_coarse_sql()
    steps.append(
        f"""rel AS MATERIALIZED (
    SELECT el.vec_id, el.sub, el.spos, el.val - b.cval AS val
    FROM el
    JOIN ca{f + 1} a ON a.vec_id = el.vec_id
    JOIN cb{f} b ON b.code = a.code AND b.spos = el.sub * {64 // PQ_M} + el.spos
)"""
    )
    steps += _pq_train_sql(el="rel", pre="r")
    steps += _pq_train_sql(el="el", pre="p")
    steps.append(
        _PQ_ASSIGN_SQL.format(out="renc", books=f"rb{f}", where="", el="rel")
    )
    steps.append(
        _PQ_ASSIGN_SQL.format(out="penc", books=f"pb{f}", where="", el="el")
    )
    steps.append(
        f"""e_coarse AS (
    SELECT SUM((el.val - b.cval) * (el.val - b.cval)) AS s
    FROM el
    JOIN ca{f + 1} a ON a.vec_id = el.vec_id
    JOIN cb{f} b ON b.code = a.code AND b.spos = el.sub * {64 // PQ_M} + el.spos
)"""
    )
    steps.append(
        f"""e_rq AS (
    SELECT SUM((rel.val - b.cval) * (rel.val - b.cval)) AS s
    FROM rel
    JOIN renc e ON e.vec_id = rel.vec_id AND e.sub = rel.sub
    JOIN rb{f} b ON b.code = e.code AND b.sub = rel.sub AND b.spos = rel.spos
)"""
    )
    steps.append(
        f"""e_pq AS (
    SELECT SUM((el.val - b.cval) * (el.val - b.cval)) AS s
    FROM el
    JOIN penc e ON e.vec_id = el.vec_id AND e.sub = el.sub
    JOIN pb{f} b ON b.code = e.code AND b.sub = el.sub AND b.spos = el.spos
)"""
    )
    steps.append("nv AS (SELECT COUNT(*) AS n FROM embeddings)")
    return (
        "WITH "
        + ",\n".join(steps)
        + """
SELECT 'pq_only' AS encoder,
       ROUND((SELECT s FROM e_pq) / (SELECT n FROM nv), 6) AS mean_sq_error
UNION ALL
SELECT 'coarse_only',
       ROUND((SELECT s FROM e_coarse) / (SELECT n FROM nv), 6)
UNION ALL
SELECT 'coarse_plus_residual_pq',
       ROUND((SELECT s FROM e_rq) / (SELECT n FROM nv), 6)
"""
    )


RESID_QUANT_ORACLE = _rq_oracle()


@query("q_residual_quant", RESID_QUANT_ORACLE)  # exact: Lloyd replay
def residual_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual quantization, the IVF-PQ encoding trick isolated and
    measured: a coarse {ck}-centroid codebook captures the vector's
    neighborhood, PQ codebooks then quantize the RESIDUAL x - c(x) —
    which is what FAISS actually stores in an IVF-PQ index (encoding
    residuals re-centers every list at the origin, so the PQ codebook
    spends its codes on local structure instead of absolute position).

    Distributed shape: the coarse book is pq_train with one 64-dim
    subspace (m=1, k={ck}); residuals are a map-only subtraction under a broadcast
    centroid matrix; the PQ stage and the error measurement reuse the
    existing kernels' moment discipline. Output compares mean squared
    reconstruction error of plain PQ vs coarse-only vs
    coarse+residual-PQ — the two-level encoder must beat both of its
    halves (pinned in tests/test_round4c_ops.py)."""
    em = _embeddings(spark, sf_dir)
    d_dim, d_sub = 64, 64 // PQ_M
    cfinal = pq_train(em, m=1, k=RQ_COARSE_K)[0]  # (RQ_COARSE_K, 64)

    # --- residual stream: map-only subtraction under the broadcast book
    @F.pandas_udf("array<double>")
    def residual(e: pd.Series) -> pd.Series:
        x = np.stack(e.to_numpy()).astype(np.float64)
        code = ((x[:, None, :] - cfinal[None]) ** 2).sum(axis=2).argmin(axis=1)
        return pd.Series(list(x - cfinal[code]))

    resid = em.select("vec_id", residual("embedding").alias("embedding"))
    books_resid = pq_train(resid)
    books_plain = pq_train(em)

    def errors(batches, _c=cfinal, _br=books_resid, _bp=books_plain):
        # per-batch squared errors of the three encoders: O(1) out
        for pdf in batches:
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            code = ((x[:, None, :] - _c[None]) ** 2).sum(axis=2).argmin(axis=1)
            e_coarse = float(((x - _c[code]) ** 2).sum())
            r = (x - _c[code]).reshape(len(x), PQ_M, d_sub)
            rc = ((r[:, :, None, :] - _br[None]) ** 2).sum(axis=3).argmin(axis=2)
            rhat = _br[np.arange(PQ_M)[None, :], rc].reshape(len(x), d_dim)
            e_rq = float(((x - (_c[code] + rhat)) ** 2).sum())
            xs = x.reshape(len(x), PQ_M, d_sub)
            pc = ((xs[:, :, None, :] - _bp[None]) ** 2).sum(axis=3).argmin(axis=2)
            phat = _bp[np.arange(PQ_M)[None, :], pc].reshape(len(x), d_dim)
            e_pq = float(((x - phat) ** 2).sum())
            yield pd.DataFrame(
                {"cnt": [len(x)], "e_pq": [e_pq], "e_coarse": [e_coarse], "e_rq": [e_rq]}
            )

    parts = em.select("embedding").mapInPandas(
        errors, "cnt long, e_pq double, e_coarse double, e_rq double"
    ).collect()
    n = sum(r.cnt for r in parts)
    tot = {
        k: sum(getattr(r, k) for r in sorted(parts, key=lambda r: (r.cnt, r.e_pq)))
        for k in ("e_pq", "e_coarse", "e_rq")
    }
    return spark.createDataFrame(
        [
            ("pq_only", float(round(tot["e_pq"] / n, 6))),
            ("coarse_only", float(round(tot["e_coarse"] / n, 6))),
            ("coarse_plus_residual_pq", float(round(tot["e_rq"] / n, 6))),
        ],
        "encoder string, mean_sq_error double",
    )


residual_quant.__doc__ = residual_quant.__doc__.format(ck=RQ_COARSE_K)


# ---------------------------------------------------------------------------
# retrieval evaluation: nDCG@10 of the cosine ranking vs label relevance

_NDCG_K = 10

NDCG_ORACLE = rf"""
WITH q AS (SELECT embedding, label FROM embeddings WHERE vec_id = 0),
ranked AS (
    SELECT b.vec_id,
           CAST(b.label = q.label AS INT) AS rel,
           ROW_NUMBER() OVER (
               ORDER BY ROUND(CAST(list_cosine_similarity(
                   q.embedding::DOUBLE[], b.embedding::DOUBLE[]) AS DOUBLE), 9)
                        DESC, b.vec_id) AS rnk
    FROM embeddings b, q
    WHERE b.vec_id <> 0
),
n_rel AS (SELECT SUM(rel) AS nr FROM ranked),
dcg AS (
    SELECT SUM(rel / log2(rnk + 1)) AS dcg
    FROM ranked WHERE rnk <= {_NDCG_K}
),
idcg AS (
    SELECT SUM(1.0 / log2(i + 1)) AS idcg
    FROM n_rel, UNNEST(range(1, CAST(LEAST({_NDCG_K}, nr) AS BIGINT) + 1)) AS t(i)
)
SELECT CAST(COALESCE(n_rel.nr, 0) AS BIGINT) AS n_relevant,
       ROUND(dcg.dcg, 6) AS dcg_at_k,
       ROUND(idcg.idcg, 6) AS idcg_at_k,
       ROUND(dcg.dcg / idcg.idcg, 6) AS ndcg_at_k
FROM n_rel, dcg, idcg
"""


@query("q_ndcg_eval", NDCG_ORACLE)
def ndcg_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation: nDCG@{k} of the brute-force
    cosine ranking (q_similarity_topk's retriever) against label-match
    relevance — the metric loop that closes an embedding-retrieval
    pipeline (swap label equality for human judgments and this is the
    BEIR harness kernel).

    Scale shape: one broadcast of the query row, one corpus scan for
    similarities, a window over the RESULT ranking (result-list-sized,
    as in q_rrf_fusion), and three scalar aggregates cross-joined into
    the single metric row; the ideal DCG is closed-form column algebra
    over a generated 1..min(k, n_rel) sequence, not a second ranking
    pass. Ranking orders on ROUND(·, 9) for cross-libm determinism."""
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("q_embedding"), F.col("label").alias("q_label")
    )
    ranked = (
        em.filter(F.col("vec_id") != 0)
        .join(F.broadcast(q))
        .select(
            "vec_id",
            (F.col("label") == F.col("q_label")).cast("int").alias("rel"),
            cosine_similarity("q_embedding", "embedding").alias("c"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.round("c", 9).desc(), "vec_id")),
        )
    )
    n_rel = ranked.agg(F.coalesce(F.sum("rel"), F.lit(0)).alias("nr"))
    dcg = (
        ranked.filter(F.col("rnk") <= _NDCG_K)
        .agg(F.sum(F.col("rel") / F.log2(F.col("rnk") + 1.0)).alias("dcg"))
    )
    # nr=0 guard: sequence(1, 0) would count DOWN in Spark
    idcg = n_rel.select(
        F.when(
            F.col("nr") > 0,
            F.aggregate(
                F.sequence(F.lit(1), F.least(F.lit(_NDCG_K), F.col("nr"))),
                F.lit(0.0),
                lambda acc, i: acc + 1.0 / F.log2(i + 1.0),
            ),
        ).alias("idcg")
    )
    return (
        n_rel.crossJoin(dcg)
        .crossJoin(idcg)
        .select(
            F.col("nr").cast("long").alias("n_relevant"),
            F.round("dcg", 6).alias("dcg_at_k"),
            F.round("idcg", 6).alias("idcg_at_k"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg_at_k"),
        )
    )


ndcg_eval.__doc__ = ndcg_eval.__doc__.format(k=_NDCG_K)


# ---------------------------------------------------------------------------
# contrastive hard-negative mining

_HN_ANCHORS = 10

HARD_NEG_ORACLE = rf"""
WITH a AS (
    SELECT vec_id AS anchor_id, label AS anchor_label, embedding AS a_emb
    FROM embeddings WHERE vec_id < {_HN_ANCHORS}
),
s AS (
    SELECT a.anchor_id, a.anchor_label, b.vec_id, b.label,
           CAST(list_cosine_similarity(a.a_emb::DOUBLE[],
                                       b.embedding::DOUBLE[]) AS DOUBLE) AS c
    FROM a JOIN embeddings b ON b.label <> a.anchor_label
),
r AS (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
                                 ORDER BY ROUND(c, 9) DESC, vec_id) AS rn
    FROM s
)
SELECT anchor_id, anchor_label, vec_id AS neg_id, label AS neg_label,
       ROUND(c, 5) AS cos_sim
FROM r WHERE rn = 1
"""


@query("q_hard_negatives", HARD_NEG_ORACLE)
def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each of {a} anchor
    vectors, the most-similar vector with a DIFFERENT label — the
    pair-construction step of embedding-model training (hard negatives
    drive the contrastive gradient; random negatives teach nothing
    once the model is warm).

    Scale shape: the anchor set is broadcast (bounded — a training
    batch, not the corpus), so the corpus pays ONE scan with a
    {a}-row nested-loop probe per partition and a partial max_by per
    anchor — no corpus×corpus pairs ever materialize; at production
    anchor counts swap the broadcast for the blocked-ANN shortlist
    (q_pq_ann's ADC scan) feeding the same exact argmax. Ties broken
    on ROUND(cos, 9) then vec_id, the cross-libm determinism rule."""
    em = load_table(spark, sf_dir, "embeddings")
    anchors = em.filter(F.col("vec_id") < _HN_ANCHORS).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("label").alias("anchor_label"),
        F.col("embedding").alias("a_emb"),
    )
    scored = (
        em.join(F.broadcast(anchors), F.col("label") != F.col("anchor_label"))
        .select(
            "anchor_id",
            "anchor_label",
            "vec_id",
            "label",
            cosine_similarity("a_emb", "embedding").alias("c"),
        )
        .withColumn("cr", F.round("c", 9))
    )
    best = scored.groupBy("anchor_id", "anchor_label").agg(
        F.min_by(
            F.struct("vec_id", "label", "c"),
            F.struct((-F.col("cr")).alias("nc"), F.col("vec_id").alias("v")),
        ).alias("neg")
    )
    return best.select(
        "anchor_id",
        "anchor_label",
        F.col("neg.vec_id").alias("neg_id"),
        F.col("neg.label").alias("neg_label"),
        F.round("neg.c", 5).alias("cos_sim"),
    )


hard_negatives.__doc__ = hard_negatives.__doc__.format(a=_HN_ANCHORS)


# ---------------------------------------------------------------------------
# deterministic epoch shuffle: shard + position assignment for training

_SHARD_SEED = "epoch7"
_SHARD_N = 16
_SHARD_MOD = 1_000_000_007

SHARD_ASSIGN_ORACLE = f"""
WITH h AS (
    SELECT doc_id,
           md5('{_SHARD_SEED}:' || CAST(doc_id AS VARCHAR)) AS hx
    FROM documents
),
asg AS (
    SELECT doc_id, hx,
           ('0x' || substr(hx, 1, 4))::INT % {_SHARD_N} AS shard,
           ROW_NUMBER() OVER (
               PARTITION BY ('0x' || substr(hx, 1, 4))::INT % {_SHARD_N}
               ORDER BY hx, doc_id) AS pos
    FROM h
)
SELECT shard,
       COUNT(*) AS n_docs,
       MIN(CASE WHEN pos = 1 THEN doc_id END) AS head_doc,
       CAST(SUM(doc_id * pos) % {_SHARD_MOD} AS BIGINT) AS order_checksum
FROM asg
GROUP BY shard
ORDER BY shard
"""


@query("q_shard_assign", SHARD_ASSIGN_ORACLE)
def shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic epoch shuffle: every document gets a (shard,
    position) from a seeded content hash — the global random
    permutation a training run needs, without any engine-dependent
    randomness or a driver-side shuffle. [engine — not in reference]

    Re-keying the seed string ("epoch7" -> "epoch8") yields a fresh
    independent permutation, so epochs are reshuffles by construction
    and any worker can recompute its own shard's order statelessly —
    the property that makes resumable data loading work.

    Scale design: the assignment is pure column algebra (md5 + modulo,
    whole-stage codegen); the only shuffle is the per-shard
    ROW_NUMBER, which partitions by shard and sort-merges within — at
    a real corpus you'd raise _SHARD_N to O(cores) so each sort fits
    an executor, or swap row_number for a two-level (file, offset)
    scheme via repartitionByRange(hash) + monotonically increasing
    ids rescoped per file. Output is one summary row per shard (count,
    first doc, full order checksum), so the permutation is
    value-verified end-to-end with |shards| rows, not |corpus| rows.
    """
    d = load_table(spark, sf_dir, "documents")
    hx = F.md5(F.concat(F.lit(_SHARD_SEED + ":"), F.col("doc_id").cast("string")))
    asg = d.select(
        "doc_id",
        hx.alias("hx"),
        (F.conv(F.substring(hx, 1, 4), 16, 10).cast("int") % _SHARD_N).alias("shard"),
    ).withColumn(
        "pos",
        F.row_number().over(Window.partitionBy("shard").orderBy("hx", "doc_id")),
    )
    return (
        asg.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min(F.when(F.col("pos") == 1, F.col("doc_id"))).alias("head_doc"),
            (F.sum(F.col("doc_id") * F.col("pos")) % _SHARD_MOD).alias(
                "order_checksum"
            ),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# n-gram novelty: per-document share of corpus-first shingles

NOVELTY_ORACLE = f"""
WITH tok AS (
    SELECT doc_id,
           {WHITESPACE_TOKENS_SQL} AS ws
    FROM documents
),
sh AS (
    SELECT DISTINCT doc_id,
        ('0x' || substr(md5(unnest({SHINGLES_SQL})), 1, 12))::BIGINT AS g
    FROM tok
    WHERE len(ws) >= 3
),
first AS (
    SELECT g, MIN(doc_id) AS first_doc FROM sh GROUP BY g
)
SELECT sh.doc_id,
       COUNT(*) AS n_grams,
       CAST(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
            AS BIGINT) AS n_novel,
       ROUND(SUM(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)::DOUBLE
             / COUNT(*), 4) AS novelty
FROM sh JOIN first f USING (g)
GROUP BY sh.doc_id
"""


@query("q_ngram_novelty", NOVELTY_ORACLE)
def ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty: the share of a document's distinct
    3-gram shingles whose FIRST corpus occurrence (by doc_id order) is
    this document — the dataset-novelty curve a pretraining run tracks
    to see when a source stops contributing new content (and the
    per-doc signal behind "train on novel data first" curricula).
    [engine — not in reference]

    Scale design: shingling is the map-only zip_with stage every dedup
    op here shares; shingles are immediately COMPRESSED to 48-bit
    md5-derived integers, so the two shuffles (distinct (doc, gram),
    min-doc per gram) and the join move 8-byte keys, never shingle
    strings — identical hashing in the oracle keeps the check exact
    (a collision merges the same two shingles in both engines). The
    first-occurrence table is |distinct grams|-bounded and the final
    aggregate returns one row per document."""
    d = load_table(spark, sf_dir, "documents")
    sh = (
        d.select("doc_id", whitespace_tokens(F.col("text")).alias("ws"))
        .where(F.size("ws") >= 3)
        .select("doc_id", F.explode(shingles("ws")).alias("s"))
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("s"), 1, 12), 16, 10).cast("long").alias("g"),
        )
        .distinct()
    )
    first = sh.groupBy("g").agg(F.min("doc_id").alias("first_doc"))
    novel = F.sum(
        F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    )
    return (
        sh.join(first, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            novel.alias("n_novel"),
            F.round(novel.cast("double") / F.count(F.lit(1)), 4).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# embedding outlier score: distance-to-label-centroid z-score

EMBED_OUTLIERS_ORACLE = """
WITH el AS (
    SELECT vec_id, label, i.p - 1 AS pos,
           CAST(embedding[i.p] AS DOUBLE) AS val
    FROM embeddings,
         unnest(generate_series(1, len(embedding))) AS i(p)
),
cen AS (  -- centroid rounded to 6dp so FP summation order can't leak
    SELECT label, pos, ROUND(AVG(val), 6) AS c
    FROM el GROUP BY label, pos
),
dist AS (
    SELECT el.vec_id, el.label,
           SQRT(SUM((el.val - cen.c) * (el.val - cen.c))) AS d
    FROM el JOIN cen ON cen.label = el.label AND cen.pos = el.pos
    GROUP BY el.vec_id, el.label
),
stats AS (
    SELECT label, AVG(d) AS mu, STDDEV_SAMP(d) AS sd FROM dist GROUP BY label
)
SELECT dist.vec_id, dist.label,
       ROUND(dist.d, 4) AS dist,
       ROUND((dist.d - stats.mu) / stats.sd, 4) AS z
FROM dist JOIN stats USING (label)
"""


@query("q_embed_outliers", EMBED_OUTLIERS_ORACLE)
def embed_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier scoring: each vector's Euclidean
    distance to its label centroid, z-scored within the label — the
    curation gate that catches mis-embedded, corrupted or
    off-distribution documents before they reach training (the
    centroid-distance prune of CLIP-style data filtering, and
    SemDeDup's complement: q_semdedup drops the too-close, this flags
    the too-far). [engine — not in reference]

    Scale design: centroids come from one posexplode + (label, dim)
    aggregate — the map-side-combinable shape, |labels|×64 rows of
    state no matter the corpus size; distances are a second pass
    joining each element against the broadcast-sized centroid table;
    the z-score needs only |labels| (mean, stddev) rows. Nothing ever
    materializes a pairwise anything. Centroids are rounded to 6dp in
    BOTH engines before the distance pass so double-summation order
    (Spark partial aggs vs DuckDB sequential) cannot leak into the
    4dp outputs."""
    em = load_table(spark, sf_dir, "embeddings")
    el = em.select(
        "vec_id",
        "label",
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        ),
    )
    cen = el.groupBy("label", "pos").agg(F.round(F.avg("val"), 6).alias("c"))
    dist = (
        el.join(F.broadcast(cen), ["label", "pos"])
        .groupBy("vec_id", "label")
        .agg(F.sqrt(F.sum((F.col("val") - F.col("c")) * (F.col("val") - F.col("c")))).alias("d"))
    )
    stats = dist.groupBy("label").agg(
        F.avg("d").alias("mu"), F.stddev_samp("d").alias("sd")
    )
    return dist.join(F.broadcast(stats), "label").select(
        "vec_id",
        "label",
        F.round("d", 4).alias("dist"),
        F.round((F.col("d") - F.col("mu")) / F.col("sd"), 4).alias("z"),
    )


# ---------------------------------------------------------------------------
# signed-random-projection LSH: 16-bit cosine sketch + bucket census

_SRP_BITS = 16
_SRP_DIMS = 64


def _srp_planes() -> list[list[float]]:
    """Deterministic ±1 hyperplanes from md5 — generated ONCE here and
    embedded as literals in BOTH engines, so there is no cross-engine
    hash-implementation surface at all."""
    import hashlib

    planes = []
    for b in range(_SRP_BITS):
        row = []
        for d in range(_SRP_DIMS):
            h = hashlib.md5(f"srp:{b}:{d}".encode()).hexdigest()
            row.append(1.0 if int(h[0], 16) % 2 == 0 else -1.0)
        planes.append(row)
    return planes


_SRP = _srp_planes()

_SRP_PLANES_SQL = "planes(bit, dims) AS (VALUES " + ", ".join(
    f"({b}, [{', '.join(str(int(w)) for w in row)}])"
    for b, row in enumerate(_SRP)
) + ")"

SRP_LSH_ORACLE = (
    "WITH "
    + _SRP_PLANES_SQL
    + """,
dots AS (
    SELECT e.vec_id, p.bit,
           ROUND(SUM(CAST(e.embedding[i.d] AS DOUBLE) * p.dims[i.d]), 9) AS dot
    FROM embeddings e, planes p,
         unnest(generate_series(1, len(e.embedding))) AS i(d)
    GROUP BY e.vec_id, p.bit
),
sigs AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot >= 0 THEN 1 << bit ELSE 0 END) AS BIGINT)
               AS sig
    FROM dots GROUP BY vec_id
),
buckets AS (
    SELECT sig, COUNT(*) AS n_bucket FROM sigs GROUP BY sig
)
SELECT s.vec_id, s.sig, b.n_bucket
FROM sigs s JOIN buckets b USING (sig)
"""
)


@query("q_srp_lsh", SRP_LSH_ORACLE)
def srp_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed-random-projection LSH (Charikar 2002): each embedding
    gets a {bits}-bit cosine sketch — bit b is the sign of the dot
    product with a fixed ±1 hyperplane — plus the size of its sketch
    bucket. This closes the LSH family: MinHash banding for Jaccard
    (q_dedup_minhash), SimHash for text cosine (q_dedup_simhash), SRP
    for EMBEDDING cosine — the bucket key a 100-TB ANN pipeline would
    group on instead of q_knn_join's label blocking.
    [engine — not in reference]

    Scale design: the sketch is pure map-side fold algebra
    (zip_with + aggregate over 64-element literal arrays, whole-stage
    codegen, sequential evaluation order); the only shuffles are the
    |buckets|-bounded census and its join back. Dot products are
    rounded to 9dp in BOTH engines before the sign test so the
    different summation orders (Spark's in-order fold vs DuckDB's
    group aggregate, ~1e-14 apart) cannot flip a bucket bit (measured
    sign-boundary margin at sf0.01: min |dot| = 9.3e-5, nine orders
    above the noise)."""
    em = load_table(spark, sf_dir, "embeddings")
    emb_d = F.transform("embedding", lambda x: x.cast("double"))
    sig = None
    for b, row in enumerate(_SRP):
        plane = F.array(*[F.lit(w) for w in row])
        dot = F.round(
            F.aggregate(
                F.zip_with(emb_d, plane, lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        )
        bit = F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    sigs = em.select("vec_id", sig.cast("long").alias("sig"))
    buckets = sigs.groupBy("sig").agg(F.count(F.lit(1)).alias("n_bucket"))
    return sigs.join(buckets, "sig").select("vec_id", "sig", "n_bucket")


srp_lsh.__doc__ = srp_lsh.__doc__.format(bits=_SRP_BITS)


# ---------------------------------------------------------------------------
# mutual nearest neighbors: the bitext-mining / pair-construction kernel

MUTUAL_NN_ORACLE = """
WITH pc AS (
    SELECT a.vec_id AS va, b.vec_id AS vb,
           ROUND(CAST(list_cosine_similarity(a.embedding::DOUBLE[],
                                             b.embedding::DOUBLE[])
                      AS DOUBLE), 9) AS c
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id
),
t1 AS (
    SELECT va, vb, c FROM (
        SELECT va, vb, c,
               ROW_NUMBER() OVER (PARTITION BY va ORDER BY c DESC, vb) AS rn
        FROM pc)
    WHERE rn = 1
)
SELECT x.va AS vec_a, x.vb AS vec_b, ROUND(x.c, 6) AS cosine
FROM t1 x JOIN t1 y ON y.va = x.vb AND y.vb = x.va
WHERE x.va < x.vb
"""


@query("q_mutual_nn", MUTUAL_NN_ORACLE)
def mutual_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual nearest neighbors: pairs where each vector is the
    OTHER's top-1 cosine neighbor — the margin-free core of bitext
    mining (WMT parallel-corpus construction), cross-snapshot entity
    matching, and contrastive pair building; far higher precision than
    one-sided top-1 because both directions must agree.
    [engine — not in reference]

    Scale design: the same documented ANN-blocking contract as
    q_knn_join — candidates pair only within a label block (swap the
    label for an IVF/SRP bucket at 100 TB); top-1 per vector rides a
    per-block window, and the mutual check is a self-join of the
    |vectors|-sized top-1 table on the reversed pair. Similarities are
    computed as the SAME sequential double fold in both engines
    (zip_with/aggregate vs DuckDB's list loop — bit-identical), with a
    9dp rank key and vec_id tiebreak as belt-and-braces."""
    em = load_table(spark, sf_dir, "embeddings")
    emd = em.select(
        "label",
        F.col("vec_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    a, b = emd.alias("a"), emd.alias("b")
    pc = a.join(
        b,
        (F.col("a.label") == F.col("b.label"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("va"),
        F.col("b.vec_id").alias("vb"),
        F.round(cosine_similarity(F.col("a.e"), F.col("b.e")), 9).alias("c"),
    )
    w = Window.partitionBy("va").orderBy(F.desc("c"), "vb")
    t1 = (
        pc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("va", "vb", "c")
    )
    x, y = t1.alias("x"), t1.alias("y")
    return (
        x.join(
            y,
            (F.col("y.va") == F.col("x.vb")) & (F.col("y.vb") == F.col("x.va")),
        )
        .where(F.col("x.va") < F.col("x.vb"))
        .select(
            F.col("x.va").alias("vec_a"),
            F.col("x.vb").alias("vec_b"),
            F.round("x.c", 6).alias("cosine"),
        )
    )


# ---------------------------------------------------------------------------
# mutual information between two categorical columns

MUTUAL_INFO_ORACLE = """
WITH jt AS (
    SELECT lang, source, COUNT(*) AS nxy FROM documents GROUP BY 1, 2
),
n AS (SELECT SUM(nxy) AS n FROM jt),
px AS (SELECT lang, SUM(nxy) AS nx FROM jt GROUP BY lang),
py AS (SELECT source, SUM(nxy) AS ny FROM jt GROUP BY source),
terms AS (
    SELECT jt.nxy, px.nx, py.ny, n.n FROM jt, px, py, n
    WHERE jt.lang = px.lang AND jt.source = py.source
),
agg AS (
    SELECT CAST(MIN(n) AS BIGINT) AS n_docs,
           SUM(CAST(nxy AS DOUBLE) / n
               * LN(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny)))
               AS mi
    FROM terms
),
hx AS (
    SELECT -SUM(CAST(nx AS DOUBLE) / n.n * LN(CAST(nx AS DOUBLE) / n.n)) AS h
    FROM px, n
),
hy AS (
    SELECT -SUM(CAST(ny AS DOUBLE) / n.n * LN(CAST(ny AS DOUBLE) / n.n)) AS h
    FROM py, n
)
SELECT agg.n_docs,
       ROUND(agg.mi, 6) AS mi_nats,
       ROUND(hx.h, 6) AS h_lang,
       ROUND(hy.h, 6) AS h_source,
       ROUND(agg.mi / GREATEST(SQRT(hx.h * hy.h), 1e-12), 6) AS nmi
FROM agg, hx, hy
"""


@query("q_mutual_info", MUTUAL_INFO_ORACLE)
def mutual_info(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between the lang and source columns — the
    association test a corpus curator runs to see whether a metadata
    field leaks another (MI ~ 0: independent sampling; high NMI: one
    column is a proxy for the other, and stratified splits must block
    on it). Complements q_pmi_bigrams (pointwise, per-pair) with the
    full distribution-level statistic. [engine — not in reference]

    Scale design: one (lang, source) contingency aggregate — the
    corpus is touched once and everything after runs on the
    |langs|×|sources| table; marginals and entropies are broadcast-
    sized re-aggregations of that same tiny table."""
    d = load_table(spark, sf_dir, "documents")
    jt = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("nxy"))
    jt = jt.localCheckpoint(eager=True)  # |langs|x|sources|-bounded
    n = jt.agg(F.sum("nxy").cast("long").alias("n"))
    px = jt.groupBy("lang").agg(F.sum("nxy").alias("nx"))
    py = jt.groupBy("source").agg(F.sum("nxy").alias("ny"))
    terms = (
        jt.join(F.broadcast(px), "lang")
        .join(F.broadcast(py), "source")
        .crossJoin(F.broadcast(n))
    )
    mi = terms.agg(
        F.min("n").cast("long").alias("n_docs"),
        F.sum(
            F.col("nxy").cast("double")
            / F.col("n")
            * F.log(
                F.col("nxy").cast("double")
                * F.col("n")
                / (F.col("nx").cast("double") * F.col("ny"))
            )
        ).alias("mi"),
    )
    hx = (
        px.crossJoin(F.broadcast(n))
        .agg(
            (
                -F.sum(
                    F.col("nx").cast("double")
                    / F.col("n")
                    * F.log(F.col("nx").cast("double") / F.col("n"))
                )
            ).alias("h")
        )
        .withColumnRenamed("h", "h_lang_raw")
    )
    hy = (
        py.crossJoin(F.broadcast(n))
        .agg(
            (
                -F.sum(
                    F.col("ny").cast("double")
                    / F.col("n")
                    * F.log(F.col("ny").cast("double") / F.col("n"))
                )
            ).alias("h")
        )
        .withColumnRenamed("h", "h_source_raw")
    )
    return (
        mi.crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hy))
        .select(
            "n_docs",
            F.round("mi", 6).alias("mi_nats"),
            F.round("h_lang_raw", 6).alias("h_lang"),
            F.round("h_source_raw", 6).alias("h_source"),
            F.round(
                F.col("mi")
                / F.greatest(
                    F.sqrt(F.col("h_lang_raw") * F.col("h_source_raw")),
                    F.lit(1e-12),
                ),
                6,
            ).alias("nmi"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing: window-min fingerprint selection + shared-print pairs

_WINNOW_W = 4  # selection window over consecutive shingle positions

WINNOWING_ORACLE = rf"""
WITH tok AS (
    SELECT doc_id,
           {WHITESPACE_TOKENS_SQL} AS ws
    FROM documents
),
sh AS (
    -- composite key: 40-bit shingle hash << 16 | (65535 - pos), so a
    -- window MIN is the canonical rightmost-argmin selection
    SELECT doc_id, i.i AS pos,
           (('0x' || substr(md5(ws[i.i] || '|' || ws[i.i + 1] || '|'
                                || ws[i.i + 2]), 1, 10))::BIGINT << 16)
           + (65535 - i.i) AS key
    FROM tok, unnest(generate_series(1, len(ws) - 2)) AS i(i)
    WHERE len(ws) >= 3 AND i.i < 65536
),
wm AS (
    SELECT doc_id,
           MIN(key) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                                   AND {_WINNOW_W - 1} FOLLOWING) AS wkey
    FROM sh
),
prints AS (
    SELECT DISTINCT doc_id, wkey >> 16 AS h FROM wm
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS n_shared
FROM prints a
JOIN prints b ON a.h = b.h AND a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
ORDER BY n_shared DESC, doc_a, doc_b
LIMIT 20
"""


def _winnow_collapse(d: DataFrame):
    """Dedup-collapse + select-phase of q_winnowing, exposed so the
    regression contract in tests/test_round5_ops.py can assert the
    O(reps) invariant directly: ``pr`` (the frame the shared-print
    self-join explodes) must carry ONE row per distinct text group,
    never one per document — a member-level frame here made the join
    quadratic (~2 B join rows under the 100-replica plant).

    Returns ``(members, sizes, pr)``: members = (doc_id, g, rnk, sz),
    sizes = one row per group with its rep, pr = (g, sz, prints[])
    checkpointed where the plan forks."""
    # Slim (doc_id, g) rows: md5 + the ≥3-token filter run map-side, so
    # the membership shuffle never carries text.
    slim = fan_out(
        d.where(F.size(whitespace_tokens(F.col("text"))) >= 3).select(
            "doc_id", F.md5("text").alias("g")
        )
    )
    # rnk AND sz come from the SAME window pass (one exchange): a
    # count over the whole g-partition is just a second window
    # function on the partitioning the rank already pays for.
    wg = Window.partitionBy("g").orderBy("doc_id")
    wall = Window.partitionBy("g")
    members = slim.withColumn("rnk", F.row_number().over(wg)).withColumn(
        "sz", F.count(F.lit(1)).over(wall)
    )
    sizes = members.where(F.col("rnk") == 1).select(
        "g", "sz", F.col("doc_id").alias("rep_id")
    )
    # Fetch rep text by id (renamed key — never a same-lineage
    # self-resolving join); only |groups| texts ever get shingled.
    reps = sizes.join(
        d.select(F.col("doc_id").alias("rep_id"), "text"), "rep_id"
    )
    # Tokens materialize into a named column BEFORE shingles() (the
    # functions/text.py rule): shingles references its token column
    # ~n+2 times and higher-order functions get no codegen CSE, so an
    # inline whitespace_tokens(text) would re-run the regex split per
    # reference.
    toks = reps.select("g", "sz", whitespace_tokens(F.col("text")).alias("ws"))
    keyed = toks.select(
        "g",
        "sz",
        # oracle positions are 1-based; transform's index i is 0-based,
        # so 65535 - pos == 65534 - i. The slice keeps pos < 65536,
        # matching the oracle's i.i < 65536 filter.
        F.slice(
            F.transform(
                shingles("ws"),
                lambda s, i: F.shiftleft(
                    F.conv(F.substring(F.md5(s), 1, 10), 16, 10).cast("long"),
                    16,
                )
                + (F.lit(65534) - i),
            ),
            1,
            65535,
        ).alias("keys"),
    )
    # Sliding MIN over window [j, j+w-1] as a least()-fold of w aligned
    # slices: zip_with pads the shorter shifted slice with NULL and
    # least() skips NULLs, which IS the oracle's tail truncation.
    arr = F.col("keys")
    wmin = arr
    for j in range(1, _WINNOW_W):
        wmin = F.zip_with(
            wmin, F.slice(arr, j + 1, F.size(arr)), lambda x, y: F.least(x, y)
        )
    # prints stays an ARRAY column here so the per-group print count
    # (within-class n_shared) is a map-side size() — no groupBy, no
    # re-join. The ONE localCheckpoint materializes the shingling
    # exactly once: the plan forks here (explode-for-join vs
    # within-class census), and without a barrier each branch
    # re-shingles every rep (measured ~2× the warm wall); two
    # barriers (the earlier draft) were slower than one, and zero were
    # slower than two.
    pr = keyed.select(
        "g",
        "sz",
        F.array_distinct(
            F.transform(wmin, lambda k: F.shiftright(k, 16))
        ).alias("prints"),
    ).localCheckpoint(eager=True)
    return members, sizes, pr


@query("q_winnowing", WINNOWING_ORACLE)
def winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al. 2003 — the MOSS
    algorithm): hash every 3-gram shingle, keep only each sliding
    window's MINIMUM hash, and pair documents by shared selected
    prints — the position-robust local fingerprint that guarantees
    any sufficiently long match is detected (every length-{w} window
    SELECTS its rightmost-argmin, encoded as an integer MIN over a
    hash<<16 | reversed-position key) while storing a ~2/(w+1)
    fraction of the grams. Completes the text-dedup family's
    fingerprint axis next to q_fingerprint (rolling hash) and
    q_dedup_minhash (global sketch). [engine — not in reference]

    Scale design — two levers, both from the repo's 100× rehearsals:

    (1) DEDUP-COLLAPSE (the r8 neardup lesson, previously missing
    here): winnowing prints are a pure function of the text, so the
    shared-print self-join went QUADRATIC IN DUPLICATION MULTIPLICITY
    under the 100-replica plant (~2 B join rows at 100×; measured: the
    join alone exceeded 11 min from checkpointed prints). Documents
    collapse to one REPRESENTATIVE per identical-text group
    (rep = min doc_id over md5(text)); the shingle/print pipeline and
    the shared-print join run on REPS ONLY; pairs come back as
    PAIR-CLASSES — within-group (n_shared = the group's own print
    count, C(sz,2) pairs) and cross-group (n_shared = rep∩rep shared
    prints, sz_a·sz_b pairs) — and only classes that can reach the
    global top-20 are expanded through membership. The threshold is
    exact: classes are bucketed by n_shared, a cumulative pair count
    over the (tiny, ≤ distinct-n_shared-values) bucket list finds the
    smallest n_shared that 20 pairs can reach, and every class at or
    above it expands. Expansion per class is capped at each group's 22
    smallest doc_ids: the 21 pairs formed by a group's smallest member
    against its 21 next-smallest (or against the other group's 21
    smallest) all lexicographically precede ANY pair involving a
    23rd-or-later member, so no top-20 pair is ever outside the cap.

    (2) MAP-ONLY ARRAY ALGEBRA for the select-phase: the naive plan
    (posexplode every shingle + a doc-partitioned Window) shuffles AND
    sorts the full shingle volume just to compare each key with its
    w-1 neighbors; since the window never crosses a document, the same
    rightmost-argmin selection is computed in place as a least()-fold
    of w aligned array slices (the shingles() trick) — measured 3.4×
    on the select-phase at 100× before the collapse made it
    rep-bounded. The keyed array lives in its OWN projection and is
    only referenced as an attribute afterwards — CollapseProject keeps
    a non-cheap multi-referenced expression in its own project, so the
    md5 transform runs once per rep. fan_out spreads the tokenize/
    group map over all cores (a small parquet table arrives as one
    split; no-op on a many-split 100-TB table). Hashes are 40-bit md5
    slices identical in both engines; tail windows truncate at the
    document end the same way in both (a documented variant of the
    full-window-only original); the oracle replays the uncollapsed
    join verbatim, so the driver check proves collapse-equivalence.

    KNOWN CEILING (round-13 combined-axis rehearsal): the collapse
    keys on EXACT text, so NEAR-dup multiplicity (the vocab-growth
    plant; any real web corpus) re-inflates the rep-level
    shared-print join to Σ_h C(df_h, 2) — measured disk-full
    (>78 GB spill) at the 100×-corpus × grown-vocabulary plant on
    local[32]. The exact all-pairs table is a bounded-corpus forensic
    op; near-dup-heavy corpora use q_winnowing_band (min-print
    banding + exact verify, 2.6× at the same plant) or
    q_dedup_minhash."""
    d = load_table(spark, sf_dir, "documents")
    members, sizes, pr = _winnow_collapse(d)
    rep_prints = pr.select("g", F.explode("prints").alias("h"))
    pa = rep_prints.select(F.col("g").alias("ga"), F.col("h").alias("ha"))
    pb = rep_prints.select(F.col("g").alias("gb"), F.col("h").alias("hb"))
    shared = (
        pa.join(pb, (F.col("ha") == F.col("hb")) & (F.col("ga") < F.col("gb")))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("ns"))
    )
    sz_a = sizes.select(F.col("g").alias("ga"), F.col("sz").alias("sza"))
    sz_b = sizes.select(F.col("g").alias("gb"), F.col("sz").alias("szb"))
    cross_cls = (
        shared.join(sz_a, "ga")
        .join(sz_b, "gb")
        .select(
            "ga",
            "gb",
            "ns",
            (F.col("sza") * F.col("szb")).alias("n_pairs"),
        )
    )
    within_cls = pr.where(F.col("sz") >= 2).select(
        F.col("g").alias("ga"),
        F.col("g").alias("gb"),
        F.size("prints").cast("long").alias("ns"),
        # sz*(sz-1) is even; shiftright keeps the count exact in
        # integer arithmetic (a double division drifts past 2^53)
        F.shiftright(F.col("sz") * (F.col("sz") - 1), 1).alias("n_pairs"),
    )
    classes = within_cls.unionByName(cross_cls)
    return _winnow_expand_classes(classes, members)


def _winnow_expand_classes(classes: DataFrame, members: DataFrame) -> DataFrame:
    """Exact top-20 member-level expansion of (ga, gb, ns, n_pairs)
    PAIR-CLASSES — shared by q_winnowing and q_winnowing_band_members
    so the two surfaces use one proven cap rule. Threshold: smallest
    n_shared the top-20 can reach (cumulative pair count over the
    ≤|distinct ns| bucket list, never over the class list); expansion
    per class is capped at each group's 22 smallest doc_ids (the 21
    pairs of a group's smallest member against its next-21 all
    lexicographically precede any pair involving a 23rd member, so no
    top-20 pair is ever outside the cap)."""
    w_ns = Window.orderBy(F.desc("ns")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    t = (
        classes.groupBy("ns")
        .agg(F.sum("n_pairs").alias("np"))
        .withColumn("cum_prev", F.coalesce(F.sum("np").over(w_ns), F.lit(0)))
        .where(F.col("cum_prev") < 20)
        .agg(F.min("ns").alias("t"))
    )
    sel = classes.join(F.broadcast(t), F.col("ns") >= F.col("t"))
    m22 = members.where(F.col("rnk") <= 22)
    ma = m22.select(F.col("g").alias("ga"), F.col("doc_id").alias("ida"))
    mb = m22.select(F.col("g").alias("gb"), F.col("doc_id").alias("idb"))
    pairs = (
        sel.join(ma, "ga")
        .join(mb, "gb")
        # within-group (ga == gb): both sides enumerate the same
        # members, so ida < idb dedups the unordered pair; cross-group:
        # every (ida, idb) combination is ONE distinct pair regardless
        # of id order — least/greatest canonicalizes it.
        .where((F.col("ga") != F.col("gb")) | (F.col("ida") < F.col("idb")))
        .select(
            F.least("ida", "idb").alias("doc_a"),
            F.greatest("ida", "idb").alias("doc_b"),
            F.col("ns").cast("long").alias("n_shared"),
        )
    )
    return pairs.orderBy(F.desc("n_shared"), "doc_a", "doc_b").limit(20)


# band-limited winnowing — the NEAR-dup-multiplicity scale
# path the combined-axis rehearsal proved q_winnowing needs
_WINNOW_BAND_CAP = 32
# band on the B smallest prints per rep, not just the single
# minimum — the curve op priced B=1 at 0.24 recall on weakly-similar
# docs vs 0.41 at B=4 (1.0 on planted near-dup families either way);
# candidate volume stays bucket-capped exactly as before.
_WINNOW_BANDS_B = 4

# Shared CTE block: rep collapse → prints → B-smallest banding →
# capped buckets → deduped candidates → exact verify. Both band ops
# (rep-level top-20 and member-level expansion) build on this text so
# their candidate/verify semantics cannot diverge.
_WINNOW_BAND_CTES = rf"""grp AS (
    SELECT md5(text) AS g, MIN(doc_id) AS rep
    FROM documents
    WHERE len({WHITESPACE_TOKENS_SQL}) >= 3
    GROUP BY md5(text)
),
rtok AS (
    SELECT grp.g,
           {WHITESPACE_TOKENS_SQL} AS ws
    FROM grp JOIN documents d ON d.doc_id = grp.rep
),
sh AS (
    SELECT g, i.i AS pos,
           (('0x' || substr(md5(ws[i.i] || '|' || ws[i.i + 1] || '|'
                                || ws[i.i + 2]), 1, 10))::BIGINT << 16)
           + (65535 - i.i) AS key
    FROM rtok, unnest(generate_series(1, len(ws) - 2)) AS i(i)
    WHERE i.i < 65536
),
wm AS (
    SELECT g,
           MIN(key) OVER (PARTITION BY g ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                                   AND {_WINNOW_W - 1} FOLLOWING) AS wkey
    FROM sh
),
prints AS (SELECT DISTINCT g, wkey >> 16 AS h FROM wm),
pl AS (SELECT g, list_sort(list(h)) AS ph FROM prints GROUP BY g),
banded AS (
    SELECT g, u.h AS band
    FROM pl, unnest(list_slice(ph, 1, {_WINNOW_BANDS_B})) AS u(h)
),
capped AS (
    SELECT g, band FROM (
        SELECT g, band,
               ROW_NUMBER() OVER (PARTITION BY band ORDER BY g) AS rn
        FROM banded) WHERE rn <= {_WINNOW_BAND_CAP}
),
cand AS (
    SELECT DISTINCT a.g AS ga, b.g AS gb
    FROM capped a JOIN capped b ON a.band = b.band AND a.g < b.g
),
ver AS (
    SELECT ga, gb, CAST(COUNT(*) AS BIGINT) AS ns
    FROM cand
    JOIN prints pa ON pa.g = cand.ga
    JOIN prints pb ON pb.g = cand.gb AND pa.h = pb.h
    GROUP BY ga, gb
)"""

WINNOWING_BAND_ORACLE = f"""
WITH {_WINNOW_BAND_CTES}
SELECT LEAST(ra.rep, rb.rep) AS doc_a,
       GREATEST(ra.rep, rb.rep) AS doc_b,
       ns AS n_shared
FROM ver JOIN grp ra ON ra.g = ver.ga JOIN grp rb ON rb.g = ver.gb
ORDER BY n_shared DESC, doc_a, doc_b
LIMIT 20
"""


@query("q_winnowing_band", WINNOWING_BAND_ORACLE)
def winnowing_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BAND-LIMITED winnowing pairs — the near-dup-multiplicity scale
    path for fingerprint pairing, shipped after the round-13
    combined-axis rehearsal (100× corpus × grown vocabulary) showed
    exact q_winnowing's honest ceiling: its dedup-collapse keys on
    EXACT text (md5), so near-duplicate replicas — which the
    vocabulary-growth plant creates and a real web corpus is full
    of — each stay their own representative, and the rep-level
    shared-print join re-inflates to Σ_h C(df_h, 2): measured "No
    space left on device" (>78 GB shuffle spill) on local[32] at the
    combined plant. This variant is the repo's standard
    candidate-then-verify answer (the LSH discipline): each rep's {B}
    SMALLEST prints are its band keys (the curve op priced
    the original single-min banding at 0.24 recall on weakly-similar
    docs vs 0.41 at B={B}, 1.0 on planted near-dup families either
    way); candidate pairs form only within a band bucket, hot buckets
    cap at the {cap} lexicographically-smallest groups (bounded
    Σ C({cap},2) verify pairs per bucket, the q_lsh_planner
    discipline), pairs sharing several bands dedup BEFORE the verify;
    and each candidate pair is verified by the EXACT shared-print
    count (array_intersect of the two reps' distinct print sets — no
    estimate). Output: top-20 rep pairs by verified n_shared
    (rep-level by design; member expansion is q_winnowing_band_members'
    job). Every reported pair's n_shared is exact; the trade is RECALL
    (a pair sharing none of each other's {B} smallest prints is never
    a candidate), priced by q_winnowing_band_curve and pinned against
    exact q_winnowing on the planted fixture. [engine — not in
    reference]

    Scale: the shingle/print pipeline stays rep-bounded (shared
    _winnow_collapse kernel, one checkpoint); band keying is a
    map-side sorted-array slice ({B} rows per rep); the verify join
    carries only deduped capped-bucket pairs with two print ARRAYS
    each — never the print-level Σ C(df,2) explosion. Oracle replays
    the identical algebra (same 40-bit md5 shingle keys, same
    window-min, same slice + cap + dedup rule)."""
    d = load_table(spark, sf_dir, "documents")
    _members, sizes, pr = _winnow_collapse(d)
    cand = _winnow_band_candidates(pr)
    ver = _winnow_band_verify(cand, pr)
    ra = sizes.select(F.col("g").alias("ga"), F.col("rep_id").alias("rep_a"))
    rb = sizes.select(F.col("g").alias("gb"), F.col("rep_id").alias("rep_b"))
    out = (
        ver.join(ra, "ga")
        .join(rb, "gb")
        .select(
            F.least("rep_a", "rep_b").alias("doc_a"),
            F.greatest("rep_a", "rep_b").alias("doc_b"),
            "n_shared",
        )
    )
    return out.orderBy(F.desc("n_shared"), "doc_a", "doc_b").limit(20)


winnowing_band.__doc__ = winnowing_band.__doc__.format(
    cap=_WINNOW_BAND_CAP, B=_WINNOW_BANDS_B
)


def _winnow_band_candidates(pr: DataFrame) -> DataFrame:
    """(ga, gb) candidate rep pairs from B-smallest-print banding with
    the per-bucket cap — the shared candidate generator of
    q_winnowing_band and its member-level expansion."""
    from pyspark.sql import Window as W

    banded = pr.where(F.size("prints") > 0).select(
        "g",
        F.explode(
            F.slice(F.array_sort("prints"), 1, _WINNOW_BANDS_B)
        ).alias("band"),
    )
    wb = W.partitionBy("band").orderBy("g")
    capped = (
        banded.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") <= _WINNOW_BAND_CAP)
        .select("g", "band")
    )
    a = capped.select("band", F.col("g").alias("ga"))
    b = capped.select("band", F.col("g").alias("gb"))
    return (
        a.join(b, "band")
        .where(F.col("ga") < F.col("gb"))
        .select("ga", "gb")
        .distinct()
    )


def _winnow_band_verify(cand: DataFrame, pr: DataFrame) -> DataFrame:
    """Exact shared-print verify of banded candidates: join both reps'
    print arrays back, n_shared = |array_intersect| — never an
    estimate."""
    pa = pr.select(F.col("g").alias("ga"), F.col("prints").alias("pa"))
    pb = pr.select(F.col("g").alias("gb"), F.col("prints").alias("pb"))
    return (
        cand.join(pa, "ga")
        .join(pb, "gb")
        .select(
            "ga",
            "gb",
            F.size(F.array_intersect("pa", "pb")).cast("long").alias("n_shared"),
        )
    )


WINNOWING_BAND_MEMBERS_ORACLE = rf"""
WITH {_WINNOW_BAND_CTES},
mem AS (
    SELECT doc_id, md5(text) AS g FROM documents
    WHERE len({WHITESPACE_TOKENS_SQL}) >= 3
),
np AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS n_prints FROM prints GROUP BY g),
within_pairs AS (
    SELECT ma.doc_id AS ida, mb.doc_id AS idb, np.n_prints AS ns
    FROM mem ma JOIN mem mb ON ma.g = mb.g AND ma.doc_id < mb.doc_id
    JOIN np ON np.g = ma.g
),
cross_pairs AS (
    SELECT ma.doc_id AS ida, mb.doc_id AS idb, ver.ns
    FROM ver JOIN mem ma ON ma.g = ver.ga JOIN mem mb ON mb.g = ver.gb
),
allp AS (
    SELECT * FROM within_pairs UNION ALL SELECT * FROM cross_pairs
)
SELECT LEAST(ida, idb) AS doc_a, GREATEST(ida, idb) AS doc_b, ns AS n_shared
FROM allp
ORDER BY n_shared DESC, doc_a, doc_b
LIMIT 20
"""


@query("q_winnowing_band_members", WINNOWING_BAND_MEMBERS_ORACLE)
def winnowing_band_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEMBER-LEVEL expansion of the banded winnowing pairs — closes
    a gap: q_winnowing_band reports REP pairs
    by design, but the dedup decision a curation pipeline acts on is
    per-DOCUMENT, and on the near-dup-heavy corpora the band variant
    exists for, a rep stands in for many members. Same banded
    candidate generation and exact array_intersect verify (shared
    _winnow_band_candidates/_winnow_band_verify kernels), then the
    verified rep classes expand through group membership with exact
    q_winnowing's proven threshold-and-cap rule (shared
    _winnow_expand_classes — the 22-smallest-member cap whose
    top-20-exactness argument is in its docstring): within-group
    classes (identical texts, ns = the group's own print count,
    C(sz,2) pairs) union band-verified cross classes (ns = exact
    rep∩rep shared prints, sz_a·sz_b pairs). Output: top-20 DOCUMENT
    pairs by n_shared under band recall. [engine — not in reference]

    Scale: candidate/verify stays capped-bucket rep-bounded (the whole
    point); the expansion joins touch only classes that can reach the
    global top-20 (threshold first, then the 22-member cap) — the
    same shape the combined-axis rehearsal measured sublinear for
    q_winnowing before its exact-join stage, without that stage.
    Oracle: the UNCAPPED membership expansion over the shared band
    CTEs — the driver check proves cap-equivalence, exactly as
    q_winnowing's oracle proves its collapse-equivalence."""
    d = load_table(spark, sf_dir, "documents")
    members, sizes, pr = _winnow_collapse(d)
    ver = _winnow_band_verify(_winnow_band_candidates(pr), pr)
    sz_a = sizes.select(F.col("g").alias("ga"), F.col("sz").alias("sza"))
    sz_b = sizes.select(F.col("g").alias("gb"), F.col("sz").alias("szb"))
    cross_cls = (
        ver.join(sz_a, "ga")
        .join(sz_b, "gb")
        .select(
            "ga",
            "gb",
            F.col("n_shared").alias("ns"),
            (F.col("sza") * F.col("szb")).alias("n_pairs"),
        )
    )
    within_cls = pr.where(F.col("sz") >= 2).select(
        F.col("g").alias("ga"),
        F.col("g").alias("gb"),
        F.size("prints").cast("long").alias("ns"),
        F.shiftright(F.col("sz") * (F.col("sz") - 1), 1).alias("n_pairs"),
    )
    classes = within_cls.unionByName(cross_cls)
    return _winnow_expand_classes(classes, members)


# cluster labels under band recall: the canonical-document selection
# step of the winnowing axis
_WINNOW_CLUSTER_TAU = 2  # ≥2 shared prints = an edge (the curve op's
# ground-truth threshold; a single shared print is one 3-gram window)

WINNOWING_BAND_CLUSTERS_ORACLE = rf"""
WITH RECURSIVE {_WINNOW_BAND_CTES},
mem AS (
    SELECT doc_id, md5(text) AS g FROM documents
    WHERE len({WHITESPACE_TOKENS_SQL}) >= 3
),
vpairs AS (SELECT ga, gb FROM ver WHERE ns >= {_WINNOW_CLUSTER_TAU}),
gedges AS (SELECT ga AS a, gb AS b FROM vpairs UNION SELECT gb, ga FROM vpairs),
reach AS (
    SELECT g, g AS r FROM grp
    UNION
    SELECT e.b AS g, reach.r FROM reach JOIN gedges e ON e.a = reach.g
),
glabel AS (SELECT g, MIN(r) AS comp FROM reach GROUP BY g),
docs_in AS (SELECT mem.doc_id, glabel.comp FROM mem JOIN glabel ON glabel.g = mem.g),
cmin AS (SELECT comp, MIN(doc_id) AS cluster_id FROM docs_in GROUP BY comp)
SELECT d.doc_id, c.cluster_id
FROM docs_in d JOIN cmin c ON c.comp = d.comp
UNION ALL
SELECT doc_id, doc_id AS cluster_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM mem)
"""


@query("q_winnowing_band_clusters", WINNOWING_BAND_CLUSTERS_ORACLE)
def winnowing_band_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CLUSTER LABELS over the banded winnowing graph — the
    canonical-document selection step for the fingerprint dedup axis,
    mirroring what q_dedup_clusters does for the Jaccard axis: every
    document gets the minimum doc_id of its connected component as
    cluster_id, where edges are band-verified rep pairs with
    n_shared ≥ {tau} (the curve op's ground-truth threshold) expanded
    through identical-text groups. Identical texts always share a
    cluster (same group); docs under the 3-token floor are singletons.
    [engine — not in reference]

    Scale design: _rep_labels contracts the GROUP graph (reps as nodes,
    band-verified pairs as edges — never member-level) and joins the
    labels back to the members. Oracle: recursive reachability over the shared band CTE block with
    the UNCAPPED membership mapping; the driver check proves the
    contraction and the group-level shortcut agree with the plain
    definition."""
    d = load_table(spark, sf_dir, "documents")
    members, sizes, pr = _winnow_collapse(d)
    ver = _winnow_band_verify(_winnow_band_candidates(pr), pr).where(
        F.col("n_shared") >= _WINNOW_CLUSTER_TAU
    )
    ra = sizes.select(F.col("g").alias("ga"), F.col("rep_id").alias("u"))
    rb = sizes.select(F.col("g").alias("gb"), F.col("rep_id").alias("v"))
    rep_of = members.join(sizes.select("g", "rep_id"), "g").select("doc_id", "rep_id")
    return _rep_labels(rep_of, ver.join(ra, "ga").join(rb, "gb").select("u", "v"), d)


winnowing_band_clusters.__doc__ = winnowing_band_clusters.__doc__.format(
    tau=_WINNOW_CLUSTER_TAU
)


WINNOWING_BAND_SURVIVORS_ORACLE = _survivors_oracle(WINNOWING_BAND_CLUSTERS_ORACLE)


@query("q_winnowing_band_survivors", WINNOWING_BAND_SURVIVORS_ORACLE)
def winnowing_band_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fingerprint axis' curation DELIVERABLE — one kept document
    per non-trivial banded-winnowing cluster, completing the symmetric
    surface with the Jaccard axis (q_dedup_survivors): longest text
    wins, doc_id breaks ties, plus how many near-duplicates each
    survivor absorbs. With q_dedup_method_agreement this is the full
    switch-path: measure the agreement, pick the axis, take its
    survivors. [engine — not in reference]

    q_winnowing_band_clusters' labels through _survivors_from_labels;
    oracle: _survivors_oracle over the cluster oracle."""
    labels = winnowing_band_clusters(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return _survivors_from_labels(labels, d)


# survivors x filter-attribution: how much of the fingerprint-dedup
# removed mass the cheap quality gates already reject (closes the
# curation loop: agreement -> axis -> survivors -> is the dedup needed?);
# wlab is read twice, so it is materialized, not inlined per reference
BAND_FILTER_ATTRIBUTION_ORACLE = rf"""
WITH wlab AS MATERIALIZED ({WINNOWING_BAND_CLUSTERS_ORACLE}),
surv AS ({_survivors_oracle("SELECT * FROM wlab")}),
removed AS (
    SELECT l.doc_id
    FROM wlab l JOIN surv s ON s.cluster_id = l.cluster_id
    WHERE l.doc_id <> s.survivor_doc
),
sig AS (
    SELECT doc_id, n_chars, {_FA_FLAGS_SQL}
    FROM documents
),
rsig AS (
    SELECT sig.*, f_len + f_dens + f_punct + f_stop AS n_f
    FROM sig JOIN removed USING (doc_id)
),
tot AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_removed,
           CAST(COALESCE(SUM(n_chars), 0) AS BIGINT) AS removed_chars,
           CAST(COALESCE(SUM(f_len), 0) AS BIGINT) AS al_len,
           CAST(COALESCE(SUM(f_len * n_chars), 0) AS BIGINT) AS ch_len,
           CAST(COALESCE(SUM(f_dens), 0) AS BIGINT) AS al_dens,
           CAST(COALESCE(SUM(f_dens * n_chars), 0) AS BIGINT) AS ch_dens,
           CAST(COALESCE(SUM(f_punct), 0) AS BIGINT) AS al_punct,
           CAST(COALESCE(SUM(f_punct * n_chars), 0) AS BIGINT) AS ch_punct,
           CAST(COALESCE(SUM(f_stop), 0) AS BIGINT) AS al_stop,
           CAST(COALESCE(SUM(f_stop * n_chars), 0) AS BIGINT) AS ch_stop,
           CAST(COALESCE(SUM(CASE WHEN n_f = 0 THEN 1 ELSE 0 END), 0)
                AS BIGINT) AS n_removed_pass_all
    FROM rsig
)
SELECT r.rule, t.n_removed, t.removed_chars,
       r.n_already_failing, r.chars_already_failing,
       ROUND(r.n_already_failing * 1.0 / NULLIF(t.n_removed, 0), 6)
           AS share_already_rejected,
       t.n_removed_pass_all
FROM tot t, (
    SELECT 'length' AS rule, al_len AS n_already_failing,
           ch_len AS chars_already_failing FROM tot
    UNION ALL SELECT 'low_density', al_dens, ch_dens FROM tot
    UNION ALL SELECT 'high_punct', al_punct, ch_punct FROM tot
    UNION ALL SELECT 'low_stopword', al_stop, ch_stop FROM tot
) r
ORDER BY r.rule
"""


@query("q_band_filter_attribution", BAND_FILTER_ATTRIBUTION_ORACLE)
def band_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVIVORS × FILTER-ATTRIBUTION composition — the question the
    two censuses can't answer alone: of the mass the fingerprint-axis
    dedup would REMOVE (non-survivor members of winnowing-band
    clusters, keep-longest policy), how much does each committed
    quality gate (q_filter_attribution's four rules) already reject?
    Per rule: removed docs (and their chars) that also fail the rule,
    plus the removed-set totals and the pass-everything remainder —
    n_removed_pass_all is the dedup pass' MARGINAL contribution if the
    gates run first. A removed set that quality filters already cover
    is a dedup pass a 100-TB run can skip; a large pass-all remainder
    is the proof it can't. Complements q_filter_dedup_overlap (MinHash
    axis, any-rule flag): this is per-RULE and fingerprint-axis.
    [engine — not in reference]

    Scale design: the labels come from _labels (read twice, so
    checkpointed) and the survivors from _survivors_from_labels; the
    removed set is one cluster_id-keyed join + doc-keyed semi-join
    against the map-only gate-flag scan (shared _fa_flag_cols
    definition, 6dp-rounded thresholds); the census is ONE 1-row
    aggregate unpivoted to 4 rule rows by an inline of literal
    structs. Oracle: _survivors_oracle over the cluster oracle plus
    the shared _FA_FLAGS_SQL block."""
    d = load_table(spark, sf_dir, "documents")
    [labels] = _labels(spark, sf_dir, "winnow")
    surv = _survivors_from_labels(labels, d.select("doc_id", "n_chars"))
    removed = (
        labels.join(surv.select("cluster_id", "survivor_doc"), "cluster_id")
        .where(F.col("doc_id") != F.col("survivor_doc"))
        .select("doc_id")
    )
    f_len, f_dens, f_punct, f_stop = _fa_flag_cols()
    flags = fan_out(d).select(
        "doc_id",
        "n_chars",
        f_len.alias("f_len"),
        f_dens.alias("f_dens"),
        f_punct.alias("f_punct"),
        f_stop.alias("f_stop"),
    )
    rsig = flags.join(removed, "doc_id").withColumn(
        "n_f", F.col("f_len") + F.col("f_dens") + F.col("f_punct") + F.col("f_stop")
    )

    def _al(flag: str, name: str):
        return F.coalesce(F.sum(flag), F.lit(0)).cast("long").alias(name)

    def _ch(flag: str, name: str):
        return (
            F.coalesce(F.sum(F.col(flag) * F.col("n_chars")), F.lit(0))
            .cast("long").alias(name)
        )

    tot = rsig.agg(
        F.count(F.lit(1)).cast("long").alias("n_removed"),
        F.coalesce(F.sum("n_chars"), F.lit(0)).cast("long").alias("removed_chars"),
        _al("f_len", "al_len"), _ch("f_len", "ch_len"),
        _al("f_dens", "al_dens"), _ch("f_dens", "ch_dens"),
        _al("f_punct", "al_punct"), _ch("f_punct", "ch_punct"),
        _al("f_stop", "al_stop"), _ch("f_stop", "ch_stop"),
        F.coalesce(F.sum(F.when(F.col("n_f") == 0, 1).otherwise(0)), F.lit(0))
        .cast("long").alias("n_removed_pass_all"),
    )

    def _row(rule: str, al: str, ch: str):
        return F.struct(
            F.lit(rule).alias("rule"),
            F.col(al).alias("n_already_failing"),
            F.col(ch).alias("chars_already_failing"),
        )

    return (
        tot.select(
            F.explode(
                F.array(
                    _row("high_punct", "al_punct", "ch_punct"),
                    _row("length", "al_len", "ch_len"),
                    _row("low_density", "al_dens", "ch_dens"),
                    _row("low_stopword", "al_stop", "ch_stop"),
                )
            ).alias("r"),
            "n_removed",
            "removed_chars",
            "n_removed_pass_all",
        )
        .select(
            "r.rule",
            "n_removed",
            "removed_chars",
            "r.n_already_failing",
            "r.chars_already_failing",
            F.round(
                F.col("r.n_already_failing") * 1.0
                / F.nullif(F.col("n_removed"), F.lit(0)),
                6,
            ).alias("share_already_rejected"),
            "n_removed_pass_all",
        )
    )


# ---------------------------------------------------------------------------
# cross-method agreement censuses: the decision tables for CHOOSING a
# dedup axis, computed from cluster labels so pair sets are never
# materialized

# axis letter -> (census column name, cluster oracle)
_AXES = {
    "j": ("jaccard", DEDUP_CLUSTERS_ORACLE),
    "w": ("winnow", WINNOWING_BAND_CLUSTERS_ORACLE),
    "s": ("simhash", SIMHASH_CLUSTERS_ORACLE),
}


def _agreement_ctes(axes: str) -> str:
    """The WITH list an agreement oracle starts from, over the axes
    named by letter in ``axes`` (j: Jaccard, w: winnowing, s: SimHash).
    Per axis x: ``{x}lab`` its cluster oracle (materialized: it is read
    2-3 times, and DuckDB inlines a plain CTE at each reference),
    ``{x}sz`` the cluster sizes and ``p_{name}`` the one-row Σ C(sz,2)
    same-cluster pair count ``n_pairs_{name}``. Per pair of axes xy:
    ``p_{xy}``, the agreed-pair count ``n_pairs_{xy}`` (Σ C(sz,2) over
    the joint label grouping: two docs pair under both axes iff they
    share both labels). Then ``flags(doc_id, d{x}...)``: the doc sits
    in a cluster of ≥2 under axis x. A census reads the CTEs it needs;
    DuckDB binds no other."""

    def pairs(cte: str, name: str, sizes: str) -> str:
        return (
            f"{cte} AS (SELECT CAST(COALESCE(SUM(sz * (sz - 1) // 2), 0) AS BIGINT)"
            f" AS n_pairs_{name} FROM {sizes})"
        )

    ctes = [f"{x}lab AS MATERIALIZED ({_AXES[x][1]})" for x in axes]
    ctes += [
        f"{x}sz AS (SELECT cluster_id, COUNT(*) AS sz FROM {x}lab GROUP BY cluster_id)"
        for x in axes
    ]
    ctes += [pairs(f"p_{_AXES[x][0]}", _AXES[x][0], f"{x}sz") for x in axes]
    for i, a in enumerate(axes):
        for b in axes[i + 1:]:
            ctes.append(
                f"{a}{b} AS (SELECT {a}.cluster_id AS ca, {b}.cluster_id AS cb, COUNT(*) AS sz\n"
                f"    FROM {a}lab {a} JOIN {b}lab {b} USING (doc_id)\n"
                f"    GROUP BY {a}.cluster_id, {b}.cluster_id)"
            )
            ctes.append(pairs(f"p_{a}{b}", a + b, a + b))
    f = axes[0]
    joins = [f"JOIN {f}sz ON {f}sz.cluster_id = {f}.cluster_id"]
    for x in axes[1:]:
        joins += [
            f"JOIN {x}lab {x} ON {x}.doc_id = {f}.doc_id",
            f"JOIN {x}sz ON {x}sz.cluster_id = {x}.cluster_id",
        ]
    flags = ", ".join(f"{x}sz.sz >= 2 AS d{x}" for x in axes)
    body = "\n    ".join([f"SELECT {f}.doc_id, {flags}", f"FROM {f}lab {f}", *joins])
    ctes.append(f"flags AS (\n    {body}\n)")
    return "WITH " + ",\n".join(ctes)


def _cell_sql(cond: str, name: str) -> str:
    """Count of the rows meeting ``cond``, 0 when none (BIGINT)."""
    return f"CAST(COALESCE(SUM(CASE WHEN {cond} THEN 1 END), 0) AS BIGINT) AS {name}"


def _ratio_sql(a: str, b: str, both: str, name: str) -> str:
    """Jaccard of two pair sets from their sizes and overlap, 6dp."""
    return (
        f"CASE WHEN {a} + {b} - {both} > 0\n"
        f"            THEN ROUND({both} * 1.0 / ({a} + {b} - {both}), 6)\n"
        f"       END AS {name}"
    )


def _cell(cond: Column, name: str) -> Column:
    """Count of the rows meeting ``cond``, 0 when none (long)."""
    return F.coalesce(F.sum(F.when(cond, 1)), F.lit(0)).cast("long").alias(name)


def _ratio(a: str, b: str, both: str, name: str) -> Column:
    """Jaccard of two pair sets from their sizes and overlap, 6dp."""
    denom = F.col(a) + F.col(b) - F.col(both)
    return F.when(denom > 0, F.round(F.col(both) * 1.0 / denom, 6)).alias(name)


def _labels(spark: SparkSession, sf_dir: str, *axes: str) -> list[DataFrame]:
    """localCheckpointed (doc_id, cluster_id) frames, one per dedup
    axis ("jaccard", "winnow", "simhash"), for a census that consumes
    each 2-4 times within one plan (the checkpoint stops the
    clustering from being recomputed per consumer).

    The axes are built CONCURRENTLY from driver threads: each
    clustering is an independent chain of small blocking jobs
    (checkpoint barriers, convergence counts) that leaves most executor
    slots idle between stages, so overlapping the chains cuts a census'
    wall toward the slowest axis instead of the sum. Spark job
    submission is thread-safe and scheduling stays fair at the task
    level. Nothing is memoized across calls: a cache would let a
    repeated bench run price the census without the clusterings it
    consumes."""
    from concurrent.futures import ThreadPoolExecutor

    fns = {
        "jaccard": dedup_clusters,
        "winnow": winnowing_band_clusters,
        "simhash": dedup_simhash_clusters,
    }
    with ThreadPoolExecutor(max_workers=len(axes)) as ex:
        futs = [
            ex.submit(lambda a: fns[a](spark, sf_dir).localCheckpoint(eager=True), a)
            for a in axes
        ]
        return [f.result() for f in futs]


def _cluster_sizes(labels: DataFrame) -> DataFrame:
    """(cluster_id, sz) of a (doc_id, cluster_id) labeling."""
    return labels.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))


def _dup_flags(*axes: tuple[DataFrame, DataFrame, str]) -> DataFrame:
    """(doc_id, one boolean per axis) from (labels, sizes, flag name)
    triples: the doc sits in a cluster of ≥2 under that axis. One
    doc-keyed join per axis after the first."""
    flags = [
        lab.join(sz, "cluster_id").select("doc_id", (F.col("sz") >= 2).alias(name))
        for lab, sz, name in axes
    ]
    out = flags[0]
    for f in flags[1:]:
        out = out.join(f, "doc_id")
    return out


def _pair_count_from_sizes(szf: DataFrame, name: str) -> DataFrame:
    """One-row Σ C(sz,2) aggregate over a cluster-size frame — the
    same-cluster pair count without materializing pairs."""
    return szf.agg(
        F.coalesce(
            F.sum(F.shiftright(F.col("sz") * (F.col("sz") - 1), 1)), F.lit(0)
        ).cast("long").alias(name)
    )


def _joint_pair_count(la: DataFrame, lb: DataFrame, name: str) -> DataFrame:
    """One-row pair count of the INTERSECTION of two clusterings' pair
    sets: two docs pair under both iff they share both labels, so
    Σ C(sz,2) over the joint (label_a, label_b) grouping counts the
    agreed pairs — pair sets never materialized."""
    joint = (
        la.withColumnRenamed("cluster_id", "ca")
        .join(lb.withColumnRenamed("cluster_id", "cb"), "doc_id")
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    return _pair_count_from_sizes(joint, name)


DEDUP_AGREEMENT_ORACLE = f"""{_agreement_ctes("jw")},
fc AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           {_cell_sql("dj AND dw", "dup_both")},
           {_cell_sql("dj AND NOT dw", "dup_jaccard_only")},
           {_cell_sql("dw AND NOT dj", "dup_winnow_only")},
           {_cell_sql("NOT dj AND NOT dw", "dup_neither")}
    FROM flags
)
SELECT n_docs, dup_both, dup_jaccard_only, dup_winnow_only, dup_neither,
       n_pairs_jaccard, n_pairs_winnow, n_pairs_jw AS n_pairs_both,
       {_ratio_sql("n_pairs_jaccard", "n_pairs_winnow", "n_pairs_jw", "pair_jaccard")}
FROM fc, p_jaccard, p_winnow, p_jw
"""


@query("q_dedup_method_agreement", DEDUP_AGREEMENT_ORACLE)
def dedup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-METHOD AGREEMENT census — the decision table for choosing
    a dedup method, which the per-method recall curves can't give: how
    much do the Jaccard axis (q_dedup_clusters, ≥0.8 3-gram Jaccard
    components) and the fingerprint axis (q_winnowing_band_clusters,
    band-verified shared-print components) actually AGREE on this
    corpus? One row: the per-document 2×2 contingency (dup under both /
    only Jaccard / only winnowing / neither — "only Jaccard" docs are
    what switching to the cheaper fingerprint path would UNDER-dedup),
    each method's same-cluster pair count, the pair count they agree
    on, and the Jaccard of the two PAIR SETS. [engine — not in
    reference]

    Scale design: pair sets are never materialized. Labels from
    _labels, flags from _dup_flags, pair counts from
    _pair_count_from_sizes and _joint_pair_count: census-sized
    groupBys over the two label frames plus doc-keyed joins. Oracle:
    _agreement_ctes over both cluster oracles."""
    jlab, wlab = _labels(spark, sf_dir, "jaccard", "winnow")
    jsz, wsz = _cluster_sizes(jlab), _cluster_sizes(wlab)
    dj, dw = F.col("dj"), F.col("dw")
    fc = _dup_flags((jlab, jsz, "dj"), (wlab, wsz, "dw")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        _cell(dj & dw, "dup_both"),
        _cell(dj & ~dw, "dup_jaccard_only"),
        _cell(dw & ~dj, "dup_winnow_only"),
        _cell(~dj & ~dw, "dup_neither"),
    )
    out = (
        fc.crossJoin(_pair_count_from_sizes(jsz, "n_pairs_jaccard"))
        .crossJoin(_pair_count_from_sizes(wsz, "n_pairs_winnow"))
        .crossJoin(_joint_pair_count(jlab, wlab, "n_pairs_both"))
    )
    return out.select(
        "n_docs", "dup_both", "dup_jaccard_only", "dup_winnow_only",
        "dup_neither", "n_pairs_jaccard", "n_pairs_winnow", "n_pairs_both",
        _ratio("n_pairs_jaccard", "n_pairs_winnow", "n_pairs_both", "pair_jaccard"),
    )


DEDUP_AGREEMENT3_ORACLE = f"""{_agreement_ctes("jws")},
fc AS (
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           {_cell_sql("dj AND dw AND ds", "dup_all")},
           {_cell_sql("dj AND dw AND NOT ds", "dup_jw_only")},
           {_cell_sql("dj AND ds AND NOT dw", "dup_js_only")},
           {_cell_sql("dw AND ds AND NOT dj", "dup_ws_only")},
           {_cell_sql("dj AND NOT dw AND NOT ds", "dup_jaccard_only")},
           {_cell_sql("dw AND NOT dj AND NOT ds", "dup_winnow_only")},
           {_cell_sql("ds AND NOT dj AND NOT dw", "dup_simhash_only")},
           {_cell_sql("NOT dj AND NOT dw AND NOT ds", "dup_none")}
    FROM flags
)
SELECT n_docs, dup_all, dup_jw_only, dup_js_only, dup_ws_only,
       dup_jaccard_only, dup_winnow_only, dup_simhash_only, dup_none,
       n_pairs_jaccard, n_pairs_winnow, n_pairs_simhash,
       n_pairs_jw, n_pairs_js, n_pairs_ws,
       {_ratio_sql("n_pairs_jaccard", "n_pairs_winnow", "n_pairs_jw", "pair_jaccard_jw")},
       {_ratio_sql("n_pairs_jaccard", "n_pairs_simhash", "n_pairs_js", "pair_jaccard_js")},
       {_ratio_sql("n_pairs_winnow", "n_pairs_simhash", "n_pairs_ws", "pair_jaccard_ws")}
FROM fc, p_jaccard, p_winnow, p_simhash, p_jw, p_js, p_ws
"""


@query("q_dedup_method_agreement3", DEDUP_AGREEMENT3_ORACLE)
def dedup_method_agreement3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-WAY method agreement census — the full decision table for
    the dedup method matrix: Jaccard (q_dedup_clusters), winnowing
    fingerprints (q_winnowing_band_clusters) and SimHash
    (q_dedup_simhash_clusters) compared in ONE row: the per-document
    2×2×2 contingency (dup under all three / each pair only / each
    alone / none — "dup_jaccard_only" docs are what BOTH cheap
    fingerprint paths would under-dedup), each axis' same-cluster pair
    count, and the three pairwise pair-set Jaccards. The two-axis
    census (q_dedup_method_agreement) prices one switch; this is the
    table that picks among all three. [engine — not in reference]

    Scale design: as q_dedup_method_agreement's, over three label
    frames from _labels. Oracle: _agreement_ctes over all three
    cluster oracles."""
    jlab, wlab, slab = _labels(spark, sf_dir, "jaccard", "winnow", "simhash")
    jsz, wsz, ssz = _cluster_sizes(jlab), _cluster_sizes(wlab), _cluster_sizes(slab)
    dj, dw, ds = F.col("dj"), F.col("dw"), F.col("ds")
    fc = _dup_flags((jlab, jsz, "dj"), (wlab, wsz, "dw"), (slab, ssz, "ds")).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        _cell(dj & dw & ds, "dup_all"),
        _cell(dj & dw & ~ds, "dup_jw_only"),
        _cell(dj & ds & ~dw, "dup_js_only"),
        _cell(dw & ds & ~dj, "dup_ws_only"),
        _cell(dj & ~dw & ~ds, "dup_jaccard_only"),
        _cell(dw & ~dj & ~ds, "dup_winnow_only"),
        _cell(ds & ~dj & ~dw, "dup_simhash_only"),
        _cell(~dj & ~dw & ~ds, "dup_none"),
    )
    out = (
        fc.crossJoin(_pair_count_from_sizes(jsz, "n_pairs_jaccard"))
        .crossJoin(_pair_count_from_sizes(wsz, "n_pairs_winnow"))
        .crossJoin(_pair_count_from_sizes(ssz, "n_pairs_simhash"))
        .crossJoin(_joint_pair_count(jlab, wlab, "n_pairs_jw"))
        .crossJoin(_joint_pair_count(jlab, slab, "n_pairs_js"))
        .crossJoin(_joint_pair_count(wlab, slab, "n_pairs_ws"))
    )
    return out.select(
        "n_docs", "dup_all", "dup_jw_only", "dup_js_only", "dup_ws_only",
        "dup_jaccard_only", "dup_winnow_only", "dup_simhash_only", "dup_none",
        "n_pairs_jaccard", "n_pairs_winnow", "n_pairs_simhash",
        "n_pairs_jw", "n_pairs_js", "n_pairs_ws",
        _ratio("n_pairs_jaccard", "n_pairs_winnow", "n_pairs_jw", "pair_jaccard_jw"),
        _ratio("n_pairs_jaccard", "n_pairs_simhash", "n_pairs_js", "pair_jaccard_js"),
        _ratio("n_pairs_winnow", "n_pairs_simhash", "n_pairs_ws", "pair_jaccard_ws"),
    )


# where the axes disagree: the agreement census localized to the
# provenance axis (which corpus slice the cheap method would under- or
# over-dedup)
_DISAGREE_SQL = "f.dj <> f.dw OR f.dj <> f.ds OR f.dw <> f.ds"

AGREEMENT_BY_SOURCE_ORACLE = f"""{_agreement_ctes("jws")}
SELECT d.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       {_cell_sql("f.dj", "dup_jaccard")},
       {_cell_sql("f.dw", "dup_winnow")},
       {_cell_sql("f.ds", "dup_simhash")},
       {_cell_sql(_DISAGREE_SQL, "n_disagree")},
       ROUND(COALESCE(SUM(CASE WHEN {_DISAGREE_SQL} THEN 1 END), 0) * 1.0
             / NULLIF(COUNT(*), 0), 6) AS disagree_share
FROM flags f JOIN documents d ON d.doc_id = f.doc_id
GROUP BY d.source
"""


@query("q_dedup_agreement_by_source", AGREEMENT_BY_SOURCE_ORACLE)
def dedup_agreement_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Method disagreement localized to PROVENANCE — the drill-down the
    one-row three-way census (q_dedup_method_agreement3) can't give:
    per source, how many docs each axis flags as duplicates and how
    many docs the three axes DISAGREE on (not all three flags equal).
    A source whose disagree share spikes is where switching to the
    cheaper fingerprint path changes the kept corpus — the per-slice
    version of the global switching decision, next to
    q_dedup_source_census (MinHash within/cross split) and
    q_dedup_bias (per language) on the provenance axis. [engine — not
    in reference]

    Scale design: labels from _labels, flags from _dup_flags, then one
    source-keyed aggregate (source cardinality is census-sized).
    Oracle: _agreement_ctes' flags over the three cluster oracles."""
    d = load_table(spark, sf_dir, "documents")
    labs = _labels(spark, sf_dir, "jaccard", "winnow", "simhash")
    flags = _dup_flags(
        *[(lab, _cluster_sizes(lab), name) for lab, name in zip(labs, ("dj", "dw", "ds"))]
    ).join(d.select("doc_id", "source"), "doc_id")
    dis = (
        (F.col("dj") != F.col("dw"))
        | (F.col("dj") != F.col("ds"))
        | (F.col("dw") != F.col("ds"))
    )
    return flags.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        _cell(F.col("dj"), "dup_jaccard"),
        _cell(F.col("dw"), "dup_winnow"),
        _cell(F.col("ds"), "dup_simhash"),
        _cell(dis, "n_disagree"),
        F.round(
            F.coalesce(F.sum(F.when(dis, 1)), F.lit(0)) * 1.0
            / F.nullif(F.count(F.lit(1)), F.lit(0)),
            6,
        ).alias("disagree_share"),
    )


# recall-vs-band-count tuning curve for the band variant
_CURVE_SLICE = 300  # fixed audit slice (doc_id bound) — flat at any sf
_CURVE_TAU = 2      # ground-truth pair threshold: n_shared >= tau
_CURVE_BANDS = (1, 2, 4)

WINNOWING_BAND_CURVE_ORACLE = rf"""
WITH grp AS (
    SELECT md5(text) AS g, MIN(doc_id) AS rep
    FROM documents
    WHERE doc_id < {_CURVE_SLICE}
      AND len({WHITESPACE_TOKENS_SQL}) >= 3
    GROUP BY md5(text)
),
rtok AS (
    SELECT grp.g,
           {WHITESPACE_TOKENS_SQL} AS ws
    FROM grp JOIN documents d ON d.doc_id = grp.rep
),
sh AS (
    SELECT g, i.i AS pos,
           (('0x' || substr(md5(ws[i.i] || '|' || ws[i.i + 1] || '|'
                                || ws[i.i + 2]), 1, 10))::BIGINT << 16)
           + (65535 - i.i) AS key
    FROM rtok, unnest(generate_series(1, len(ws) - 2)) AS i(i)
    WHERE i.i < 65536
),
wm AS (
    SELECT g,
           MIN(key) OVER (PARTITION BY g ORDER BY pos
                          ROWS BETWEEN CURRENT ROW
                                   AND {_WINNOW_W - 1} FOLLOWING) AS wkey
    FROM sh
),
prints AS (SELECT DISTINCT g, wkey >> 16 AS h FROM wm),
truth AS (
    SELECT pa.g AS ga, pb.g AS gb
    FROM prints pa JOIN prints pb ON pa.h = pb.h AND pa.g < pb.g
    GROUP BY pa.g, pb.g
    HAVING COUNT(*) >= {_CURVE_TAU}
),
nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth),
pl AS (SELECT g, list_sort(list(h)) AS ph FROM prints GROUP BY g),
bands AS (SELECT * FROM (VALUES {", ".join(f"({b})" for b in _CURVE_BANDS)}) AS b(nb)),
bk AS (
    SELECT bands.nb, pl.g, u.h
    FROM pl, bands, unnest(list_slice(pl.ph, 1, bands.nb)) AS u(h)
),
cand AS (
    SELECT DISTINCT a.nb, a.g AS ga, b.g AS gb
    FROM bk a JOIN bk b ON a.nb = b.nb AND a.h = b.h AND a.g < b.g
),
cstats AS (SELECT nb, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM cand GROUP BY nb),
hstats AS (
    SELECT cand.nb, CAST(COUNT(*) AS BIGINT) AS n_hits
    FROM cand JOIN truth ON cand.ga = truth.ga AND cand.gb = truth.gb
    GROUP BY cand.nb
)
SELECT bands.nb AS band_count, nt.n_truth,
       COALESCE(cstats.n_candidates, 0) AS n_candidates,
       COALESCE(hstats.n_hits, 0) AS n_hits,
       CASE WHEN nt.n_truth > 0
            THEN ROUND(COALESCE(hstats.n_hits, 0) * 1.0 / nt.n_truth, 4)
       END AS recall,
       CASE WHEN COALESCE(cstats.n_candidates, 0) > 0
            THEN ROUND(COALESCE(hstats.n_hits, 0) * 1.0
                       / cstats.n_candidates, 4)
       END AS candidate_precision
FROM bands
CROSS JOIN nt
LEFT JOIN cstats ON cstats.nb = bands.nb
LEFT JOIN hstats ON hstats.nb = bands.nb
ORDER BY band_count
"""


@query("q_winnowing_band_curve", WINNOWING_BAND_CURVE_ORACLE)
def winnowing_band_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Band-count TUNING CURVE for q_winnowing_band — the
    q_lsh_recall/q_ivf_probe_curve discipline applied to the min-print
    banding: on a FIXED audit slice (doc_id < {slice}; flat cost at
    any corpus scale by construction), ground truth is the EXACT
    shared-print pair set (n_shared ≥ {tau}, the all-pairs join the
    band variant exists to avoid — affordable here only because the
    slice bounds it), and each band count B ∈ {bands} generates
    candidates from the B smallest prints per rep. Emits per B: truth
    size, candidate count, hits, recall, and candidate precision —
    the table that prices "how many bands until the recall I need",
    before anyone runs the banded pairing over a 100-TB corpus.
    [engine — not in reference]

    Scale: every frame is slice-bounded (≤{slice} reps → ≤C({slice},2)
    truth pairs) or |bands|×slice-bounded; the curve's cost does not
    grow with the corpus. The band-key explode is an array slice of
    the already-materialized print arrays (shared _winnow_collapse
    kernel, one checkpoint). Oracle replays the identical algebra."""
    from pyspark.sql import Window as W  # noqa: F401  (parallel import shape)

    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _CURVE_SLICE
    )
    _members, _sizes, pr = _winnow_collapse(d)
    prints = pr.select("g", F.explode("prints").alias("h"))
    pa = prints.select(F.col("g").alias("ga"), F.col("h").alias("ha"))
    pb = prints.select(F.col("g").alias("gb"), F.col("h").alias("hb"))
    truth = (
        pa.join(pb, (F.col("ha") == F.col("hb")) & (F.col("ga") < F.col("gb")))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("ns"))
        .where(F.col("ns") >= _CURVE_TAU)
        .select("ga", "gb")
    )
    nt = truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
    bands = spark.createDataFrame([(b,) for b in _CURVE_BANDS], "nb int")
    pl = pr.select("g", F.array_sort("prints").alias("ph"))
    bk = pl.crossJoin(F.broadcast(bands)).select(
        "nb", "g", F.explode(F.slice("ph", F.lit(1), F.col("nb"))).alias("h")
    )
    ba = bk.select("nb", F.col("g").alias("ga"), F.col("h").alias("ha"))
    bb = bk.select(F.col("nb").alias("nb2"), F.col("g").alias("gb"), F.col("h").alias("hb"))
    cand = (
        ba.join(
            bb,
            (F.col("nb") == F.col("nb2"))
            & (F.col("ha") == F.col("hb"))
            & (F.col("ga") < F.col("gb")),
        )
        .select("nb", "ga", "gb")
        .distinct()
    )
    cstats = cand.groupBy("nb").agg(
        F.count(F.lit(1)).cast("long").alias("n_candidates")
    )
    hstats = (
        cand.join(truth, ["ga", "gb"])
        .groupBy("nb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    return (
        bands.crossJoin(F.broadcast(nt))
        .join(cstats, "nb", "left")
        .join(hstats, "nb", "left")
        .select(
            F.col("nb").alias("band_count"),
            "n_truth",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
            F.when(
                F.col("n_truth") > 0,
                F.round(
                    F.coalesce("n_hits", F.lit(0)) * 1.0 / F.col("n_truth"), 4
                ),
            ).alias("recall"),
            F.when(
                F.coalesce("n_candidates", F.lit(0)) > 0,
                F.round(
                    F.coalesce("n_hits", F.lit(0)) * 1.0 / F.col("n_candidates"),
                    4,
                ),
            ).alias("candidate_precision"),
        )
        .orderBy("band_count")
    )


winnowing_band_curve.__doc__ = winnowing_band_curve.__doc__.format(
    slice=_CURVE_SLICE, tau=_CURVE_TAU, bands=_CURVE_BANDS
)


# ---------------------------------------------------------------------------
# ANN recall evaluation: SRP-bucket search vs brute-force ground truth

_RECALL_K = 5
_RECALL_QUERIES = 10  # vec_id < 10 is the sampled query set

SRP_RECALL_ORACLE = (
    "WITH "
    + _SRP_PLANES_SQL
    + f""",
dots AS (
    SELECT e.vec_id, p.bit,
           ROUND(SUM(CAST(e.embedding[i.d] AS DOUBLE) * p.dims[i.d]), 9) AS dot
    FROM embeddings e, planes p,
         unnest(generate_series(1, len(e.embedding))) AS i(d)
    GROUP BY e.vec_id, p.bit
),
sigs AS (
    SELECT vec_id,
           CAST(SUM(CASE WHEN dot >= 0 THEN 1 << bit ELSE 0 END) AS BIGINT)
               AS sig
    FROM dots GROUP BY vec_id
),
pc AS (
    SELECT q.vec_id AS qid, c.vec_id AS cid, sq.sig = sc.sig AS same_bucket,
           ROUND(CAST(list_cosine_similarity(q.embedding::DOUBLE[],
                                             c.embedding::DOUBLE[])
                      AS DOUBLE), 9) AS cos
    FROM embeddings q
    JOIN embeddings c ON c.vec_id <> q.vec_id
    JOIN sigs sq ON sq.vec_id = q.vec_id
    JOIN sigs sc ON sc.vec_id = c.vec_id
    WHERE q.vec_id < {_RECALL_QUERIES}
),
exact AS (
    SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
        FROM pc) WHERE rn <= {_RECALL_K}
),
approx AS (
    SELECT qid, cid FROM (
        SELECT qid, cid,
               ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, cid) rn
        FROM pc WHERE same_bucket) WHERE rn <= {_RECALL_K}
),
cand AS (
    SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_candidates
    FROM pc WHERE same_bucket GROUP BY qid
)
SELECT e.qid AS vec_id,
       COALESCE(c.n_candidates, 0) AS n_candidates,
       ROUND(CAST(COUNT(a.cid) AS DOUBLE) / {_RECALL_K}, 4) AS recall
FROM exact e
LEFT JOIN approx a ON a.qid = e.qid AND a.cid = e.cid
LEFT JOIN cand c ON c.qid = e.qid
GROUP BY e.qid, c.n_candidates
"""
)


@query("q_srp_recall", SRP_RECALL_ORACLE)
def srp_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN recall evaluation — the metric loop that closes the ANN
    family: for each of {nq} sampled query vectors, recall@{k} of the
    SRP same-bucket candidate search (q_srp_lsh's geometry) against
    the brute-force cosine ground truth, plus the candidate-set size
    that recall was bought with. This is exactly how production ANN
    is qualified (sampled queries, exact baseline, recall-vs-cost
    curve); here the curve's one point is value-checked end to end.
    [engine — not in reference]

    Scale design: the brute-force side runs ONLY for the {nq}-query
    sample — a broadcast of {nq} vectors against one corpus scan,
    never all-pairs; the bucketed side is the same scan filtered by
    signature equality. Ranks use the shared 9dp-rounded cosine with
    vec_id tiebreak (bit-identical across engines — sequential double
    folds on both sides)."""
    em = load_table(spark, sf_dir, "embeddings")
    emd = em.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    )
    # signatures via the same fold as q_srp_lsh
    sig = None
    for b, row in enumerate(_SRP):
        plane = F.array(*[F.lit(w) for w in row])
        dot = F.round(
            F.aggregate(
                F.zip_with("e", plane, lambda x, w: x * w),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            9,
        )
        bit = F.when(dot >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    sigs = emd.select("vec_id", "e", sig.cast("long").alias("sig"))
    q = sigs.where(F.col("vec_id") < _RECALL_QUERIES).select(
        F.col("vec_id").alias("qid"), F.col("e").alias("qe"), F.col("sig").alias("qsig")
    )
    c = sigs.select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce"), F.col("sig").alias("csig")
    )
    pc = (
        F.broadcast(q)
        .join(c, F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "cid",
            (F.col("qsig") == F.col("csig")).alias("same_bucket"),
            F.round(cosine_similarity(F.col("qe"), F.col("ce")), 9).alias("cos"),
        )
        .localCheckpoint(eager=True)  # nq x |corpus|; reused by 3 consumers
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), "cid")
    exact = (
        pc.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _RECALL_K)
        .select("qid", "cid")
    )
    approx = (
        pc.where("same_bucket")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _RECALL_K)
        # rename BOTH keys: exact and approx share pc's lineage, and a
        # same-name equi-join would silently self-resolve
        .select(F.col("qid").alias("aqid"), F.col("cid").alias("acid"))
    )
    cand = (
        pc.where("same_bucket")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    )
    return (
        exact.join(
            approx,
            (F.col("aqid") == F.col("qid")) & (F.col("acid") == F.col("cid")),
            "left",
        )
        .drop("aqid")
        .join(cand, "qid", "left")
        .groupBy("qid", "n_candidates")
        .agg(
            F.round(F.count("acid").cast("double") / _RECALL_K, 4).alias("recall")
        )
        .select(
            F.col("qid").alias("vec_id"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            "recall",
        )
    )


srp_recall.__doc__ = srp_recall.__doc__.format(nq=_RECALL_QUERIES, k=_RECALL_K)


winnowing.__doc__ = winnowing.__doc__.format(w=_WINNOW_W)


# ---------------------------------------------------------------------------
# k-center greedy coreset: farthest-first diverse subset selection

_CORESET_K = 8

_CORESET_DIST_SQL = """
    SELECT e.vec_id,
           ROUND(SQRT(SUM(POW(CAST(e.embedding[i.d] AS DOUBLE)
                              - CAST(c.embedding[i.d] AS DOUBLE), 2))), 9) AS d
    FROM embeddings e
    JOIN embeddings c ON c.vec_id = (SELECT vec_id FROM c{t})
    CROSS JOIN unnest(generate_series(1, len(e.embedding))) AS i(d)
    GROUP BY e.vec_id
"""


def _coreset_sql() -> str:
    """Unrolled farthest-first traversal: c1 = min vec_id; round t
    picks argmax of the running min-distance (9dp-rounded, vec_id
    tiebreak). Same MATERIALIZED-CTE chain family as q_kcore /
    q_unigram_lm / the GD oracle."""
    parts = [
        """
WITH c1 AS MATERIALIZED (
    SELECT MIN(vec_id) AS vec_id FROM embeddings
),
m1 AS MATERIALIZED ("""
        + _CORESET_DIST_SQL.format(t=1)
        + ")"
    ]
    for t in range(2, _CORESET_K + 1):
        parts.append(
            f""",
c{t} AS MATERIALIZED (
    SELECT vec_id FROM m{t - 1} ORDER BY d DESC, vec_id LIMIT 1
),
d{t} AS MATERIALIZED ("""
            + _CORESET_DIST_SQL.format(t=t)
            + f"""),
m{t} AS MATERIALIZED (
    SELECT m.vec_id, LEAST(m.d, d.d) AS d
    FROM m{t - 1} m JOIN d{t} d USING (vec_id)
)"""
        )
    radii = " UNION ALL ".join(
        f"SELECT {t} AS pick, (SELECT vec_id FROM c{t}) AS vec_id, "
        + (
            "CAST(NULL AS DOUBLE) AS radius"
            if t == 1
            else f"(SELECT MAX(d) FROM m{t - 1}) AS radius"
        )
        for t in range(1, _CORESET_K + 1)
    )
    parts.append(
        f"""
SELECT CAST(pick AS BIGINT) AS pick, vec_id, ROUND(radius, 4) AS radius
FROM ({radii}) ORDER BY pick
"""
    )
    return "".join(parts)


@query("q_coreset", _coreset_sql())
def coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-center greedy coreset ({k} centers): farthest-first traversal
    over the embedding space — repeatedly pick the vector FARTHEST
    from everything chosen so far. The diverse-subset kernel of
    data-pruning / active-learning curation (Sener & Savarese 2018)
    and a 2-approximation of the k-center cover; the emitted radius
    trajectory is the coverage guarantee curve. [engine — not in
    reference]

    Scale design: the k-round loop holds ONE |corpus|-row (vec_id,
    running-min-distance) frame, localCheckpointed per round; each
    round is a map-only distance pass against the newest center (a
    broadcast scalar) plus one TakeOrdered(1) — k passes total, no
    pairwise anything, the same shape q_kmeans uses. The driver holds
    only the k chosen ids. Distances are 9dp-rounded before the
    argmax in BOTH engines (sequential double folds agree bitwise;
    rounding is belt-and-braces for the comparison key). If k exceeds
    the corpus size the traversal deterministically re-picks the
    min-vec_id point at radius 0 — same in the oracle, so tiny inputs
    stay value-checked."""
    em = load_table(spark, sf_dir, "embeddings")
    emd = em.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("e")
    ).localCheckpoint(eager=True)
    first = emd.agg(F.min("vec_id")).collect()[0][0]
    if first is None:  # empty corpus
        return spark.createDataFrame([], "pick long, vec_id long, radius double")

    def dist_to(center_vec):  # noqa: ANN001
        cv = F.array(*[F.lit(float(x)) for x in center_vec])
        return F.round(
            F.sqrt(
                F.aggregate(
                    F.zip_with("e", cv, lambda x, c: (x - c) * (x - c)),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ),
            9,
        )

    picks = [(1, int(first), None)]
    center = emd.where(F.col("vec_id") == first).collect()[0]["e"]
    run = emd.select("vec_id", dist_to(center).alias("d")).localCheckpoint(
        eager=True
    )
    for t in range(2, _CORESET_K + 1):
        far = run.orderBy(F.desc("d"), "vec_id").limit(1).collect()[0]
        picks.append((t, int(far["vec_id"]), round(float(far["d"]), 4)))
        center = emd.where(F.col("vec_id") == far["vec_id"]).collect()[0]["e"]
        run = (
            run.join(emd.select("vec_id", dist_to(center).alias("d2")), "vec_id")
            .select("vec_id", F.least("d", "d2").alias("d"))
            .localCheckpoint(eager=True)  # one |corpus|-row frame, lineage cut
        )
    return spark.createDataFrame(picks, "pick long, vec_id long, radius double")


coreset.__doc__ = coreset.__doc__.format(k=_CORESET_K)


# ---------------------------------------------------------------------------
# ROC-AUC of the heuristic quality score against the lang=en label

AUC_EVAL_ORACLE = """
WITH scored AS (
    SELECT ROUND(CAST(len(regexp_replace(text, '[^aeiou]', '', 'g')) AS DOUBLE)
                 / GREATEST(len(text), 1), 4) AS s,
           CAST(lang = 'en' AS INT) AS y
    FROM documents
),
hist AS (
    SELECT s, SUM(y) AS np, SUM(1 - y) AS nn
    FROM scored GROUP BY s
),
cum AS (
    SELECT s, np, nn,
           COALESCE(SUM(nn) OVER (ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS nn_below
    FROM hist
),
tot AS (
    SELECT SUM(np) AS tp, SUM(nn) AS tn FROM hist
)
SELECT CAST(tot.tp AS BIGINT) AS n_pos,
       CAST(tot.tn AS BIGINT) AS n_neg,
       ROUND((SUM(cum.np * cum.nn_below) + 0.5 * SUM(cum.np * cum.nn))
             / (tot.tp * CAST(tot.tn AS DOUBLE)), 6) AS auc
FROM cum, tot
GROUP BY tot.tp, tot.tn
"""


@query("q_auc_eval", AUC_EVAL_ORACLE)
def auc_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC-AUC of the vowel-ratio quality heuristic against the
    lang='en' label — the classifier-qualification metric that closes
    the supervised loop (q_quality_classifier trains, this measures),
    via the Mann-Whitney pair formulation: AUC = P(score_pos >
    score_neg) + ½·P(tie). [engine — not in reference]

    Scale design: the textbook rank-based AUC needs a GLOBAL sort of
    all scores — unscalable. Instead scores are rounded to 4dp and
    HISTOGRAMMED (one groupBy; ≤10^4·range distinct buckets at any
    corpus size), and the pair counts come from prefix sums over the
    bounded histogram — the q_ks_drift rule again: windows over
    bounded aggregates, never the corpus. Identical rounding in the
    oracle makes the statistic exact, not approximate-vs-exact."""
    d = load_table(spark, sf_dir, "documents")
    vowels = F.length(F.regexp_replace("text", "[^aeiou]", ""))
    scored = d.select(
        F.round(
            vowels.cast("double") / F.greatest(F.length("text"), F.lit(1)), 4
        ).alias("s"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    hist = scored.groupBy("s").agg(
        F.sum("y").alias("np"), F.sum(F.lit(1) - F.col("y")).alias("nn")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.select(  # |buckets|-bounded window, single partition OK
        "s",
        "np",
        "nn",
        F.coalesce(F.sum("nn").over(w), F.lit(0)).alias("nn_below"),
    )
    tot = hist.agg(
        F.sum("np").cast("long").alias("tp"), F.sum("nn").cast("long").alias("tn")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("tp", "tn")
        .agg(
            F.round(
                (
                    F.sum(F.col("np") * F.col("nn_below"))
                    + 0.5 * F.sum(F.col("np") * F.col("nn"))
                )
                / (F.col("tp") * F.col("tn").cast("double")),
                6,
            ).alias("auc")
        )
        .select(
            F.col("tp").alias("n_pos"), F.col("tn").alias("n_neg"), "auc"
        )
    )


# ---------------------------------------------------------------------------
# LSH banding recall audit: banded candidates vs exact-Jaccard truth

_LSHR_SLICE = 100  # audit slice: doc_id < 100
_LSHR_TAU = 0.7

# The audit slice's shingles ``sh`` and exact pairs ``n``/``jp`` —
# interpolated by every audit, so they can never diverge on what a
# pair's similarity is.
_AUDIT_PAIRS_CTES = f"""
WITH {_shingle_ctes(f"doc_id < {_LSHR_SLICE}")},
{_JACCARD_CTES}"""

# ... plus the truth pairs ``tp`` and the banded candidates ``cand``
# (q_lsh_recall, q_lsh_precision) and the signatures ``sigl``
# (q_minhash_perm_sensitivity).
_LSH_AUDIT_CTES = f"""{_AUDIT_PAIRS_CTES},
tp AS MATERIALIZED (SELECT doc_a, doc_b FROM jp WHERE j >= {_LSHR_TAU}),
{_MINHASH_CTES}"""

LSH_RECALL_ORACLE = rf"""{_LSH_AUDIT_CTES}
SELECT (SELECT COUNT(*) FROM tp) AS n_true_pairs,
       (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM tp SEMI JOIN cand USING (doc_a, doc_b))
           AS n_caught,
       ROUND((SELECT COUNT(*) FROM tp SEMI JOIN cand USING (doc_a, doc_b))
             / GREATEST((SELECT COUNT(*) FROM tp), 1)::DOUBLE, 4) AS recall
"""


def _audit_jaccard_pairs(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Audit-slice shingle frame + FULL exact-Jaccard pair table
    (doc_a, doc_b, j) from _overlaps, with no hot cap — the one
    definition of pairwise text similarity shared by q_lsh_recall /
    q_lsh_precision (truth = j >= tau), q_dedup_threshold_curve (the
    whole curve over j), q_lsh_planner and
    q_minhash_perm_sensitivity. Both frames are localCheckpointed:
    slice-bounded, and every consumer forks the plan at least once."""
    d = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < _LSHR_SLICE
    )
    # slice-bounded; feeds truth + signatures
    shingled = _doc_shingles(d).distinct().localCheckpoint(eager=True)
    jp = _overlaps(shingled).select("doc_a", "doc_b", "j").localCheckpoint(eager=True)
    return shingled, jp


def _lsh_audit_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """Shared audit-slice frames for q_lsh_recall / q_lsh_precision:
    (true pairs at Jaccard >= tau, banded candidate pairs) — truth
    derives from _audit_jaccard_pairs' checkpointed pair table, so the
    recall, precision and threshold-curve audits can never disagree on
    what a true pair is; candidates are q_minhash_exact's kernels
    (_md5_signatures, _md5_bands, _band_pairs) on the slice."""
    shingled, jp = _audit_jaccard_pairs(spark, sf_dir)
    tp = jp.where(F.col("j") >= _LSHR_TAU).select("doc_a", "doc_b")
    cand = _band_pairs(_md5_bands(_md5_signatures(shingled))).localCheckpoint(
        eager=True
    )
    return tp, cand


@query("q_lsh_recall", LSH_RECALL_ORACLE)
def lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding recall AUDIT — q_srp_recall's twin for the text
    side: on a {slice}-document audit slice, compare the 16×8 MinHash
    banding's candidate pairs (q_minhash_exact's exact geometry)
    against exact 3-gram Jaccard ≥ {tau} ground truth, reporting true
    pairs, candidates, caught pairs and recall. This is the sampled
    qualification loop a production near-dup pipeline runs after
    every band-geometry change. [engine — not in reference]

    Scale design: exact all-pairs Jaccard is the unscalable half, so
    it runs ONLY on the fixed audit slice (the sampled-ground-truth
    pattern, same as q_srp_recall's query sample); the banding half is
    the production shape restricted to the same slice. Everything is
    keyed on doc/shingle ids; the three counts are scalar aggregates
    cross-joined into one row."""
    tp, cand = _lsh_audit_frames(spark, sf_dir)
    caught = tp.join(cand, ["doc_a", "doc_b"], "left_semi")
    t1 = tp.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    t2 = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    t3 = caught.agg(F.count(F.lit(1)).cast("long").alias("n_caught"))
    return (
        t1.crossJoin(t2)
        .crossJoin(t3)
        .select(
            "n_true_pairs",
            "n_candidates",
            "n_caught",
            F.round(
                F.col("n_caught")
                / F.greatest(F.col("n_true_pairs"), F.lit(1)).cast("double"),
                4,
            ).alias("recall"),
        )
    )


lsh_recall.__doc__ = lsh_recall.__doc__.format(slice=_LSHR_SLICE, tau=_LSHR_TAU)


LSH_PRECISION_ORACLE = rf"""{_LSH_AUDIT_CTES}
SELECT (SELECT COUNT(*) FROM cand) AS n_candidates,
       (SELECT COUNT(*) FROM cand SEMI JOIN tp USING (doc_a, doc_b))
           AS n_verified,
       (SELECT COUNT(*) FROM cand)
           - (SELECT COUNT(*) FROM cand SEMI JOIN tp USING (doc_a, doc_b))
           AS n_false_candidates,
       (SELECT COUNT(*) FROM tp) AS n_true_pairs,
       ROUND((SELECT COUNT(*) FROM cand SEMI JOIN tp USING (doc_a, doc_b))
             / GREATEST((SELECT COUNT(*) FROM cand), 1)::DOUBLE, 4)
           AS cand_precision,
       ROUND((SELECT COUNT(*) FROM cand)
             / GREATEST((SELECT COUNT(*) FROM tp), 1)::DOUBLE, 4)
           AS verify_cost
"""


@query("q_lsh_precision", LSH_PRECISION_ORACLE)
def lsh_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding candidate-PRECISION audit — the cost side of the
    band-geometry tradeoff that q_lsh_recall's recall side can't see:
    on the same audit slice, what share of the banded candidate pairs
    survive exact-Jaccard verification (cand_precision), how many are
    false candidates burned by the verifier, and how many candidates
    the pipeline pays to verify per true pair found (verify_cost).
    Widening bands raises recall but can admit quadratically many
    false candidates — this is the number that catches it (the r7
    rehearsal's 8-bit-band blowup would have shown up here as
    precision ~1e-5 before it showed up as wall-clock).
    [engine — not in reference]

    Scale design: identical to q_lsh_recall — both audits share
    _lsh_audit_frames (truth from _overlaps, candidates from
    _md5_signatures → _md5_bands → _band_pairs) and their SQL twins
    in _LSH_AUDIT_CTES, one definition of truth and candidates on the
    fixed sampled slice; this op adds only scalar
    aggregates over those frames, cross-joined into one row."""
    tp, cand = _lsh_audit_frames(spark, sf_dir)
    ver = cand.join(tp, ["doc_a", "doc_b"], "left_semi")
    t1 = cand.agg(F.count(F.lit(1)).cast("long").alias("n_candidates"))
    t2 = ver.agg(F.count(F.lit(1)).cast("long").alias("n_verified"))
    t3 = tp.agg(F.count(F.lit(1)).cast("long").alias("n_true_pairs"))
    return (
        t1.crossJoin(t2)
        .crossJoin(t3)
        .select(
            "n_candidates",
            "n_verified",
            (F.col("n_candidates") - F.col("n_verified"))
            .cast("long")
            .alias("n_false_candidates"),
            "n_true_pairs",
            F.round(
                F.col("n_verified")
                / F.greatest(F.col("n_candidates"), F.lit(1)).cast("double"),
                4,
            ).alias("cand_precision"),
            F.round(
                F.col("n_candidates")
                / F.greatest(F.col("n_true_pairs"), F.lit(1)).cast("double"),
                4,
            ).alias("verify_cost"),
        )
    )


DEDUP_THRESHOLD_CURVE_ORACLE = rf"""{_AUDIT_PAIRS_CTES},
grid AS (SELECT i.i * 1.0 / 10 AS tau
         FROM unnest(generate_series(1, 9)) AS i(i)),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_slice_docs FROM n)
SELECT g.tau,
       CAST(COUNT(jp.doc_a) AS BIGINT) AS n_dup_pairs,
       CAST(COUNT(DISTINCT jp.doc_b) AS BIGINT) AS n_docs_removed,
       nd.n_slice_docs,
       ROUND(COUNT(DISTINCT jp.doc_b) * 1.0 / NULLIF(nd.n_slice_docs, 0), 6)
           AS removal_frac
FROM grid g CROSS JOIN nd LEFT JOIN jp ON jp.j >= g.tau
GROUP BY g.tau, nd.n_slice_docs
ORDER BY g.tau
"""


@query("q_dedup_threshold_curve", DEDUP_THRESHOLD_CURVE_ORACLE)
def dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup threshold-sensitivity curve — the tuning curve a curation
    run consults BEFORE committing a near-dup threshold: for each τ on
    a 0.1-step grid, how many document pairs on the audit slice sit at
    exact 3-gram Jaccard ≥ τ, and what fraction of the slice a greedy
    keep-smallest-id dedup would remove at that τ (a doc is removed iff
    it is the larger member of at least one qualifying pair — the
    q_dedup_* family's deterministic survivor rule). Read together with
    q_lsh_recall / q_lsh_precision (same audit frames), this tells you
    both what a threshold costs in data and what the banding geometry
    can deliver at it. [engine — not in reference]

    Scale design: the exact all-pairs half runs ONLY on the fixed
    audit slice (the sampled-ground-truth pattern); the τ grid is 9
    broadcast rows, so the curve is one broadcast range-join of the
    slice-bounded checkpointed pair table against 9 thresholds plus a
    9-group aggregate — flat at any corpus size by construction. Truth
    is _overlaps' j on the slice (the jp CTE of _JACCARD_CTES in the
    oracle), shared with the recall and precision audits, so the three
    can never diverge on pair similarity."""
    shingled, jp = _audit_jaccard_pairs(spark, sf_dir)
    grid = spark.range(1, 10).select(
        (F.col("id") * 1.0 / 10).alias("tau")
    )
    nd = (
        shingled.select("doc_id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("n_slice_docs"))
    )
    return (
        grid.crossJoin(F.broadcast(nd))
        .join(F.broadcast(jp), F.col("j") >= F.col("tau"), "left")
        .groupBy("tau", "n_slice_docs")
        .agg(
            F.count("doc_a").cast("long").alias("n_dup_pairs"),
            F.countDistinct("doc_b").cast("long").alias("n_docs_removed"),
        )
        .select(
            "tau",
            "n_dup_pairs",
            "n_docs_removed",
            "n_slice_docs",
            F.round(
                F.try_divide(
                    F.col("n_docs_removed") * 1.0,
                    F.nullif(F.col("n_slice_docs"), F.lit(0)),
                ),
                6,
            ).alias("removal_frac"),
        )
        .orderBy("tau")
    )


# ---------------------------------------------------------------------------
# LSH band-geometry planner: price every (bands, rows) layout of the
# 128-perm signature budget against the observed pair-similarity mass

# power-of-two geometries spending the same 128-permutation budget
_PLAN_GEOMS = [(64, 2), (32, 4), (16, 8), (8, 16), (4, 32)]


def _plan_tau50(b: int, r: int) -> float:
    """S-curve midpoint of the (b, r) banding: the Jaccard at which a
    pair becomes a candidate with probability 1/2."""
    return round((1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r), 6)


def _plan_p07(b: int, r: int) -> float:
    """Closed-form catch probability 1-(1-τ^r)^b at the committed
    dedup threshold τ=0.7."""
    return round(1.0 - (1.0 - 0.7**r) ** b, 6)


def _plan_p_sql(b: int, r: int) -> str:
    """1-(1-j^r)^b as an exact squaring chain (b and r are powers of
    two, b*r=128 → 7 squarings total): every step is an IEEE double
    multiply/subtract both engines execute identically, unlike
    libm POWER whose last-ulp behavior differs between them."""
    jr = "j"
    for _ in range(r.bit_length() - 1):
        jr = f"({jr} * {jr})"
    y = f"(1.0 - {jr})"
    for _ in range(b.bit_length() - 1):
        y = f"({y} * {y})"
    return f"(1.0 - {y})"


def _plan_p_col(b: int, r: int):
    """Spark twin of _plan_p_sql: the identical multiply/subtract
    chain as Column algebra."""
    jr = F.col("j")
    for _ in range(r.bit_length() - 1):
        jr = jr * jr
    y = F.lit(1.0) - jr
    for _ in range(b.bit_length() - 1):
        y = y * y
    return F.lit(1.0) - y


LSH_PLANNER_ORACLE = rf"""{_AUDIT_PAIRS_CTES},
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             {", ".join(
                 f"ROUND(CAST(SUM(CAST(FLOOR({_plan_p_sql(b, r)} * 100000000.0) AS BIGINT)) AS BIGINT)"
                 f" / 100000000.0, 4) AS e{i}"
                 for i, (b, r) in enumerate(_PLAN_GEOMS))}
      FROM jp)
{" UNION ALL ".join(
    f"SELECT CAST({b} AS INT) AS bands, CAST({r} AS INT) AS rows_per_band, "
    f"CAST({_plan_tau50(b, r)!r} AS DOUBLE) AS tau50, "
    f"CAST({_plan_p07(b, r)!r} AS DOUBLE) AS p_catch_tau07, "
    f"s.n_pairs, s.e{i} AS exp_candidates FROM s"
    for i, (b, r) in enumerate(_PLAN_GEOMS))}
ORDER BY rows_per_band
"""


@query("q_lsh_planner", LSH_PLANNER_ORACLE)
def lsh_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-geometry PLANNER — the table a curation run reads
    BEFORE committing a banding: for every power-of-two (bands, rows)
    layout of the same 128-permutation signature budget, the S-curve
    midpoint tau50, the closed-form catch probability at the committed
    τ=0.7, and — priced against the corpus, not theory — the expected
    number of candidate pairs the banding would emit on the audit
    slice (Σ over observed pairs of 1-(1-j^r)^b, the verify bill the
    widening geometry runs up on sub-threshold mass). q_lsh_recall /
    q_lsh_precision measure the ONE shipped geometry after the fact;
    this op prices all five alternatives from the same observed
    similarity table so the choice is a lookup, not a redeploy loop.
    [engine — not in reference]

    Scale design: the data-dependent half is one aggregate over the
    slice-bounded checkpointed _overlaps pair table (the
    sampled-ground-truth pattern shared with the recall/precision/
    threshold-curve audits — one definition of pair similarity for the
    whole family); the five geometry sums ride a single pass, and the
    closed-form columns are literals. j^r and (1-j^r)^b are exact
    squaring chains (b·r=128 → 7 IEEE multiplies), not libm POWER, so
    both engines compute bit-identical per-pair probabilities — which
    are then floor-quantized to an 8dp integer grid before the SUM so
    the reduction is exact integer arithmetic, immune to the
    partition-order-dependent last-ulp drift of a raw double sum. Flat
    at any corpus size by construction."""
    _shingled, jp = _audit_jaccard_pairs(spark, sf_dir)
    # Each per-pair probability is quantized to an 8dp integer grid
    # (floor of a bit-identical double — deterministic in both engines)
    # BEFORE the SUM, so the reduction is exact integer arithmetic and
    # therefore order-insensitive: a raw double SUM's result depends on
    # partition/accumulation order and a last-ulp difference can flip
    # the 4dp rounding at a boundary between Spark and DuckDB.
    s = jp.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        *[
            F.round(
                F.sum(F.floor(_plan_p_col(b, r) * F.lit(1e8)).cast("long"))
                / F.lit(1e8),
                4,
            ).alias(f"e{i}")
            for i, (b, r) in enumerate(_PLAN_GEOMS)
        ],
    )
    return (
        s.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("bands"),
                            F.lit(r).alias("rows_per_band"),
                            F.lit(_plan_tau50(b, r)).alias("tau50"),
                            F.lit(_plan_p07(b, r)).alias("p_catch_tau07"),
                            F.col("n_pairs"),
                            F.col(f"e{i}").alias("exp_candidates"),
                        )
                        for i, (b, r) in enumerate(_PLAN_GEOMS)
                    ]
                )
            ).alias("g")
        )
        .select("g.*")
        .orderBy("rows_per_band")
    )


# ---------------------------------------------------------------------------
# MinHash permutation-budget sensitivity: estimator error vs signature
# size — the other axis of the sketch budget (q_lsh_planner covers how
# to SPEND 128 perms; this covers how many to BUY)

_PSENS_PERMS = [16, 32, 64, 128]

MINHASH_PERM_SENS_ORACLE = rf"""{_LSH_AUDIT_CTES},
pe AS (
    SELECT jp.j,
           {", ".join(f"{_agree_sql(p)} / {p}.0 AS est{p}" for p in _PSENS_PERMS)}
    FROM jp JOIN sigl sa ON sa.doc_id = jp.doc_a
            JOIN sigl sb ON sb.doc_id = jp.doc_b
),
s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             {", ".join(
                 f"ROUND(AVG(ABS(est{p} - j)), 6) AS mae{p}, "
                 f"ROUND(MAX(ABS(est{p} - j)), 6) AS mx{p}, "
                 f"ROUND(AVG(est{p} - j), 6) AS bias{p}"
                 for p in _PSENS_PERMS)}
      FROM pe)
{" UNION ALL ".join(
    f"SELECT CAST({p} AS INT) AS perms, s.n_pairs, s.mae{p} AS mae, "
    f"s.mx{p} AS max_abs_err, s.bias{p} AS mean_bias FROM s"
    for p in _PSENS_PERMS)}
ORDER BY perms
"""


@query("q_minhash_perm_sensitivity", MINHASH_PERM_SENS_ORACLE)
def minhash_perm_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash permutation-BUDGET sensitivity census — the other half
    of the sketch-budget decision: q_lsh_planner prices how to SPEND a
    128-perm signature across bands; this op prices how many perms to
    BUY, by scoring the estimator's error against exact Jaccard on the
    audit slice for each signature prefix (16/32/64/128 perms): mean
    absolute error, worst-case error, and bias. MAE shrinks ~1/√perms,
    so this table says whether halving signature storage (and shuffle
    bytes — at 100 TB the signature table IS the shuffle) costs
    anything the banding actually needs. [engine — not in reference]

    Scale design: signatures are prefix-closed (perm i is perm i for
    every budget), so ALL four budgets are scored from ONE signature
    computation — the same md5-derived minima frame the banding audits
    use (_md5_signatures, q_minhash_exact's exact geometry), joined
    once against the slice-bounded checkpointed exact-pair table; the
    census is one aggregate unpivoted to 4 literal-struct rows.
    est = agreements/2^k is a dyadic rational, exact in both engines'
    doubles."""
    shingled, jp = _audit_jaccard_pairs(spark, sf_dir)
    pe = _with_sigs(jp, _md5_signatures(shingled)).select(
        "j",
        *[
            (_agree("sig_a", "sig_b", p) / F.lit(float(p))).alias(f"est{p}")
            for p in _PSENS_PERMS
        ],
    )
    s = pe.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        *[
            c
            for p in _PSENS_PERMS
            for c in (
                F.round(F.avg(F.abs(F.col(f"est{p}") - F.col("j"))), 6).alias(
                    f"mae{p}"
                ),
                F.round(F.max(F.abs(F.col(f"est{p}") - F.col("j"))), 6).alias(
                    f"mx{p}"
                ),
                F.round(F.avg(F.col(f"est{p}") - F.col("j")), 6).alias(f"bias{p}"),
            )
        ],
    )
    return (
        s.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(p).alias("perms"),
                            F.col("n_pairs"),
                            F.col(f"mae{p}").alias("mae"),
                            F.col(f"mx{p}").alias("max_abs_err"),
                            F.col(f"bias{p}").alias("mean_bias"),
                        )
                        for p in _PSENS_PERMS
                    ]
                )
            ).alias("g")
        )
        .select("g.*")
        .orderBy("perms")
    )


# ---------------------------------------------------------------------------
# retrieval evaluation: MRR@10 and MAP@10 over a multi-query panel

_REVAL_Q = 8  # query panel: vec_id 0..7; corpus: vec_id >= 8
_REVAL_K = 10

_REVAL_RANKED_SQL = f"""
q AS (SELECT vec_id AS qid, embedding AS qe, label AS ql
      FROM embeddings WHERE vec_id < {_REVAL_Q}),
ranked AS (
    SELECT q.qid, CAST(b.label = q.ql AS INT) AS rel,
           ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY ROUND(CAST(list_cosine_similarity(
                   q.qe::DOUBLE[], b.embedding::DOUBLE[]) AS DOUBLE), 9)
                        DESC, b.vec_id) AS rnk
    FROM embeddings b, q
    WHERE b.vec_id >= {_REVAL_Q}
)
"""

MRR_ORACLE = f"""
WITH {_REVAL_RANKED_SQL},
rr AS (
    SELECT qid,
           COALESCE(MAX(CASE WHEN rel = 1 THEN 1.0 / rnk END), 0.0) AS rr
    FROM ranked WHERE rnk <= {_REVAL_K} GROUP BY qid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(AVG(rr), 6) AS mrr_at_k
FROM rr
"""


@query("q_mrr_eval", MRR_ORACLE)
def mrr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank at {k} of the brute-force cosine retriever
    over an {q}-query panel (vec_id 0..{qm} query the vec_id >= {q}
    corpus; relevance = label match) — the navigational-search metric
    that complements q_ndcg_eval's single-query graded view: MRR only
    cares where the FIRST relevant hit lands. [engine — not in
    reference]

    Scale design: the query panel is a broadcast ({q} rows) against
    one corpus scan — the q_knn_join shape — and the ranking window is
    PARTITIONED BY query over each query's result list, so adding
    queries scales the partition count, not the partition size. The
    reciprocal rank is exact rational arithmetic on window ranks
    (1/rnk has no float-noise ordering hazard once the rank is fixed);
    the ranking itself orders on ROUND(cos, 9) before the id tiebreak
    for cross-libm determinism."""
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < _REVAL_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("ql"),
    )
    ranked = (
        fan_out(em.filter(F.col("vec_id") >= _REVAL_Q))
        .join(F.broadcast(q))
        .select(
            "qid",
            (F.col("label") == F.col("ql")).cast("int").alias("rel"),
            cosine_similarity("qe", "embedding").alias("c"),
            "vec_id",
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.round("c", 9).desc(), "vec_id"
                )
            ),
        )
    )
    rr = (
        ranked.filter(F.col("rnk") <= _REVAL_K)
        .groupBy("qid")
        .agg(
            F.coalesce(
                F.max(F.when(F.col("rel") == 1, 1.0 / F.col("rnk"))), F.lit(0.0)
            ).alias("rr")
        )
    )
    return rr.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg("rr"), 6).alias("mrr_at_k"),
    )


mrr_eval.__doc__ = mrr_eval.__doc__.format(k=_REVAL_K, q=_REVAL_Q, qm=_REVAL_Q - 1)


MAP_ORACLE = f"""
WITH {_REVAL_RANKED_SQL},
nrel AS (SELECT qid, CAST(SUM(rel) AS BIGINT) AS r FROM ranked GROUP BY qid),
prec AS (
    SELECT qid, rel, rnk,
           SUM(rel) OVER (PARTITION BY qid ORDER BY rnk
                          ROWS UNBOUNDED PRECEDING) / (rnk * 1.0) AS p_at_k
    FROM ranked WHERE rnk <= {_REVAL_K}
),
ap AS (
    SELECT prec.qid,
           COALESCE(SUM(CASE WHEN rel = 1 THEN p_at_k END), 0.0)
               / NULLIF(LEAST(ANY_VALUE(nrel.r), {_REVAL_K}), 0) AS ap
    FROM prec JOIN nrel ON nrel.qid = prec.qid
    GROUP BY prec.qid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       ROUND(AVG(COALESCE(ap, 0.0)), 6) AS map_at_k
FROM ap
"""


@query("q_map_eval", MAP_ORACLE)
def map_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean average precision at {k} over the same {q}-query panel as
    q_mrr_eval — the recall-weighted retrieval metric: AP integrates
    precision at every relevant hit, normalized by min(R, {k}) where R
    is the query's total relevant count, so it rewards putting ALL the
    relevant docs early, not just the first. [engine — not in
    reference]

    Scale design: identical broadcast-panel shape to q_mrr_eval; the
    precision-at-k prefix sums run in per-query windows over top-{k}
    result lists ({k} rows per query). All arithmetic is exact
    rationals on window ranks and integer cumulative counts until the
    final 6dp round."""
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < _REVAL_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").alias("ql"),
    )
    ranked = (
        fan_out(em.filter(F.col("vec_id") >= _REVAL_Q))
        .join(F.broadcast(q))
        .select(
            "qid",
            (F.col("label") == F.col("ql")).cast("int").alias("rel"),
            cosine_similarity("qe", "embedding").alias("c"),
            "vec_id",
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.round("c", 9).desc(), "vec_id"
                )
            ),
        )
    )
    nrel = ranked.groupBy("qid").agg(F.sum("rel").cast("long").alias("r"))
    wp = Window.partitionBy("qid").orderBy("rnk").rowsBetween(
        Window.unboundedPreceding, 0
    )
    prec = ranked.filter(F.col("rnk") <= _REVAL_K).select(
        "qid",
        "rel",
        (F.sum("rel").over(wp) / (F.col("rnk") * 1.0)).alias("p_at_k"),
    )
    ap = (
        prec.join(
            F.broadcast(nrel.select(F.col("qid").alias("nq"), "r")),
            F.col("qid") == F.col("nq"),
        )
        .groupBy("qid")
        .agg(
            F.try_divide(
                F.coalesce(
                    F.sum(F.when(F.col("rel") == 1, F.col("p_at_k"))), F.lit(0.0)
                ),
                F.nullif(F.least(F.first("r"), F.lit(_REVAL_K)), F.lit(0)),
            ).alias("ap")
        )
    )
    return ap.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.round(F.avg(F.coalesce(F.col("ap"), F.lit(0.0))), 6).alias("map_at_k"),
    )


map_eval.__doc__ = map_eval.__doc__.format(k=_REVAL_K, q=_REVAL_Q)


# ---------------------------------------------------------------------------
# Matryoshka evaluation: recall of prefix-dimension retrieval

_MAT_PREFIX = 16  # leading dims scored against the full 64
_MAT_K = 10

MATRYOSHKA_ORACLE = f"""
WITH q AS (SELECT vec_id AS qid, embedding AS qe
           FROM embeddings WHERE vec_id < {_REVAL_Q}),
full_r AS (
    SELECT q.qid, b.vec_id,
           ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY ROUND(CAST(list_cosine_similarity(
                   q.qe::DOUBLE[], b.embedding::DOUBLE[]) AS DOUBLE), 9)
                        DESC, b.vec_id) AS rnk
    FROM embeddings b, q WHERE b.vec_id >= {_REVAL_Q}
),
pre_r AS (
    SELECT q.qid, b.vec_id,
           ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY ROUND(CAST(list_cosine_similarity(
                   (q.qe[1:{_MAT_PREFIX}])::DOUBLE[],
                   (b.embedding[1:{_MAT_PREFIX}])::DOUBLE[]) AS DOUBLE), 9)
                        DESC, b.vec_id) AS rnk
    FROM embeddings b, q WHERE b.vec_id >= {_REVAL_Q}
),
hits AS (
    SELECT f.qid,
           CAST(COUNT(p.vec_id) AS BIGINT) AS n_hit
    FROM full_r f
    LEFT JOIN pre_r p ON p.qid = f.qid AND p.vec_id = f.vec_id
                      AND p.rnk <= {_MAT_K}
    WHERE f.rnk <= {_MAT_K}
    GROUP BY f.qid
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       CAST({_MAT_PREFIX} AS BIGINT) AS prefix_dim,
       ROUND(AVG(n_hit / {_MAT_K}.0), 6) AS recall_at_k
FROM hits
"""


@query("q_matryoshka_recall", MATRYOSHKA_ORACLE)
def matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-representation evaluation (Kusupati et al. 2022):
    recall@{k} of retrieval using only the LEADING {p} of 64 embedding
    dimensions against the full-dimension ranking, averaged over the
    same {q}-query panel as q_mrr_eval — the measurement that decides
    whether an index can store truncated vectors (4x cheaper) without
    losing its head ranking. [engine — not in reference]

    Scale design: two broadcast-panel rankings (full and prefix — the
    prefix cosine is a map-side F.slice, no second scan shape), each a
    per-query window over its result list, joined on (query, doc) to
    count overlap in the top {k}. Both rankings order on ROUND(cos, 9)
    before the id tiebreak; recall is exact rational arithmetic on
    integer hit counts."""
    em = load_table(spark, sf_dir, "embeddings")
    q = em.filter(F.col("vec_id") < _REVAL_Q).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
    )
    corpus = fan_out(em.filter(F.col("vec_id") >= _REVAL_Q))

    def ranked(sim_col):
        return F.row_number().over(
            Window.partitionBy("qid").orderBy(F.round(sim_col, 9).desc(), "vec_id")
        )

    joined = corpus.join(F.broadcast(q)).select(
        "qid",
        "vec_id",
        cosine_similarity("qe", "embedding").alias("c_full"),
        cosine_similarity(
            F.slice("qe", 1, _MAT_PREFIX), F.slice("embedding", 1, _MAT_PREFIX)
        ).alias("c_pre"),
    )
    full_r = joined.select(
        "qid", "vec_id", ranked(F.col("c_full")).alias("rnk")
    ).filter(F.col("rnk") <= _MAT_K)
    pre_r = (
        joined.select("qid", "vec_id", ranked(F.col("c_pre")).alias("rnk"))
        .filter(F.col("rnk") <= _MAT_K)
        .select(F.col("qid").alias("pqid"), F.col("vec_id").alias("pvid"))
    )
    hits = (
        full_r.join(
            F.broadcast(pre_r),
            (F.col("qid") == F.col("pqid")) & (F.col("vec_id") == F.col("pvid")),
            "left",
        )
        .groupBy("qid")
        .agg(F.count("pvid").cast("long").alias("n_hit"))
    )
    return hits.agg(
        F.count(F.lit(1)).cast("long").alias("n_queries"),
        F.lit(_MAT_PREFIX).cast("long").alias("prefix_dim"),
        F.round(F.avg(F.col("n_hit") / float(_MAT_K)), 6).alias("recall_at_k"),
    )


matryoshka_recall.__doc__ = matryoshka_recall.__doc__.format(
    k=_MAT_K, p=_MAT_PREFIX, q=_REVAL_Q
)


# ---------------------------------------------------------------------------
# label-noise audit: k-NN majority-vote disagreement on a fixed slice

_LN_SLICE = 100
_LN_K = 5

LABEL_NOISE_ORACLE = f"""
WITH s AS (SELECT vec_id AS sid, embedding AS se, label AS sl
           FROM embeddings WHERE vec_id < {_LN_SLICE}),
r AS (
    SELECT s.sid, s.sl, b.label AS nl,
           ROW_NUMBER() OVER (
               PARTITION BY s.sid
               ORDER BY ROUND(CAST(list_cosine_similarity(
                   s.se::DOUBLE[], b.embedding::DOUBLE[]) AS DOUBLE), 9)
                        DESC, b.vec_id) AS rnk
    FROM embeddings b, s WHERE b.vec_id <> s.sid
),
votes AS (
    SELECT sid, sl, nl, CAST(COUNT(*) AS BIGINT) AS c
    FROM r WHERE rnk <= {_LN_K} GROUP BY sid, sl, nl
),
win AS (
    SELECT sid, sl, nl, c,
           ROW_NUMBER() OVER (PARTITION BY sid ORDER BY c DESC, nl) AS vr
    FROM votes
)
SELECT sid AS vec_id, sl AS label, nl AS knn_label, c AS n_agree
FROM win WHERE vr = 1 AND nl <> sl
ORDER BY vec_id
"""


@query("q_label_noise", LABEL_NOISE_ORACLE)
def label_noise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-noise audit (the confident-learning screen): for each
    vector in a fixed audit slice (vec_id < {s}), take its {k} exact
    cosine nearest neighbors in the FULL corpus and flag the row when
    the neighbor-majority label disagrees with its own — mislabeled
    training examples sit inside a different class's neighborhood.
    Majority ties break to the smallest label in both engines.
    [engine — not in reference]

    Scale design: the q_lsh_recall sampled-audit pattern — exact k-NN
    runs ONLY for the bounded slice (broadcast {s} rows against one
    corpus scan, per-slice-member ranking windows over result lists),
    which is how production audits a 10^9-row corpus: a fixed random
    slice per ingest batch, never all-pairs. Ranking orders on
    ROUND(cos, 9) before the id tiebreak; votes are exact integer
    counts."""
    em = load_table(spark, sf_dir, "embeddings")
    s = em.filter(F.col("vec_id") < _LN_SLICE).select(
        F.col("vec_id").alias("sid"),
        F.col("embedding").alias("se"),
        F.col("label").alias("sl"),
    )
    r = (
        fan_out(em).join(F.broadcast(s), F.col("vec_id") != F.col("sid"))
        .select(
            "sid",
            "sl",
            F.col("label").alias("nl"),
            cosine_similarity("se", "embedding").alias("c"),
            "vec_id",
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("sid").orderBy(
                    F.round("c", 9).desc(), "vec_id"
                )
            ),
        )
    )
    votes = (
        r.filter(F.col("rnk") <= _LN_K)
        .groupBy("sid", "sl", "nl")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    win = votes.withColumn(
        "vr",
        F.row_number().over(
            Window.partitionBy("sid").orderBy(F.col("c").desc(), "nl")
        ),
    )
    return (
        win.filter((F.col("vr") == 1) & (F.col("nl") != F.col("sl")))
        .select(
            F.col("sid").alias("vec_id"),
            F.col("sl").alias("label"),
            F.col("nl").alias("knn_label"),
            F.col("c").alias("n_agree"),
        )
        .orderBy("vec_id")
    )


label_noise.__doc__ = label_noise.__doc__.format(s=_LN_SLICE, k=_LN_K)


# ---------------------------------------------------------------------------
# embedding-level decontamination: train rows nearest a held-out panel

_DECON_EVAL = 50
_DECON_TOP = 20
_DECON_TAU = 0.95

EMBED_DECONTAMINATE_ORACLE = f"""
WITH ev AS (SELECT vec_id AS eid, embedding AS ee
            FROM embeddings WHERE vec_id < {_DECON_EVAL}),
tr AS (SELECT vec_id, embedding FROM embeddings
       WHERE vec_id >= {_DECON_EVAL}),
p AS (
    SELECT t.vec_id, ev.eid,
           ROUND(CAST(list_cosine_similarity(
               t.embedding::DOUBLE[], ev.ee::DOUBLE[]) AS DOUBLE), 9) AS c
    FROM tr t, ev
),
best AS (
    SELECT vec_id, eid, c,
           ROW_NUMBER() OVER (PARTITION BY vec_id
                              ORDER BY c DESC, eid) AS rnk
    FROM p
),
ranked AS (
    SELECT vec_id, eid, c,
           ROW_NUMBER() OVER (ORDER BY c DESC, vec_id) AS gr
    FROM best WHERE rnk = 1
)
SELECT vec_id, eid AS eval_id, ROUND(c, 6) AS max_cos,
       CAST(c >= {_DECON_TAU} AS INT) AS flagged
FROM ranked WHERE gr <= {_DECON_TOP}
ORDER BY vec_id
"""


@query("q_embed_decontaminate", EMBED_DECONTAMINATE_ORACLE)
def embed_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-level train/eval decontamination report — the
    cosine-similarity twin of q_stream_decontaminate's n-gram screen.
    Vectors with vec_id < {e} act as the HELD-OUT eval panel; for
    every training vector the report computes its maximum cosine to
    the panel (with the argmax eval id, ties to the smallest id) and
    emits the {t} closest training rows, marking any at or above the
    hard-contamination threshold tau = {tau} (an eval item that leaked
    into training verbatim or near-verbatim scores ~1.0). A training
    pipeline drops flagged rows and audits the ranked tail.
    [engine — not in reference]

    Scale design: the q_label_noise sampled-panel pattern — the
    bounded eval panel broadcasts against ONE fan_out corpus scan (the
    round-8 lesson: a small parquet table arrives as one split, so
    fan_out first or the panel join runs serial), per-train-vector
    argmax via a groupBy-sized window over {e}-row lists, then a
    global top-{t} that Spark collapses to TakeOrdered — no global
    sort materializes. Ordering compares ROUND(cos, 9) before id
    tiebreaks so both engines rank identically; output cosines are
    6dp-rounded."""
    em = load_table(spark, sf_dir, "embeddings")
    ev = em.filter(F.col("vec_id") < _DECON_EVAL).select(
        F.col("vec_id").alias("eid"), F.col("embedding").alias("ee")
    )
    tr = em.filter(F.col("vec_id") >= _DECON_EVAL).select(
        "vec_id", "embedding"
    )
    p = fan_out(tr).join(F.broadcast(ev), F.lit(True)).select(
        "vec_id",
        "eid",
        F.round(cosine_similarity("embedding", "ee"), 9).alias("c"),
    )
    best = (
        p.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.col("c").desc(), "eid")
            ),
        )
        .filter(F.col("rnk") == 1)
        .drop("rnk")
    )
    ranked = best.withColumn(
        "gr",
        F.row_number().over(Window.orderBy(F.col("c").desc(), "vec_id")),
    )
    return (
        ranked.filter(F.col("gr") <= _DECON_TOP)
        .select(
            "vec_id",
            F.col("eid").alias("eval_id"),
            F.round("c", 6).alias("max_cos"),
            (F.col("c") >= _DECON_TAU).cast("int").alias("flagged"),
        )
        .orderBy("vec_id")
    )


embed_decontaminate.__doc__ = embed_decontaminate.__doc__.format(
    e=_DECON_EVAL, t=_DECON_TOP, tau=_DECON_TAU
)
