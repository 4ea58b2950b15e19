"""LLM-data operators on a planted-duplicate corpus (tiny_docs_dir):

docs 0 == 1 exactly; doc 2 differs by 1 word in 30; doc 3 unrelated;
doc 4 too short to shingle. Known answers, deterministic hashes.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from pcap_to_parquet_spark.operators.llm import (
    dedup_exact,
    dedup_minhash,
    dedup_simhash,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from pcap_to_parquet_spark.sources.tables import load_table
import pytest

from tests.conftest import SF001, SF0001


def test_dedup_exact_planted(spark, tiny_docs_dir):
    rows = dedup_exact(spark, tiny_docs_dir).collect()
    by_copies = {r.n_copies: r for r in rows}
    assert by_copies[2].keep_id == 0  # docs 0 and 1 collapse, min doc_id kept
    assert len(rows) == 4  # 5 docs → 4 distinct texts


@pytest.mark.slow  # >=5s
def test_minhash_identical_docs_full_signature_match(spark, tiny_docs_dir):
    d = load_table(spark, tiny_docs_dir, "documents")
    sigs = {r.doc_id: r.sig for r in minhash_signatures(d).collect()}
    assert sigs[0] == sigs[1]  # identical text → identical signature
    assert sigs[0] != sigs[3]
    assert 4 not in sigs  # <3 tokens → no shingles → filtered out
    assert len(sigs[0]) == 128


def test_minhash_lsh_finds_planted_pairs(spark, tiny_docs_dir):
    pairs = {(r.doc_a, r.doc_b): r.est_jaccard for r in dedup_minhash(spark, tiny_docs_dir).collect()}
    assert pairs[(0, 1)] == 1.0  # exact dup
    assert (0, 2) in pairs and pairs[(0, 2)] >= 0.7  # near dup (27/31 shingles shared)
    assert all(3 not in p for p in pairs)  # unrelated never pairs


def test_simhash_hamming(spark, tiny_docs_dir):
    d = load_table(spark, tiny_docs_dir, "documents")
    fps = {r.doc_id: r.simhash for r in simhash(d).collect()}
    assert fps[0] == fps[1]
    assert bin(fps[0] ^ fps[3]).count("1") > 3  # unrelated docs far apart
    pairs = {(r.doc_a, r.doc_b) for r in dedup_simhash(spark, tiny_docs_dir).collect()}
    assert (0, 1) in pairs


def test_ngram_jaccard_exact_values(spark, tiny_docs_dir):
    rows = {(r.doc_a, r.doc_b): r.jaccard for r in ngram_jaccard(spark, tiny_docs_dir).collect()}
    assert rows[(0, 1)] == 1.0
    # doc2: 28 shingles, 3 containing the changed word differ →
    # |∩|=25, |∪|=28+28-25=31
    assert abs(rows[(0, 2)] - 25 / 31) < 1e-6


def test_fingerprint_bag_invariance(spark, tiny_docs_dir):
    from pcap_to_parquet_spark.operators.llm import fingerprint

    d = fingerprint(spark, tiny_docs_dir)
    rows = {r.doc_id: r for r in d.collect()}
    assert rows[0].content_md5 == rows[1].content_md5
    assert rows[0].bag_md5 == rows[1].bag_md5
    assert rows[0].content_md5 != rows[2].content_md5


@pytest.mark.slow  # >=5s
def test_whitespace_hostile_oracle_parity(spark, tmp_path):
    """Tabs, newlines, and runs of spaces must tokenize identically in
    the engine (split \\s+) and every DuckDB oracle
    (regexp_split_to_array) — regression for a latent divergence where
    oracles split on a single literal space."""
    import duckdb

    rows = [
        (0, "a\tb  c\nd", "en", "s", 8),
        (1, "  leading and trailing  ", "en", "s", 24),
        (2, "the\tof\nand  to a", "en", "s", 16),
        (3, "one two three four five six", "en", "s", 27),
    ]
    d = tmp_path / "hostile"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    from pcap_to_parquet_spark.registry import ORACLES, QUERIES

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    for name in ("q_token_count", "q_quality_score", "q_lang_id", "q_text_stats",
                 "q_ngram_jaccard", "q_fingerprint"):
        got = {
            tuple(r): None for r in QUERIES[name](spark, str(d)).collect()
        }
        want = {tuple(r): None for r in con.execute(ORACLES[name]).fetchall()}
        assert set(got) == set(want), name


def test_similarity_topk_shape(spark):
    from pcap_to_parquet_spark.operators.llm import similarity_topk

    rows = similarity_topk(spark, SF0001).collect()
    assert len(rows) == 10
    sims = [r.cos_sim for r in rows]
    assert sims == sorted(sims, reverse=True)
    assert all(-1.0 <= s <= 1.0 for s in sims)
    assert all(r.vec_id != 0 for r in rows)  # query vector excluded


def test_embeddings_dim(spark):
    em = load_table(spark, SF0001, "embeddings")
    n_bad = em.filter(F.size("embedding") != 64).count()
    assert n_bad == 0


def test_ivf_recall_probe_tradeoff(spark):
    """IVF recall@10 vs brute force must rise with n_probes and reach
    1.0 at full probe (all lists == exact search) — the defining IVF
    property; a broken list assignment would flatten the curve."""
    from pcap_to_parquet_spark.operators.llm import similarity_ivf, similarity_topk
    brute = {r.vec_id for r in similarity_topk(spark, SF0001).collect()}

    def recall(p):
        got = {r.vec_id for r in similarity_ivf(spark, SF0001, n_probes=p).collect()}
        return len(brute & got) / len(brute)

    r2, r5, r10 = recall(2), recall(5), recall(10)
    assert r2 >= 0.2  # measured 0.3 on the weakly-clustered synthetic data
    assert r5 >= r2
    assert r10 == 1.0  # probing every list IS brute force


@pytest.mark.slow  # >=5s
def test_kmeans_properties(spark):
    """k-means invariants: determinism, <= k clusters, and every
    cluster's members list it as their nearest final centroid is NOT
    guaranteed mid-stream — but sizes must cover the corpus."""
    from pcap_to_parquet_spark.operators.llm import kmeans
    from pcap_to_parquet_spark.sources.tables import load_table
    a = {r.cluster: (r.n_vecs, r.min_vec_id) for r in kmeans(spark, SF0001).collect()}
    b = {r.cluster: (r.n_vecs, r.min_vec_id) for r in kmeans(spark, SF0001).collect()}
    assert a == b  # deterministic init + fixed iteration count
    assert 1 <= len(a) <= 8
    total = load_table(spark, SF0001, "embeddings").count()
    assert sum(n for n, _ in a.values()) == total  # every vector assigned


def test_embed_quantize_invariants(spark):
    """int8 symmetric quantization: values bounded to [-127, 127], the
    absmax element maps to ±127 exactly, and dequantized vectors stay
    within half-a-step of the original (the oracle checks equality of
    the quantized sums; this checks the numeric CONTRACT)."""
    import numpy as np
    from pyspark.sql import functions as F

    from pcap_to_parquet_spark.operators.llm import embed_quantize
    from pcap_to_parquet_spark.sources.tables import load_table

    q = embed_quantize(spark, SF0001).limit(50)
    rows = q.collect()
    assert rows
    for r in rows:
        assert -127 <= r.q_min <= r.q_max <= 127
    # dequantization error bound: |x - q*scale| <= scale/2 per element
    em = {
        r.vec_id: np.array(r.embedding, dtype=np.float64)
        for r in load_table(spark, SF0001, "embeddings")
        .filter(F.col("vec_id") < 20)
        .collect()
    }
    checked = 0
    for r in rows:
        if r.vec_id not in em:
            continue
        x = em[r.vec_id]
        scale = np.max(np.abs(x)) / 127.0
        qv = np.round(x / scale)
        assert np.max(np.abs(x - qv * scale)) <= scale / 2 + 1e-12
        assert np.max(np.abs(qv)) == 127  # absmax element hits full range
        checked += 1
    assert checked


def test_bloom_prefilter_contract(spark):
    """No false negatives ever (every exact duplicate is bloom-flagged);
    false-positive rate stays within ~3x of the (set_fraction)^k theory
    when the filter is deliberately undersized to force collisions."""
    from pcap_to_parquet_spark.operators.llm import bloom_prefilter

    # production-sized filter: bloom verdict must cover every exact dup
    rows = bloom_prefilter(spark, SF001).collect()
    assert rows
    assert all(r.bloom_maybe_dup == 1 for r in rows if r.exact_dup == 1)

    # undersized filter (m=2048): collisions now expected, but bounded
    m, k = 2048, 4
    rows = bloom_prefilter(spark, SF001, m_bits=m, k=k).collect()
    assert all(r.bloom_maybe_dup == 1 for r in rows if r.exact_dup == 1)
    new_docs = [r for r in rows if r.exact_dup == 0]
    fps = sum(r.bloom_maybe_dup for r in new_docs)
    # set fraction: 450 distinct corpus docs × k positions (upper bound)
    p = min(1.0, 450 * k / m)
    bound = 3 * (p**k) * len(new_docs) + 3  # slack for small-sample noise
    assert fps <= bound, (fps, len(new_docs), p**k)


@pytest.mark.slow  # >=5s
def test_round3_text_ops_hostile_parity(spark, tmp_path):
    """Round-3 text operators on a hostile corpus: regex specials in
    text, tabs/newlines tokenization, unicode, an email-lookalike
    already in the text — engine and oracle must still agree."""
    import duckdb

    rows = [
        (0, "a+b (c) [d] e.f *g h?", "en", "s", 21),
        (1, "already bob@x.io inline\ttab", "en", "s", 27),
        (2, "unicode café naïve 中文 token", "en", "s", 24),
        (3, "  spaced   out  http://not.seeded.example  ", "en", "s", 43),
        (4, "plain words only here", "en", "s", 21),
    ]
    d = tmp_path / "hostile3"
    d.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    from pcap_to_parquet_spark.registry import ORACLES, QUERIES

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    for name in ("q_pii_scrub", "q_url_extract", "q_length_histogram",
                 "q_bm25", "q_repetition_score"):
        got = sorted(tuple(r) for r in QUERIES[name](spark, str(d)).collect())
        want = sorted(tuple(r) for r in con.execute(ORACLES[name]).fetchall())
        assert got == want, name
