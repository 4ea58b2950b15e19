"""Round-5 operator tests: DSIR importance weighting.

Oracle parity is the driver's job (tools/check_oracle.py replays it);
these tests pin the SEMANTICS — that the weights actually rank
target-like documents above off-distribution ones.
"""

from __future__ import annotations

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402
import pytest
from tests.conftest import SF0001  # noqa: E402


def test_dsir_weights_prefer_target_like_docs(spark, tmp_path):
    """Plant three populations: English target docs, a non-English doc
    SHARING the target vocabulary, and a non-English doc with disjoint
    vocabulary. The shared-vocab doc must out-score the disjoint one —
    DSIR's entire premise (importance weight measures target-likeness
    of the n-gram profile, not the lang tag itself)."""
    rows = []
    for i in range(40):
        rows.append((i, "the cat sat on the mat and the dog ran", "en", "s", 39))
    rows.append((100, "the cat sat on the mat and the dog ran", "xx", "s", 39))
    rows.append((101, "zorp blee qux vantor mizzle kroop fandle glip snarv wex", "xx", "s", 55))
    d = tmp_path / "dsir"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(2).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r for r in QUERIES["q_dsir_weights"](spark, str(d)).collect()}
    assert set(out) == set(range(40)) | {100, 101}
    assert out[100].logw > out[101].logw
    # the shared-vocab doc scores like the target docs (same features)
    assert abs(out[100].logw - out[0].logw) < 1e-6
    # feature count = unigrams + bigrams
    assert out[100].n_feats == 10 + 9


def test_dsir_weights_real_corpus_shapes(spark):
    """Every doc with tokens gets a finite weight; n_feats matches
    2*len(tokens)-1 for whitespace-tokenized docs."""
    rows = QUERIES["q_dsir_weights"](spark, SF0001).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_feats >= 1
        assert r.logw == r.logw  # not NaN


def test_semdedup_dominance_rule(spark, tmp_path):
    """Planted block: v0 and v1 identical (cos=1), v2 orthogonal.
    v1 must be dropped (dominated by v0), v0 and v2 kept; a second
    label's singleton is kept with NULL nearest-lower similarity."""
    rows = [
        (0, [1.0] + [0.0] * 63, 1),
        (1, [1.0] + [0.0] * 63, 1),
        (2, [0.0, 1.0] + [0.0] * 62, 1),
        (10, [0.5] * 64, 2),
    ]
    d = tmp_path / "sem"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    out = {r.vec_id: r for r in QUERIES["q_semdedup"](spark, str(d)).collect()}
    assert out[0].kept and out[0].max_lower_sim is None
    assert not out[1].kept and out[1].n_dominators == 1
    assert out[1].max_lower_sim == 1.0
    assert out[2].kept and abs(out[2].max_lower_sim) < 1e-9
    assert out[10].kept and out[10].max_lower_sim is None


def test_rrf_fusion_formula_and_ranks(spark):
    """Every emitted row's rrf_score must equal the closed form from
    its own ranks; rank sets are 1..n contiguous within each system;
    doc 0 (the semantic query vector) never appears with a sem_rank."""
    rows = QUERIES["q_rrf_fusion"](spark, SF0001).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        expect = 0.0
        if r.lex_rank is not None:
            expect += 1.0 / (60 + r.lex_rank)
        if r.sem_rank is not None:
            expect += 1.0 / (60 + r.sem_rank)
        assert abs(r.rrf_score - round(expect, 6)) < 1e-9, r
    scores = [r.rrf_score for r in rows]
    assert scores == sorted(scores, reverse=True)
    sem_ranks = {r.doc_id: r.sem_rank for r in rows}
    assert sem_ranks.get(0) is None or 0 not in sem_ranks


def test_image_neardup_banding_is_lossless(spark, tmp_path):
    """Two identical synthetic images must pair at Hamming 0; the
    banded candidate join may not lose any pair the brute-force oracle
    would find (pigeonhole at <=15 bits over 16 bands)."""
    base = "the quick brown fox jumps over the lazy dog again and again " * 3
    other = "completely different content with other words entirely here " * 3
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),  # identical -> hamming 0
        (3, other, "en", "s", len(other)),
    ]
    d = tmp_path / "imgdup"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in QUERIES["q_image_neardup"](spark, str(d)).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_audio_neardup_identical_clips_pair(spark, tmp_path):
    """Identical texts produce identical PCM payloads and must pair at
    Hamming 0; the fingerprint is built from exact integer energies so
    there is no float path to diverge."""
    base = "sound alike words repeated for the audio fingerprint test " * 3
    other = "totally different acoustic content in this second sample " * 3
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),
        (3, other, "en", "s", len(other)),
    ]
    d = tmp_path / "audup"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in QUERIES["q_audio_neardup"](spark, str(d)).collect()
    }
    assert pairs.get((1, 2)) == 0


@pytest.mark.slow  # >=5s
def test_video_neardup_perturbed_clip_pairs(spark, tmp_path):
    """A lightly-perturbed copy (one character changed — the
    re-encode/watermark grade of noise the radius targets)
    must still pair, at 0 < hamming <= 31, while an unrelated clip
    must not. Pins that the 16x16-bit-band MIH candidates plus the
    exact Hamming filter actually DETECT near-dups, not just exact
    dups, after the radius tightened from the 2-frame operating
    point."""
    base = "moving pictures with the very same pixels frame after frame " * 3
    near = base.replace("pixels", "pixelY", 1)  # measured total hamming 16
    other = "an entirely different clip with other bytes in every frame " * 3
    rows = [
        (1, base, "en", "s", len(base)),
        (2, near, "en", "s", len(near)),
        (3, other, "en", "s", len(other)),
    ]
    d = tmp_path / "vidnear"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in QUERIES["q_video_neardup"](spark, str(d)).collect()
    }
    assert (1, 2) in pairs and 0 < pairs[(1, 2)] <= 31
    assert not any(3 in p for p in pairs)


def test_video_neardup_identical_clips_pair(spark, tmp_path):
    """Identical texts produce identical frame streams and must pair
    at total Hamming 0 across both sampled frames."""
    base = "moving pictures with the very same pixels frame after frame " * 3
    other = "an entirely different clip with other bytes in every frame " * 3
    rows = [
        (1, base, "en", "s", len(base)),
        (2, base, "en", "s", len(base)),
        (3, other, "en", "s", len(other)),
    ]
    d = tmp_path / "viddup"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    pairs = {
        (r.media_a, r.media_b): r.hamming
        for r in QUERIES["q_video_neardup"](spark, str(d)).collect()
    }
    assert pairs.get((1, 2)) == 0


def test_mih_pigeonhole_property():
    """Pure-math property behind q_image/audio/video_neardup's
    multi-index hashing: ANY two 64-bit strings within Hamming 15 have
    some 8-bit band differing in <= 1 bit — so the 1-bit probe
    expansion is a complete candidate generator, never a recall
    trade-off. Checked on random pairs plus the adversarial spread
    (one flip per band everywhere but one)."""
    import random

    rng = random.Random(7)
    for _ in range(2000):
        a = [rng.randint(0, 1) for _ in range(64)]
        flips = rng.sample(range(64), rng.randint(0, 15))
        b = list(a)
        for i in flips:
            b[i] ^= 1
        near_band = any(
            sum(x != y for x, y in zip(a[8 * k : 8 * k + 8], b[8 * k : 8 * k + 8]))
            <= 1
            for k in range(8)
        )
        assert near_band, flips
    # adversarial: 2 flips in each of 7 bands (14 total) leaves the
    # 8th band exact; 15 flips can spread at most 2-per-band over 7
    # bands plus 1 in the last -> still within one probe
    a = [0] * 64
    b = list(a)
    for k in range(7):
        b[8 * k] = 1
        b[8 * k + 1] = 1
    b[56] = 1
    diffs = [
        sum(x != y for x, y in zip(a[8 * k : 8 * k + 8], b[8 * k : 8 * k + 8]))
        for k in range(8)
    ]
    assert min(diffs) <= 1 and sum(diffs) == 15


def test_adamic_adar_planted_square(spark, tmp_path):
    """Planted 4-cycle 1-2-3-4-1: the two diagonals (1,3) and (2,4)
    are the only non-edges, each with two common neighbors of degree
    2, so both score 2/ln(2) and nothing else appears."""
    import math

    rows = []
    ok = 0
    for a, b in [(1, 2), (2, 3), (3, 4), (1, 4)]:
        rows.append((ok, a))
        rows.append((ok, b))
        ok += 1
    li = spark.createDataFrame(
        [(o, p) for o, p in rows], "l_orderkey long, l_partkey long"
    )
    d = tmp_path / "aa"
    li.write.mode("overwrite").parquet(str(d / "lineitem.parquet"))
    out = {(r.u, r.v): r for r in QUERIES["q_adamic_adar"](spark, str(d)).collect()}
    assert set(out) == {(1, 3), (2, 4)}
    want = round(2 / math.log(2), 4)
    for r in out.values():
        assert r.aa_score == want
        assert r.n_common == 2


def test_adamic_adar_excludes_existing_edges(spark):
    """No candidate pair may already be a co-purchase edge."""
    df = QUERIES["q_adamic_adar"](spark, SF0001)
    import duckdb

    cand = [(r.u, r.v) for r in df.collect()]
    assert len(cand) > 0
    edges = set(
        duckdb.sql(
            f"""SELECT DISTINCT a.l_partkey, b.l_partkey
        FROM '{SF0001}/lineitem.parquet' a JOIN '{SF0001}/lineitem.parquet' b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey"""
        ).fetchall()
    )
    assert not (set(cand) & edges)


def test_shard_assign_is_deterministic_full_partition(spark):
    """Shards partition the corpus exactly once; two runs agree
    bit-for-bit (the resumable-loading property)."""
    import duckdb

    a = QUERIES["q_shard_assign"](spark, SF0001).collect()
    b = QUERIES["q_shard_assign"](spark, SF0001).collect()
    assert a == b
    n = duckdb.sql(f"SELECT COUNT(*) FROM '{SF0001}/documents.parquet'").fetchone()[0]
    assert sum(r.n_docs for r in a) == n
    assert len({r.shard for r in a}) == len(a)


def test_rake_keywords_scores_multiword_phrases(spark, tmp_path):
    """Planted corpus: 'deep learning' appears as a stopword-delimited
    phrase twice, 'cat' once. RAKE must score the bigram phrase
    higher (deg/freq rewards co-occurrence runs) and compute the
    textbook score: each of deep/learning has deg 2, freq 1 per
    occurrence -> wscore 2, phrase score 4; 'cat' scores 1."""
    rows = [
        (0, "deep learning is the deep learning", "en", "s", 30),
        (1, "a cat", "en", "s", 5),
    ]
    d = tmp_path / "rake"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r.phrase: r for r in QUERIES["q_rake_keywords"](spark, str(d)).collect()}
    assert out["deep learning"].rake_score == 4.0
    assert out["deep learning"].n_occ == 2
    assert out["cat"].rake_score == 1.0


def test_ks_drift_identical_vs_shifted(spark, tmp_path):
    """Identical distributions -> KS ~ 0, p ~ 2 (clamped tail form);
    disjoint distributions -> KS = 1, p ~ 0."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def lake(vals_a, vals_b, d):
        rows = []
        eid = 0
        for v in vals_a:
            rows.append((eid, t0, eid, "view", float(v), "{}")); eid += 1
        for v in vals_b:
            rows.append((eid, t0, eid, "purchase", float(v), "{}")); eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(str(d / "events.parquet"))
        return str(d)

    same = lake(range(100), range(100), tmp_path / "same")
    r = QUERIES["q_ks_drift"](spark, same).collect()[0]
    assert r.n_view == 100 and r.n_purchase == 100
    assert r.ks_stat == 0.0

    disj = lake(range(100), range(1000, 1100), tmp_path / "disj")
    r = QUERIES["q_ks_drift"](spark, disj).collect()[0]
    assert r.ks_stat == 1.0
    assert r.p_approx < 1e-4


def test_zipf_fit_exact_power_law(spark, tmp_path):
    """A corpus whose token counts are exactly n_r = 1024 / r for
    r = 1..8 must fit slope -1 with R^2 = 1."""
    toks = []
    for r in range(1, 9):
        toks.extend([f"tok{r:02d}"] * (1024 // r))
    text = " ".join(toks)
    d = tmp_path / "zipf"
    spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    r = QUERIES["q_zipf_fit"](spark, str(d)).collect()[0]
    assert r.n_ranks == 8
    # 1024/r is integer-truncated for r in {3,5,6,7}; slope still ~ -1
    assert abs(r.zipf_slope + 1.0) < 0.02
    assert r.r_squared > 0.999


def test_ngram_novelty_duplicate_scores_zero(spark, tmp_path):
    """doc 0 is all-novel (1.0); doc 1, its exact duplicate, contributes
    nothing new (0.0); doc 2 is disjoint and all-novel."""
    rows = [
        (0, "alpha beta gamma delta epsilon", "en", "s", 30),
        (1, "alpha beta gamma delta epsilon", "en", "s", 30),
        (2, "zeta eta theta iota kappa", "en", "s", 25),
    ]
    d = tmp_path / "nov"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r.doc_id: r for r in QUERIES["q_ngram_novelty"](spark, str(d)).collect()}
    assert out[0].novelty == 1.0 and out[0].n_grams == 3
    assert out[1].novelty == 0.0 and out[1].n_novel == 0
    assert out[2].novelty == 1.0


def test_embed_outliers_flags_the_far_vector(spark, tmp_path):
    """A tight cluster of 5 plus one distant vector: the distant one
    must carry the max z-score; cluster members sit below it."""
    rows = [(i, [0.0] * 63 + [float(i) * 0.01], 1) for i in range(5)]
    rows.append((99, [10.0] * 64, 1))
    d = tmp_path / "out"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    out = {r.vec_id: r for r in QUERIES["q_embed_outliers"](spark, str(d)).collect()}
    assert len(out) == 6
    far = out[99]
    assert far.z == max(r.z for r in out.values())
    # centroid sits 1/6 of the way toward the outlier, so the cluster
    # members land at ~d/5 of the outlier's distance — assert 4x margin
    assert far.dist > max(out[i].dist for i in range(5)) * 4


def test_kcore_peels_pendant_keeps_clique(spark, tmp_path):
    """Planted graph: a 4-clique (every pair co-purchased in 2 orders)
    plus a pendant node hanging off it. The 3-core is exactly the
    clique; the pendant (degree 1) peels in round one."""
    rows = []
    ok = 0
    clique = [1, 2, 3, 4]
    pairs = [(a, b) for a in clique for b in clique if a < b] + [(1, 5)]
    for a, b in pairs:
        for _ in range(2):  # support >= 2 threshold
            rows.append((ok, a))
            rows.append((ok, b))
            ok += 1
    d = tmp_path / "kcore"
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(d / "lineitem.parquet"))
    r = QUERIES["q_kcore"](spark, str(d)).collect()[0]
    assert r.n_nodes == 5
    assert r.n_core_nodes == 4
    assert r.n_core_edges == 6
    assert r.converged


def test_unigram_lm_em_concentrates_on_repeated_piece(spark, tmp_path):
    """Corpus dominated by 'ababab': EM must put more mass on the
    multi-char piece 'ab' than on the rare word 'cd''s pieces, and
    the output must be a valid ranked log-distribution."""
    import math

    rows = [
        (0, "ababab ababab ababab ababab", "en", "s", 27),
        (1, "cd", "en", "s", 2),
    ]
    d = tmp_path / "ulm"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = QUERIES["q_unigram_lm"](spark, str(d)).collect()
    logps = {r.piece: r.logp for r in out}
    assert "ab" in logps and "cd" in logps
    assert logps["ab"] > logps["cd"]
    vals = [r.logp for r in out]
    assert vals == sorted(vals, reverse=True)
    # a (sub-)distribution: the emitted pieces' probs sum to <= 1
    assert sum(math.exp(v) for v in vals) <= 1.0 + 1e-6


@pytest.mark.slow  # >=5s
def test_srp_lsh_sign_invariance_and_buckets(spark, tmp_path):
    """SRP property: a vector and its positive scaling share a sketch
    (cosine-invariant); a vector and its negation differ in EVERY bit
    (all hyperplane signs flip); bucket sizes count sketch collisions."""
    v = [float((i * 37 % 13) - 6) for i in range(64)]
    rows = [
        (0, v, 1),
        (1, [x * 2.5 for x in v], 1),   # same direction
        (2, [-x for x in v], 1),        # antipode
    ]
    d = tmp_path / "srp"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    out = {r.vec_id: r for r in QUERIES["q_srp_lsh"](spark, str(d)).collect()}
    assert out[0].sig == out[1].sig
    assert out[0].n_bucket == 2 and out[2].n_bucket == 1
    assert out[0].sig ^ out[2].sig == (1 << 16) - 1  # every bit flips


def test_changepoint_finds_planted_shift(spark, tmp_path):
    """Series with a hard level shift: hours 0-9 at value 1, hours
    10-19 at value 100 — the argmax split must be at hour 9 (last
    left-segment hour) with means 1 and 100."""
    import datetime as dt

    rows = []
    for h in range(20):
        ts = dt.datetime(2024, 1, 1) + dt.timedelta(hours=h)
        rows.append((h, ts, h, "view", 1.0 if h < 10 else 100.0, "{}"))
    d = tmp_path / "cp"
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(d / "events.parquet"))
    r = QUERIES["q_changepoint"](spark, str(d)).collect()[0]
    assert r.n_left == 10 and r.n_right == 10
    assert r.mean_left == 1.0 and r.mean_right == 100.0
    import datetime as dt2

    assert r.split_us == int(dt.datetime(2024, 1, 1, 9).timestamp() * 1_000_000)


def test_degree_powerlaw_star_graph(spark, tmp_path):
    """A star K(1,6) built from 2-item orders: hub degree 6, six
    leaves of degree 1 -> d_min 1, d_max 6, alpha from the closed
    form 1 + n/sum(ln d)."""
    import math

    rows = []
    for i, leaf in enumerate(range(2, 8)):
        rows.append((i, 1))
        rows.append((i, leaf))
    d = tmp_path / "pl"
    spark.createDataFrame(rows, "l_orderkey long, l_partkey long").write.mode(
        "overwrite"
    ).parquet(str(d / "lineitem.parquet"))
    r = QUERIES["q_degree_powerlaw"](spark, str(d)).collect()[0]
    assert r.n_nodes == 7 and r.d_min == 1 and r.d_max == 6
    want = round(1.0 + 7 / math.log(6.0), 4)
    assert r.alpha_mle == want


def test_mutual_nn_requires_agreement(spark, tmp_path):
    """Three vectors in one block: v0 and v1 nearly identical (each
    other's top-1 -> mutual pair); v2 points elsewhere, its top-1 (v0)
    does NOT reciprocate, so v2 appears in no pair."""
    rows = [
        (0, [1.0, 0.0] + [0.0] * 62, 1),
        (1, [0.99, 0.14] + [0.0] * 62, 1),
        (2, [0.2, 0.98] + [0.0] * 62, 1),
    ]
    d = tmp_path / "mnn"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    pairs = [(r.vec_a, r.vec_b) for r in QUERIES["q_mutual_nn"](spark, str(d)).collect()]
    assert pairs == [(0, 1)]


def test_mutual_info_independent_vs_dependent(spark, tmp_path):
    """Perfectly dependent columns (source == lang) give NMI = 1;
    a perfectly balanced independent layout gives MI = 0."""
    dep = [(i, "t", ["en", "fr"][i % 2], ["en", "fr"][i % 2], 1) for i in range(40)]
    ind = [
        (i, "t", ["en", "fr"][i % 2], ["s1", "s2"][(i // 2) % 2], 1)
        for i in range(40)
    ]
    for rows, want_nmi in ((dep, 1.0), (ind, 0.0)):
        d = tmp_path / f"mi{want_nmi}"
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
        r = QUERIES["q_mutual_info"](spark, str(d)).collect()[0]
        assert r.n_docs == 40
        assert abs(r.nmi - want_nmi) < 1e-9, r


def test_winnowing_pairs_share_all_prints(spark, tmp_path):
    """Two identical docs share every selected fingerprint; a disjoint
    doc pairs with neither; the guarantee: identical docs' n_shared
    equals their own print count (window-min selection is content-
    deterministic, position-independent across copies)."""
    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    other = "x1 x2 x3 x4 x5 x6 x7 x8 x9 x10 x11 x12"
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),
        (2, other, "en", "s", len(other)),
    ]
    d = tmp_path / "win"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {(r.doc_a, r.doc_b): r.n_shared for r in QUERIES["q_winnowing"](spark, str(d)).collect()}
    assert set(out) == {(0, 1)}
    # selection keeps a strict subset of the 10 shingles (w=4 windows)
    assert 1 <= out[(0, 1)] <= 10


def test_srp_recall_perfect_when_bucket_holds_truth(spark, tmp_path):
    """One tight direction cluster: every vector shares the query's
    SRP bucket, so the bucketed search IS the exact search and
    recall@5 must be 1.0 for every query."""
    base = [float((i * 37 % 13) - 6) for i in range(64)]
    rows = []
    for i in range(12):
        rows.append((i, [x * (1.0 + 0.001 * i) for x in base], 1))
    d = tmp_path / "rec"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    out = QUERIES["q_srp_recall"](spark, str(d)).collect()
    assert len(out) == 10
    for r in out:
        assert r.recall == 1.0, r
        assert r.n_candidates == 11


def test_winnowing_collapse_matches_uncollapsed_oracle(spark, tmp_path):
    """The dedup-collapse rework (prints on representatives, pair-class
    expansion) must be pair-for-pair identical to the uncollapsed
    shared-print join the oracle replays. Stress exactly what the
    collapse changed: a 30-replica group (exercising the 22-smallest-
    member expansion cap: top-20 is doc 0 against docs 1..20), a
    3-replica group overlapping it (cross-group classes), a partially
    overlapping singleton, and a disjoint doc (no class at all)."""
    import duckdb

    from pcap_to_parquet_spark.registry import ORACLES

    big = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    mid = "w5 w6 w7 w8 w9 w10 x1 x2 x3 x4"
    part = "w1 w2 w3 w4 w5 y1 y2 y3"
    rows = [(i, big, "en", "s", len(big)) for i in range(30)]
    rows += [(100 + i, mid, "en", "s", len(mid)) for i in range(3)]
    rows.append((200, part, "en", "s", len(part)))
    rows.append((300, "z1 z2 z3 z4 z5 z6 z7", "en", "s", 20))
    d = tmp_path / "wc"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = [
        (r.doc_a, r.doc_b, r.n_shared)
        for r in QUERIES["q_winnowing"](spark, str(d)).collect()
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    want = [tuple(r) for r in con.sql(ORACLES["q_winnowing"]).fetchall()]
    assert got == want
    assert len(got) == 20
    # the 30-replica group's pairs dominate: doc 0 against docs 1..20
    assert got[0][:2] == (0, 1) and all(a == 0 for a, _, _ in got)


def test_winnowing_cross_group_classes_reach_top20(spark, tmp_path):
    """Complement to the collapse-parity test above, whose 30-replica
    group fills the whole top-20 from ONE within-group class (so its
    cross-group expansion path never emits a row). Here the replica
    groups only cover 18 pairs, forcing the threshold down into the
    cross-group classes — a bug in cross expansion (the ga != gb
    dedup branch, least/greatest canonicalization, ns attachment)
    fails THIS test."""
    import duckdb

    from pcap_to_parquet_spark.registry import ORACLES

    big = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    mid = "w5 w6 w7 w8 w9 w10 x1 x2 x3 x4"
    rows = [(i, big, "en", "s", len(big)) for i in range(6)]  # 15 pairs
    rows += [(100 + i, mid, "en", "s", len(mid)) for i in range(3)]  # 3
    d = tmp_path / "wx"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    got = [
        (r.doc_a, r.doc_b, r.n_shared)
        for r in QUERIES["q_winnowing"](spark, str(d)).collect()
    ]
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS "
        f"SELECT * FROM '{d}/documents.parquet/*.parquet'"
    )
    want = [tuple(r) for r in con.sql(ORACLES["q_winnowing"]).fetchall()]
    assert got == want
    cross = [(a, b) for a, b, _ in got if a < 100 <= b]
    assert cross, "top-20 must contain cross-group pairs"


def test_winnowing_rep_join_stays_group_bounded(spark, tmp_path):
    """Regression contract for the r10 quadratic (judge item): the
    shared-print self-join must run on one row per DISTINCT TEXT GROUP,
    never one per document. Before the dedup-collapse rework the print
    frame was member-level, so planted duplication multiplicity M blew
    the join input up M× per side (M² per shared print — ~2 B join rows
    under the 100-replica plant at 100×). Plant M=40 replicas of each
    of 3 texts and assert the collapse invariant at count level: the
    checkpointed print frame (what the join explodes) carries exactly
    one row per group, independent of M, while membership still sees
    every doc."""
    from pcap_to_parquet_spark.operators.llm import _winnow_collapse

    texts = [
        "w1 w2 w3 w4 w5 w6 w7 w8",
        "w5 w6 w7 w8 x1 x2 x3 x4",
        "z1 z2 z3 z4 z5 z6 z7 z8",
    ]
    m = 40
    rows = [
        (t_idx * 1000 + i, t, "en", "s", len(t))
        for t_idx, t in enumerate(texts)
        for i in range(m)
    ]
    d = tmp_path / "wq"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    docs = spark.read.parquet(str(d / "documents.parquet"))
    members, sizes, pr = _winnow_collapse(docs)
    # membership is doc-level ...
    assert members.count() == len(texts) * m
    # ... but the join-side print frame is GROUP-level: M-invariant.
    assert pr.count() == len(texts)
    assert sizes.count() == len(texts)
    # and the self-join input (exploded prints) is group-bounded too:
    # <= groups × prints-per-text, nowhere near docs × prints.
    from pyspark.sql import functions as F

    n_join_rows = pr.select(F.explode("prints")).count()
    per_text_prints = pr.agg(F.max(F.size("prints"))).first()[0]
    assert n_join_rows <= len(texts) * per_text_prints
    # end-to-end output unchanged by multiplicity: every pair class
    # resolves through the 22-smallest-member cap, top pair is the
    # first group's two smallest doc_ids
    top = QUERIES["q_winnowing"](spark, str(d)).first()
    assert (top.doc_a, top.doc_b) == (0, 1)


def test_winnowing_coverage_guarantee():
    """Pure-math property behind q_winnowing's selection rule: with
    selected = {argmin of each length-w window under (hash, rightmost)
    order}, EVERY length-w window contains a selected position — the
    MOSS detection guarantee. Randomized including adversarial
    monotone runs (where a naive 'min of the window starting here'
    rule selects nothing until the tail)."""
    import random

    w = 4
    rng = random.Random(11)
    cases = [[rng.randint(0, 50) for _ in range(30)] for _ in range(300)]
    cases.append(list(range(30, 0, -1)))  # strictly decreasing run
    cases.append(list(range(30)))  # strictly increasing
    cases.append([7] * 30)  # all ties -> rightmost argmin per window
    for h in cases:
        n = len(h)
        keys = [(h[i] << 16) + (65535 - i) for i in range(n)]
        selected = {
            max(range(p, min(p + w, n)), key=lambda i: -keys[i])
            for p in range(n)
        }
        for p in range(n - w + 1):
            assert any(q in selected for q in range(p, p + w)), (h, p)


def test_coreset_farthest_first_on_line(spark, tmp_path):
    """Points on a line at 0, 1, 10, 100: start at min vec_id (the
    point at 0), then greedily 100, 10, 1; radii are the maximin
    distances before each pick and must decrease."""
    pts = [(0, 0.0), (1, 1.0), (2, 10.0), (3, 100.0)]
    rows = [(vid, [x] + [0.0] * 63, 1) for vid, x in pts]
    d = tmp_path / "core"
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(d / "embeddings.parquet"))
    out = QUERIES["q_coreset"](spark, str(d)).collect()
    assert [(r.pick, r.vec_id) for r in out[:4]] == [
        (1, 0), (2, 3), (3, 2), (4, 1)
    ]
    assert out[0].radius is None
    assert out[1].radius == 100.0   # farthest from {0}
    assert out[2].radius == 10.0    # farthest from {0, 100}
    assert out[3].radius == 1.0
    radii = [r.radius for r in out[1:] if r.radius is not None]
    assert radii == sorted(radii, reverse=True)


def test_span_mask_census_matches_pure_python(spark, tmp_path):
    """Replay the seeded mask plan in plain Python for a small doc and
    pin every census column — starts, lengths, merge, run count."""
    import hashlib

    text = " ".join(f"tok{i}" for i in range(60))
    d = tmp_path / "mask"
    spark.createDataFrame(
        [(7, text, "en", "s", len(text))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    r = QUERIES["q_span_mask"](spark, str(d)).collect()[0]

    n = 60
    masked = set()
    for p in range(1, n + 1):
        h = int(hashlib.md5(f"t5mask:7:{p}".encode()).hexdigest()[:6], 16)
        if h < int(0.08 * (1 << 24)):
            ln = 2 + h % 3
            masked.update(q for q in range(p, p + ln) if q <= n)
    spans = sum(1 for p in masked if p - 1 not in masked)
    assert r.n_tokens == n
    assert r.n_masked == len(masked)
    assert r.n_spans == spans
    assert r.mask_checksum == sum(p * p for p in masked) % 1_000_000_007
    assert r.mask_ratio == round(len(masked) / n, 4)


def test_dp_counts_noise_replay(spark, tmp_path):
    """Pure-Python replay of the seeded inverse-CDF Laplace draw: the
    released noisy count must equal count + the replayed noise, and
    differ from the raw count (noise is almost surely nonzero)."""
    import hashlib
    import math

    rows = [(i, "t", "en", "src_a" if i < 30 else "src_b", 1) for i in range(50)]
    d = tmp_path / "dp"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r.source: r for r in QUERIES["q_dp_counts"](spark, str(d)).collect()}
    for src, n in (("src_a", 30), ("src_b", 20)):
        h = int(hashlib.md5(f"dp1:{src}".encode()).hexdigest()[:6], 16)
        v = (h + 0.5) / 16777216.0 - 0.5
        want = round(n - (1.0) * (-1 if v < 0 else 1) * math.log(1 - 2 * abs(v)), 4)
        assert out[src].n_raw == n
        assert out[src].n_noisy == want
        assert out[src].n_noisy != n


def test_auc_eval_separable_and_random(spark, tmp_path):
    """Perfectly separable scores -> AUC 1; identical scores for both
    classes -> AUC 0.5 (all mass in the tie term)."""
    sep = [(i, "aaaa" if i < 20 else "zzzz", "en" if i < 20 else "xx", "s", 4)
           for i in range(40)]
    tie = [(i, "aaaa", "en" if i < 20 else "xx", "s", 4) for i in range(40)]
    for rows, want in ((sep, 1.0), (tie, 0.5)):
        d = tmp_path / f"auc{want}"
        spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string, n_chars long"
        ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
        r = QUERIES["q_auc_eval"](spark, str(d)).collect()[0]
        assert r.n_pos == 20 and r.n_neg == 20
        assert r.auc == want, r


def test_lsh_recall_catches_identical_docs(spark, tmp_path):
    """Two identical docs (Jaccard 1.0) are a true pair AND a banding
    candidate (identical signatures collide in every band) -> recall
    1.0; a disjoint doc adds neither."""
    base = " ".join(f"w{i}" for i in range(30))
    other = " ".join(f"x{i}" for i in range(30))
    rows = [
        (0, base, "en", "s", len(base)),
        (1, base, "en", "s", len(base)),
        (2, other, "en", "s", len(other)),
    ]
    d = tmp_path / "lshr"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    r = QUERIES["q_lsh_recall"](spark, str(d)).collect()[0]
    assert r.n_true_pairs == 1
    assert r.n_caught == 1
    assert r.recall == 1.0


def test_psi_drift_identical_vs_shifted(spark, tmp_path):
    """Identical distributions -> PSI ~ 0 (exactly 0 with symmetric
    smoothing); disjoint distributions -> PSI large (> 1)."""
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)

    def lake(vals_a, vals_b, d):
        rows = []
        eid = 0
        for v in vals_a:
            rows.append((eid, t0, eid, "view", float(v), "{}")); eid += 1
        for v in vals_b:
            rows.append((eid, t0, eid, "purchase", float(v), "{}")); eid += 1
        spark.createDataFrame(
            rows,
            "event_id long, ts timestamp, user_id long, event_type string, "
            "value double, props string",
        ).write.mode("overwrite").parquet(str(d / "events.parquet"))
        return str(d)

    same = lake(range(100), range(100), tmp_path / "same")
    r = QUERIES["q_psi_drift"](spark, same).collect()[0]
    assert r.n_view == 100 and r.n_purchase == 100 and r.bins == 10
    assert r.psi == 0.0

    disj = lake(range(100), range(900, 1000), tmp_path / "disj")
    r = QUERIES["q_psi_drift"](spark, disj).collect()[0]
    assert r.psi > 1.0


def test_embed_neardup_and_semdedup_collapse_parity(spark, tmp_path):
    """Duplication-multiplicity parity: plant 4 distinct vectors x 3
    exact copies each and compare BOTH collapsed ops against a numpy
    brute force over all 12 vectors — the dedup-before-pairgen
    expansion must reproduce the raw pairwise answer exactly."""
    import itertools

    import numpy as np

    rng = [
        [1.0, 0.0, 0.0, 0.0],
        [0.9, 0.1, 0.0, 0.0],   # cos vs v0 ~ 0.993 -> dominated
        [0.0, 1.0, 0.0, 0.0],   # orthogonal to v0
        [0.0, 0.0, 1.0, 1.0],
    ]
    rows = []
    vid = 0
    for copy in range(3):
        for v in rng:
            rows.append((vid, [float(x) for x in v], 7))
            vid += 1
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    x = np.array([r[1] for r in sorted(rows)], dtype=np.float64)
    ids = np.array([r[0] for r in sorted(rows)])
    norms = np.linalg.norm(x, axis=1)
    cos = (x @ x.T) / np.outer(norms, norms)

    # brute-force expected pairs (> 0.45) and semdedup stats
    exp_pairs = {
        (int(ids[i]), int(ids[j])): round(float(cos[i, j]), 4)
        for i, j in itertools.combinations(range(len(ids)), 2)
        if cos[i, j] > 0.45
    }
    got_pairs = {
        (r.vec_a, r.vec_b): r.cos_sim
        for r in QUERIES["q_embed_neardup"](spark, str(tmp_path)).collect()
    }
    assert got_pairs == exp_pairs

    exp_nd = {
        int(ids[j]): int((cos[:j, j] >= 0.45).sum()) for j in range(len(ids))
    }
    exp_mx = {
        int(ids[j]): (None if j == 0 else round(float(cos[:j, j].max()), 4))
        for j in range(len(ids))
    }
    out = {r.vec_id: r for r in QUERIES["q_semdedup"](spark, str(tmp_path)).collect()}
    assert set(out) == set(exp_nd)
    for v, r in out.items():
        assert r.n_dominators == exp_nd[v], (v, r)
        assert r.kept == (exp_nd[v] == 0), v
        assert r.max_lower_sim == exp_mx[v], (v, r.max_lower_sim, exp_mx[v])
