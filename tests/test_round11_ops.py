"""Round-11 operator tests: planted-data semantics pins for the
tokenizer fertility census and the dedup threshold-sensitivity curve.

Oracle parity is the driver's job (tools/check_oracle.py replays it);
these pin what the operators MEAN — that fertility replays the trained
BPE chain (hand-traced merges on a two-language corpus), that the
census agrees with q_bpe_encode's per-doc counts, and that the
threshold curve is monotone, consistent with q_lsh_recall's truth at
the shared tau, and exact on planted duplicates.
"""

from __future__ import annotations

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pcap_to_parquet_spark.operators.llm import _LSHR_TAU  # noqa: E402
from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402
import pytest
from tests.conftest import SF0001, _write  # noqa: E402

# ---------------------------------------------------------------------------
# q_token_fertility


def test_token_fertility_hand_traced_merges(spark, tmp_path):
    """Corpus 'xy xy xy' (en) + 'zw zw' (fr): BPE merges (x,y) then
    (z,w), after which both words are single tokens — fertility 1.0 in
    both languages, chars_per_token exactly the word length (2.0)."""
    rows = [(0, "xy xy xy", "en", "A", 8), (1, "zw zw", "fr", "A", 5)]
    _write(spark, tmp_path, rows)
    out = {r.lang: r for r in QUERIES["q_token_fertility"](spark, str(tmp_path)).collect()}
    assert set(out) == {"en", "fr"}
    assert (out["en"].n_words, out["en"].n_tokens, out["en"].n_chars) == (3, 3, 6)
    assert (out["fr"].n_words, out["fr"].n_tokens, out["fr"].n_chars) == (2, 2, 4)
    assert out["en"].tokens_per_word == 1.0
    assert out["en"].chars_per_token == 2.0
    assert out["fr"].tokens_per_word == 1.0


def test_token_fertility_unmerged_words_pay_per_char(spark, tmp_path):
    """A language whose words never win a merge round stays at
    character-level segmentation: the 10 merge rounds are spent on the
    dominant language's pairs, so the rare language's fertility equals
    its word length — the imbalance this census exists to expose."""
    # en: one 2-char word repeated 50x -> merge (a,b) wins round 0 and
    # every later round has no pair anywhere (ab is 1 symbol; rare word
    # pairs all count 1 and lose lexicographic... not guaranteed) — so
    # give en ENOUGH distinct dominant pairs to absorb all 10 rounds.
    en_words = ["ab" * 6]  # 12 chars: 11 adjacent pairs, merges chain here
    en_text = " ".join(en_words * 50)
    fr_text = "qqqq"  # (q,q) count 3 per doc * 1 doc — always loses to en
    rows = [
        (0, en_text, "en", "A", len(en_text)),
        (1, fr_text, "fr", "A", len(fr_text)),
    ]
    _write(spark, tmp_path, rows)
    out = {r.lang: r for r in QUERIES["q_token_fertility"](spark, str(tmp_path)).collect()}
    # en monopolizes the merge table; fr "qqqq" may still share merged
    # symbols only if a merge was (q,q) — assert the ORDERING property
    # rather than exact counts: dominated language has higher fertility.
    assert out["fr"].tokens_per_word >= out["en"].tokens_per_word
    assert out["fr"].chars_per_token <= out["en"].chars_per_token


@pytest.mark.slow  # >=5s
def test_token_fertility_agrees_with_bpe_encode(spark, tmp_path):
    """The census is q_bpe_encode aggregated by language: per-lang
    n_words / n_tokens must equal the per-doc encode counts summed
    through a doc -> lang map, on a corpus rich enough to use all 10
    merge rounds."""
    texts = {
        0: ("the cat sat on the mat the cat sat again", "en"),
        1: ("the dog ran off the mat the dog ran fast", "en"),
        2: ("le chat dort sur le tapis le chat dort", "fr"),
        3: ("der hund lief schnell der hund lief weg", "de"),
    }
    rows = [(i, t, lang, "A", len(t)) for i, (t, lang) in texts.items()]
    _write(spark, tmp_path, rows)
    fert = {r.lang: r for r in QUERIES["q_token_fertility"](spark, str(tmp_path)).collect()}
    enc = QUERIES["q_bpe_encode"](spark, str(tmp_path)).collect()
    agg: dict[str, list[int]] = {}
    for r in enc:
        lang = texts[r.doc_id][1]
        w, s = agg.setdefault(lang, [0, 0])
        agg[lang] = [w + r.n_words, s + r.n_symbols]
    assert set(agg) == set(fert)
    for lang, (w, s) in agg.items():
        assert (fert[lang].n_words, fert[lang].n_tokens) == (w, s), lang
        assert fert[lang].tokens_per_word == round(s / w, 6)


# ---------------------------------------------------------------------------
# q_dedup_threshold_curve


@pytest.mark.slow  # >=5s
def test_threshold_curve_monotone_and_consistent_with_recall(spark):
    """On real testdata: 9 grid rows; pair and removal counts are
    non-increasing in tau; removal_frac is the documented ratio; and
    the point at tau == the LSH audits' threshold reproduces
    q_lsh_recall's n_true_pairs exactly (shared jp frame)."""
    rows = sorted(
        QUERIES["q_dedup_threshold_curve"](spark, SF0001).collect(),
        key=lambda r: r.tau,
    )
    assert [round(r.tau, 1) for r in rows] == [round(0.1 * i, 1) for i in range(1, 10)]
    for a, b in zip(rows, rows[1:]):
        assert a.n_dup_pairs >= b.n_dup_pairs
        assert a.n_docs_removed >= b.n_docs_removed
    for r in rows:
        assert 0 <= r.n_docs_removed <= r.n_slice_docs
        assert r.removal_frac == round(r.n_docs_removed / r.n_slice_docs, 6)
    at_tau = next(r for r in rows if abs(r.tau - _LSHR_TAU) < 1e-9)
    recall = QUERIES["q_lsh_recall"](spark, SF0001).collect()[0]
    assert at_tau.n_dup_pairs == recall.n_true_pairs


# ---------------------------------------------------------------------------
# q_filter_attribution


def test_filter_attribution_hand_built_overlap(spark, tmp_path):
    """Four docs engineered against the committed gates: doc 0 fails
    ONLY length (short, dense, stopworded); doc 1 fails length AND
    low_stopword (so neither is unique on it); doc 2 passes everything;
    doc 3 fails only high_punct. Pins the unique-attribution algebra
    and the shadowing distinction."""
    clean = ("the quick fox of the barn and the owl went to the mill "
             * 12).strip()  # ~55 words, ~670 chars: dense, stopworded
    rows = [
        (0, "the cat sat on a mat of the hill", "en", "A", 33),  # short only
        (1, "zz yy xx ww vv uu tt ss", "en", "A", 23),  # short + no stopwords
        (2, clean, "en", "A", len(clean)),  # passes all
        (3, clean + " " + "!@#$%^&*()" * 20, "en", "A",
         len(clean) + 1 + 200),  # punct-heavy, long enough, stopworded
    ]
    _write(spark, tmp_path, rows)
    out = {r.rule: r for r in QUERIES["q_filter_attribution"](spark, str(tmp_path)).collect()}
    assert set(out) == {"length", "low_density", "high_punct", "low_stopword"}
    assert all(r.n_docs == 4 and r.n_pass_all == 1 for r in out.values())
    assert (out["length"].n_failing, out["length"].n_unique_failing) == (2, 1)
    assert (out["low_stopword"].n_failing, out["low_stopword"].n_unique_failing) == (1, 0)
    assert out["high_punct"].n_failing == 1
    assert out["high_punct"].n_unique_failing == 1
    assert out["length"].fail_share == 0.5


def test_filter_attribution_testdata_invariants(spark):
    """On real testdata: unique <= failing, pass_all + union-failing
    accounting is consistent (sum of uniques <= n_docs - n_pass_all <=
    sum of failings), and the dead high_punct rule fires zero times on
    the punctuation-free synthetic corpus."""
    rows = QUERIES["q_filter_attribution"](spark, SF0001).collect()
    assert len(rows) == 4
    n_docs = rows[0].n_docs
    n_pass = rows[0].n_pass_all
    for r in rows:
        assert 0 <= r.n_unique_failing <= r.n_failing <= n_docs
        assert r.n_docs == n_docs and r.n_pass_all == n_pass
    n_fail_any = n_docs - n_pass
    assert sum(r.n_unique_failing for r in rows) <= n_fail_any
    assert n_fail_any <= sum(r.n_failing for r in rows)
    assert {r.rule: r.n_failing for r in rows}["high_punct"] == 0


# ---------------------------------------------------------------------------
# q_vocab_coverage


def test_vocab_coverage_hand_built_curve(spark, tmp_path):
    """Corpus with word counts a:5 b:3 c:1 d:1 (10 tokens, vocab 4):
    every grid point K >= 100 exceeds the vocabulary, so the whole
    curve saturates at coverage 1.0 with n_covered == total_toks."""
    text = "a a a a a b b b c d"
    rows = [(0, text, "en", "A", len(text))]
    _write(spark, tmp_path, rows)
    out = QUERIES["q_vocab_coverage"](spark, str(tmp_path)).collect()
    assert [r.top_k for r in out] == [100, 300, 1000, 3000, 10000]
    for r in out:
        assert (r.n_covered, r.n_vocab, r.total_toks) == (10, 4, 10)
        assert r.coverage == 1.0


def test_vocab_coverage_monotone_and_bounded(spark):
    """On real testdata: coverage is non-decreasing in K, bounded by
    1.0, and n_covered at the largest K equals total_toks whenever the
    vocabulary fits under it."""
    rows = sorted(
        QUERIES["q_vocab_coverage"](spark, SF0001).collect(), key=lambda r: r.top_k
    )
    assert len(rows) == 5
    for a, b in zip(rows, rows[1:]):
        assert a.n_covered <= b.n_covered
        assert a.coverage <= b.coverage
    for r in rows:
        assert 0 < r.coverage <= 1.0
        assert r.n_covered <= r.total_toks
        if r.top_k >= r.n_vocab:
            assert r.n_covered == r.total_toks and r.coverage == 1.0


# ---------------------------------------------------------------------------
# q_split_balance


def test_split_balance_replays_gate_and_algebra(spark, tmp_path):
    """20 docs over 2 languages: cell counts must equal a Python replay
    of the md5 gate, shares must be the documented ratios, and abs_dev
    must be |share_in_split - global_share| recomputed from the row."""
    import hashlib

    langs = ["en" if i % 3 else "fr" for i in range(20)]
    rows = [(i, f"doc {i} text", langs[i], "A", 10) for i in range(20)]
    _write(spark, tmp_path, rows)
    expected: dict[tuple[str, str], int] = {}
    totals: dict[str, int] = {}
    for i, lang in enumerate(langs):
        gate = int(hashlib.md5(str(i).encode()).hexdigest()[:4], 16) % 100
        split = "train" if gate < 80 else ("val" if gate < 90 else "test")
        expected[(split, lang)] = expected.get((split, lang), 0) + 1
        totals[split] = totals.get(split, 0) + 1
    out = QUERIES["q_split_balance"](spark, str(tmp_path)).collect()
    assert {(r.split, r.lang): r.n_docs for r in out} == expected
    for r in out:
        assert r.share_in_split == round(r.n_docs / totals[r.split], 6)
        assert r.global_share == round(langs.count(r.lang) / 20, 6)
        assert abs(r.abs_dev - abs(r.share_in_split - r.global_share)) < 2e-6


def test_split_balance_testdata_invariants(spark):
    """On real testdata: within every split the present-cell shares sum
    to 1 (every doc has a language), global_share is identical across a
    language's rows, and every deviation is bounded by 1."""
    rows = QUERIES["q_split_balance"](spark, SF0001).collect()
    by_split: dict[str, list] = {}
    by_lang: dict[str, set] = {}
    for r in rows:
        by_split.setdefault(r.split, []).append(r)
        by_lang.setdefault(r.lang, set()).add(r.global_share)
        assert 0.0 <= r.abs_dev <= 1.0
    assert set(by_split) <= {"train", "val", "test"}
    for split, cells in by_split.items():
        assert abs(sum(c.share_in_split for c in cells) - 1.0) < 1e-4, split
    for lang, shares in by_lang.items():
        assert len(shares) == 1, lang


# ---------------------------------------------------------------------------
# q_dedup_bias


def test_dedup_bias_planted_duplicate_language(spark, tmp_path):
    """en has one exact duplicate pair among 3 docs, fr has none among
    3: the census must charge en exactly one removal (keep-smallest-id)
    at relative risk 2.0 (1/3 over the global 1/6), and fr zero."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, dup, "en", "A", len(dup)),
        (1, dup, "en", "A", len(dup)),
        (2, "one two three four five six seven eight", "en", "A", 40),
        (3, "un deux trois quatre cinq six sept huit", "fr", "A", 40),
        (4, "rouge vert bleu jaune noir blanc gris rose", "fr", "A", 42),
        (5, "nord sud est ouest haut bas gauche droite", "fr", "A", 41),
    ]
    _write(spark, tmp_path, rows)
    out = {r.lang: r for r in QUERIES["q_dedup_bias"](spark, str(tmp_path)).collect()}
    assert set(out) == {"en", "fr"}
    assert (out["en"].n_docs, out["en"].n_removed) == (3, 1)
    assert (out["fr"].n_docs, out["fr"].n_removed) == (3, 0)
    assert out["en"].removal_frac == round(1 / 3, 6)
    assert out["en"].rel_risk == 2.0
    assert out["fr"].rel_risk == 0.0


@pytest.mark.slow  # >=5s
def test_dedup_bias_consistent_with_minhash_exact(spark):
    """The census is q_minhash_exact's pair table re-aggregated: total
    removals must equal the distinct larger-member count of that op's
    output, and n_docs must sum to the corpus size."""
    bias = QUERIES["q_dedup_bias"](spark, SF0001).collect()
    pairs = QUERIES["q_minhash_exact"](spark, SF0001).collect()
    assert sum(r.n_removed for r in bias) == len({p.doc_b for p in pairs})
    n_docs = spark.read.parquet(f"{SF0001}/documents.parquet").count()
    assert sum(r.n_docs for r in bias) == n_docs


# ---------------------------------------------------------------------------
# q_lsh_planner


def test_lsh_planner_planted_certain_pair(spark, tmp_path):
    """One exact-duplicate pair (Jaccard 1.0) and two unrelated docs:
    p(1.0) = 1 for EVERY geometry, so each of the 5 rows expects
    exactly 1.0 candidates from 1 observed pair."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, dup, "en", "A", len(dup)),
        (1, dup, "en", "A", len(dup)),
        (2, "one two three four five six seven eight", "en", "A", 40),
        (3, "un deux trois quatre cinq six sept huit", "fr", "A", 40),
    ]
    _write(spark, tmp_path, rows)
    out = QUERIES["q_lsh_planner"](spark, str(tmp_path)).collect()
    assert len(out) == 5
    for r in out:
        assert r.n_pairs == 1
        assert r.exp_candidates == 1.0


def test_lsh_planner_scurve_and_literals(spark):
    """On real testdata: 5 rows spending the same 128-perm budget;
    tau50 rises and the catch probability at τ=0.7 falls as rows per
    band grow (the S-curve steepens rightward); expected candidate
    mass is non-increasing; and the closed-form columns match the
    Python formulas they were generated from."""
    rows = sorted(
        QUERIES["q_lsh_planner"](spark, SF0001).collect(),
        key=lambda r: r.rows_per_band,
    )
    assert [(r.bands, r.rows_per_band) for r in rows] == [
        (64, 2), (32, 4), (16, 8), (8, 16), (4, 32)
    ]
    assert len({r.n_pairs for r in rows}) == 1
    for a, b in zip(rows, rows[1:]):
        assert a.tau50 < b.tau50
        assert a.p_catch_tau07 >= b.p_catch_tau07
        assert a.exp_candidates >= b.exp_candidates
    for r in rows:
        assert r.tau50 == round(
            (1.0 - 0.5 ** (1.0 / r.bands)) ** (1.0 / r.rows_per_band), 6
        )
        assert r.p_catch_tau07 == round(
            1.0 - (1.0 - 0.7**r.rows_per_band) ** r.bands, 6
        )


# ---------------------------------------------------------------------------
# q_filter_dedup_overlap


@pytest.mark.slow  # >=5s
def test_filter_dedup_overlap_planted_interaction(spark, tmp_path):
    """Six docs: a GOOD duplicate pair (both pass quality), a BAD
    duplicate pair (both fail the length gate), one good and one bad
    singleton. The census must report 2 dup pairs, 1 surviving the
    gates (pair_reduction 0.5), and split the 2 removed docs into one
    already-caught (n_both) and one marginal (n_dup_only)."""
    good = ("the quick fox of the barn and the owl went to the mill "
            * 3).strip()  # ~165 chars, stopword-rich, punct-free
    bad = "zz yy xx"  # 8 chars: fails the length gate
    good2 = ("a tall ship of the north and the crew came to the bay "
             * 3).strip()
    rows = [
        (0, good, "en", "A", len(good)),
        (1, good, "en", "A", len(good)),
        (2, bad, "en", "A", len(bad)),
        (3, bad, "en", "A", len(bad)),
        (4, good2, "en", "A", len(good2)),
        (5, "qq ww ee", "en", "A", 8),
    ]
    _write(spark, tmp_path, rows)
    r = QUERIES["q_filter_dedup_overlap"](spark, str(tmp_path)).collect()[0]
    assert (r.n_docs, r.n_fail_quality) == (6, 3)
    assert (r.n_dup_removed, r.n_both, r.n_dup_only) == (2, 1, 1)
    assert (r.n_pairs, r.n_pairs_after_filter) == (2, 1)
    assert r.pair_reduction == 0.5


@pytest.mark.slow  # >=5s
def test_filter_dedup_overlap_consistent_with_siblings(spark):
    """The census re-aggregates frames its sibling ops already verify:
    n_dup_removed must equal q_dedup_bias's removal total, n_pairs the
    q_minhash_exact pair count, and n_fail_quality the complement of
    q_filter_attribution's pass-all count."""
    r = QUERIES["q_filter_dedup_overlap"](spark, SF0001).collect()[0]
    bias = QUERIES["q_dedup_bias"](spark, SF0001).collect()
    assert r.n_dup_removed == sum(b.n_removed for b in bias)
    assert r.n_pairs == len(QUERIES["q_minhash_exact"](spark, SF0001).collect())
    attr = QUERIES["q_filter_attribution"](spark, SF0001).collect()[0]
    assert r.n_fail_quality == attr.n_docs - attr.n_pass_all
    assert 0 <= r.n_both <= min(r.n_fail_quality, r.n_dup_removed)
    assert r.n_pairs_after_filter <= r.n_pairs


# ---------------------------------------------------------------------------
# q_context_fit


def test_context_fit_hand_built_grid(spark, tmp_path):
    """Docs of 10, 20 and 40 tokens: at window 16 two docs truncate and
    kept = 10+16+16 = 42 of 70 tokens (waste 0.4); at 32 one truncates
    (kept 62); from 64 up the whole corpus fits and waste is zero."""
    rows = [
        (i, " ".join(f"w{i}x{j}" for j in range(n)), "en", "A", 6 * n)
        for i, n in enumerate([10, 20, 40])
    ]
    _write(spark, tmp_path, rows)
    out = {r.window: r for r in QUERIES["q_context_fit"](spark, str(tmp_path)).collect()}
    assert sorted(out) == [16, 32, 64, 128, 256]
    assert (out[16].n_truncated, out[16].tokens_kept, out[16].total_toks) == (2, 42, 70)
    assert out[16].token_waste == 0.4
    assert out[16].trunc_share == round(2 / 3, 6)
    assert (out[32].n_truncated, out[32].tokens_kept) == (1, 62)
    for w in (64, 128, 256):
        assert (out[w].n_truncated, out[w].token_waste) == (0, 0.0)
        assert out[w].tokens_kept == 70


def test_context_fit_monotone_on_testdata(spark):
    """On real testdata: growing the window never truncates more docs,
    never keeps fewer tokens, never wastes more; kept is bounded by the
    total; and the synthetic corpus (<=128-token docs) fits fully from
    window 128 up."""
    rows = sorted(
        QUERIES["q_context_fit"](spark, SF0001).collect(), key=lambda r: r.window
    )
    assert [r.window for r in rows] == [16, 32, 64, 128, 256]
    for a, b in zip(rows, rows[1:]):
        assert a.n_truncated >= b.n_truncated
        assert a.tokens_kept <= b.tokens_kept
        assert a.token_waste >= b.token_waste
    for r in rows:
        assert 0 <= r.tokens_kept <= r.total_toks
    assert rows[-1].token_waste == 0.0 and rows[-1].n_truncated == 0


# ---------------------------------------------------------------------------
# q_cluster_size_census


def test_cluster_size_census_planted_shape(spark, tmp_path):
    """Two exact-duplicate pairs plus three singletons: the census must
    report 3 singleton clusters and 2 clusters of size 2 — and nothing
    larger."""
    dup1 = "alpha beta gamma delta epsilon zeta eta theta"
    dup2 = "one two three four five six seven eight nine"
    rows = [
        (0, dup1, "en", "A", len(dup1)),
        (1, dup1, "en", "A", len(dup1)),
        (2, dup2, "en", "A", len(dup2)),
        (3, dup2, "en", "A", len(dup2)),
        (4, "un deux trois quatre cinq six sept huit", "fr", "A", 40),
        (5, "rouge vert bleu jaune noir blanc gris rose", "fr", "A", 42),
        (6, "nord sud est ouest haut bas gauche droite", "fr", "A", 41),
    ]
    _write(spark, tmp_path, rows)
    out = {r.size_bucket: r for r in QUERIES["q_cluster_size_census"](spark, str(tmp_path)).collect()}
    assert set(out) == {"1", "2"}
    assert (out["1"].n_clusters, out["1"].n_docs, out["1"].max_size) == (3, 3, 1)
    assert (out["2"].n_clusters, out["2"].n_docs, out["2"].max_size) == (2, 4, 2)


def test_cluster_size_census_consistent_with_survivors(spark):
    """The census re-buckets q_dedup_clusters' labels: doc totals must
    cover the corpus, and the non-singleton buckets must agree with
    q_dedup_survivors' cluster count and member totals."""
    rows = QUERIES["q_cluster_size_census"](spark, SF0001).collect()
    n_docs = spark.read.parquet(f"{SF0001}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs
    surv = QUERIES["q_dedup_survivors"](spark, SF0001).collect()
    nontrivial = [r for r in rows if r.size_bucket != "1"]
    assert sum(r.n_clusters for r in nontrivial) == len(surv)
    assert sum(r.n_docs for r in nontrivial) == sum(s.n_members for s in surv)
    for r in rows:
        assert r.n_clusters <= r.n_docs


# ---------------------------------------------------------------------------
# q_dedup_source_census


def test_dedup_source_census_planted_mirror_vs_repost(spark, tmp_path):
    """Source A re-posts internally (one within pair), sources A and B
    mirror each other (one cross pair, charged to both): the census
    must split the pair counts by provenance and place each removal in
    the right source."""
    mirror = "alpha beta gamma delta epsilon zeta eta theta"
    repost = "one two three four five six seven eight nine"
    rows = [
        (0, mirror, "en", "A", len(mirror)),
        (1, mirror, "en", "B", len(mirror)),
        (2, repost, "en", "A", len(repost)),
        (3, repost, "en", "A", len(repost)),
        (4, "un deux trois quatre cinq six sept huit", "fr", "B", 40),
    ]
    _write(spark, tmp_path, rows)
    out = {r.source: r for r in QUERIES["q_dedup_source_census"](spark, str(tmp_path)).collect()}
    assert set(out) == {"A", "B"}
    a, b = out["A"], out["B"]
    assert (a.n_docs, a.n_removed, a.n_within_pairs, a.n_cross_pairs) == (3, 1, 1, 1)
    assert (b.n_docs, b.n_removed, b.n_within_pairs, b.n_cross_pairs) == (2, 1, 0, 1)
    assert a.removal_frac == round(1 / 3, 6)


@pytest.mark.slow  # >=5s
def test_dedup_source_census_pair_accounting(spark):
    """On real testdata: every verified pair is counted exactly once —
    within pairs once in their source, cross pairs once on each side —
    so sum(within) + sum(cross)/2 must equal q_minhash_exact's pair
    count, and removals must re-sum to q_dedup_bias's total."""
    rows = QUERIES["q_dedup_source_census"](spark, SF0001).collect()
    n_pairs = len(QUERIES["q_minhash_exact"](spark, SF0001).collect())
    s_within = sum(r.n_within_pairs for r in rows)
    s_cross = sum(r.n_cross_pairs for r in rows)
    assert s_cross % 2 == 0
    assert s_within + s_cross // 2 == n_pairs
    bias = QUERIES["q_dedup_bias"](spark, SF0001).collect()
    assert sum(r.n_removed for r in rows) == sum(b.n_removed for b in bias)
    n_docs = spark.read.parquet(f"{SF0001}/documents.parquet").count()
    assert sum(r.n_docs for r in rows) == n_docs


# ---------------------------------------------------------------------------
# q_stream_filter_attribution


def test_stream_filter_attribution_matches_batch(spark):
    """The ingest-path census must reproduce the batch census exactly:
    availableNow micro-batching folds the same associative sums, so
    every rule row is byte-identical to q_filter_attribution's."""
    batch = sorted(
        QUERIES["q_filter_attribution"](spark, SF0001).collect(),
        key=lambda r: r.rule,
    )
    stream = sorted(
        QUERIES["q_stream_filter_attribution"](spark, SF0001).collect(),
        key=lambda r: r.rule,
    )
    assert [r.asDict() for r in stream] == [r.asDict() for r in batch]


# ---------------------------------------------------------------------------
# q_minhash_perm_sensitivity


def test_perm_sensitivity_exact_pair_has_zero_error(spark, tmp_path):
    """An exact-duplicate pair has identical shingle sets, hence
    identical minima at EVERY prefix: est = 1.0 = j for all four
    budgets, so MAE, worst-case and bias are all exactly zero."""
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (0, dup, "en", "A", len(dup)),
        (1, dup, "en", "A", len(dup)),
        (2, "one two three four five six seven eight", "en", "A", 40),
    ]
    _write(spark, tmp_path, rows)
    out = QUERIES["q_minhash_perm_sensitivity"](spark, str(tmp_path)).collect()
    assert [r.perms for r in sorted(out, key=lambda r: r.perms)] == [16, 32, 64, 128]
    for r in out:
        assert r.n_pairs == 1
        assert (r.mae, r.max_abs_err, r.mean_bias) == (0.0, 0.0, 0.0)


def test_perm_sensitivity_error_decays_on_testdata(spark):
    """On real testdata: four budget rows over the same pair count;
    MAE bounds |bias| and is bounded by the worst case; the full
    128-perm signature estimates at least as well as the 16-perm
    prefix (the ~1/sqrt(perms) decay this census exists to show)."""
    rows = sorted(
        QUERIES["q_minhash_perm_sensitivity"](spark, SF0001).collect(),
        key=lambda r: r.perms,
    )
    assert [r.perms for r in rows] == [16, 32, 64, 128]
    assert len({r.n_pairs for r in rows}) == 1
    for r in rows:
        assert 0.0 <= r.mae <= r.max_abs_err <= 1.0
        assert abs(r.mean_bias) <= r.mae + 1e-9
    assert rows[-1].mae <= rows[0].mae


# ---------------------------------------------------------------------------
# q_ivf_probe_curve


def test_ivf_probe_curve_monotone_with_exact_endpoint(spark):
    """On real testdata: recall and scan fraction are non-decreasing
    in the probe count, and probing ALL lists is exact by construction
    — recall 1.0 at scan fraction 1.0 (the brute-force endpoint the
    curve is anchored to)."""
    rows = sorted(
        QUERIES["q_ivf_probe_curve"](spark, SF0001).collect(),
        key=lambda r: r.probes,
    )
    assert [r.probes for r in rows] == [1, 2, 4, 8, 10]
    for r in rows:
        assert 0.0 <= r.avg_recall <= 1.0
        assert 0.0 < r.avg_scan_frac <= 1.0
        assert r.n_queries == rows[0].n_queries
    for a, b in zip(rows, rows[1:]):
        assert a.avg_recall <= b.avg_recall + 1e-9
        assert a.avg_scan_frac <= b.avg_scan_frac + 1e-9
    assert rows[-1].avg_recall == 1.0
    assert rows[-1].avg_scan_frac == 1.0


def test_threshold_curve_planted_duplicates(spark, tmp_path):
    """Two exact-duplicate pairs among four docs: every tau keeps both
    pairs (Jaccard 1.0), greedy keep-smallest removes docs 1 and 3 ->
    removal_frac 0.5 across the whole grid."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
    ]
    rows = [(i, base[i // 2], "en", "A", len(base[i // 2])) for i in range(4)]
    _write(spark, tmp_path, rows)
    out = QUERIES["q_dedup_threshold_curve"](spark, str(tmp_path)).collect()
    assert len(out) == 9
    for r in out:
        assert (r.n_dup_pairs, r.n_docs_removed, r.n_slice_docs) == (2, 2, 4)
        assert r.removal_frac == 0.5
