"""Behavioral invariants for the round-4 additions: duplicated-span
coverage on a planted corpus, PMI parity with the DuckDB oracle, and
PQ-ANN recall against exact L2 search."""

from __future__ import annotations

import numpy as np

import pcap_to_parquet_spark.operators  # noqa: F401  (registers queries)

from pcap_to_parquet_spark.registry import ORACLES, QUERIES
from tests.conftest import SF001, SF0001
import pytest


def test_dup_span_coverage_planted(spark, tiny_docs_dir):
    """Exact duplicates cover 1.0; the one-word-changed doc loses only
    the token whose every 5-gram span straddles the edit; unrelated and
    sub-span docs sit at zero."""
    rows = {r.doc_id: r for r in QUERIES["q_dup_span_coverage"](spark, tiny_docs_dir).collect()}
    assert rows[0].dup_frac == 1.0 and rows[0].dup_tokens == 30
    assert rows[1].dup_frac == 1.0
    # doc 2: token 7 (0-based) changed; spans starting 3..7 break, so
    # tokens 0-6 and 8-29 stay covered → 29 of 30
    assert rows[2].dup_tokens == 29
    assert abs(rows[2].dup_frac - round(29 / 30, 4)) < 1e-9
    assert rows[3].dup_tokens == 0 and rows[3].dup_frac == 0.0
    assert rows[4].n_tokens == 2 and rows[4].dup_tokens == 0


def test_pmi_bigrams_matches_oracle(spark):
    """Set-level parity with the DuckDB oracle at sf0.001 (tools/check_oracle.py
    checks sf0.01; this pins the other fixture): same bigrams, same
    counts, PMI within float tolerance."""
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF0001}/documents.parquet')"
    )
    want = {r[0]: (r[1], r[2]) for r in con.execute(ORACLES["q_pmi_bigrams"]).fetchall()}
    got = {r.bigram: (r.n_ab, r.pmi) for r in QUERIES["q_pmi_bigrams"](spark, SF0001).collect()}
    assert set(got) == set(want)
    for bg, (n_ab, pmi) in got.items():
        assert n_ab == want[bg][0], bg
        assert abs(pmi - want[bg][1]) < 1e-6, bg


def test_pq_ann_recall_vs_exact(spark):
    """The ADC-shortlist + exact-rerank pipeline must recover most of
    the true L2 top-10 (0.8 at sf0.01; ≥0.5 asserted for slack across
    fixtures) and return exact distances in ascending order."""
    from pcap_to_parquet_spark.sources import load_table

    rows = QUERIES["q_pq_ann"](spark, SF0001).collect()
    assert len(rows) == 10
    dists = [r.l2_dist for r in rows]
    assert dists == sorted(dists)

    em = load_table(spark, SF0001, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in em}
    q = vecs[0]
    exact = sorted((float(np.sum((v - q) ** 2)), k) for k, v in vecs.items() if k != 0)[:10]
    exact_ids = {k for _, k in exact}
    got_ids = {r.vec_id for r in rows}
    assert len(exact_ids & got_ids) / 10 >= 0.5
    # reranked distances are EXACT for the vectors returned
    for r in rows:
        true_d = float(np.sqrt(np.sum((vecs[r.vec_id] - q) ** 2)))
        assert abs(r.l2_dist - round(true_d, 4)) < 1e-9, r


def test_dup_span_removal_planted(spark, tiny_docs_dir):
    """Exact copies are fully stripped; the one-word-changed doc keeps
    exactly the changed token; untouched docs round-trip verbatim."""
    rows = {r.doc_id: r for r in QUERIES["q_dup_span_removal"](spark, tiny_docs_dir).collect()}
    assert rows[0].n_removed == 30 and rows[0].clean_text == ""
    assert rows[1].n_removed == 30 and rows[1].clean_text == ""
    assert rows[2].n_removed == 29 and rows[2].clean_text == "CHANGED"
    base = " ".join(f"z{i}" for i in range(30))
    assert rows[3].n_removed == 0 and rows[3].clean_text == base
    assert rows[4].n_removed == 0 and rows[4].clean_text == "too short"


def test_temperature_mix_invariants(spark):
    """The smallest language keeps everything (rate 1.0); keep-rates
    fall as language size grows; realized counts track the target rate
    (the md5 gate is a uniform coin)."""
    rows = sorted(
        QUERIES["q_temperature_mix"](spark, SF001).collect(),
        key=lambda r: r.n_docs,
    )
    assert rows[0].target_rate == 1.0
    rates = [r.target_rate for r in rows]
    assert rates == sorted(rates, reverse=True)
    for r in rows:
        assert 0 < r.n_kept <= r.n_docs
        assert abs(r.n_kept - r.target_rate * r.n_docs) <= 0.15 * r.n_docs, r


def test_pca_embed_sketch_matches_projection(spark):
    """The distributed variance of the projected data must reproduce
    each eigenvalue of the sketch-assembled covariance — sketch, eig
    and projection proven consistent end to end; ratios must be
    descending and cumulative share monotone below 1."""
    rows = QUERIES["q_pca_embed"](spark, SF0001).collect()
    assert len(rows) == 16
    for r in rows:
        assert abs(r.eigenvalue - r.proj_var) <= 2e-6, r
    ev = [r.eigenvalue for r in rows]
    assert ev == sorted(ev, reverse=True)
    cums = [r.cum_explained for r in rows]
    assert cums == sorted(cums) and cums[-1] <= 1.0


@pytest.mark.slow  # >=5s
def test_quality_classifier_learns_planted_signal(spark, tmp_path):
    """On a corpus where the label IS expressible in the features
    (English docs stuffed with stopwords, German docs with none) the
    distributed trainer must separate almost perfectly; this pins that
    gradient partials, the driver reduce, and the update actually
    learn — the real-corpus fixture only exercises the mechanics."""
    rows = []
    for i in range(120):
        if i % 2 == 0:
            text = " ".join(["the", "a", "of", "and", "to"] * 6)
            lang = "en"
        else:
            text = " ".join(f"wort{j}" for j in range(30))
            lang = "de"
        rows.append((i, text, lang, "src0", len(text)))
    d = tmp_path / "planted"
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(2).write.mode("overwrite").parquet(str(d / "documents.parquet"))
    out = {r.feature: r for r in QUERIES["q_quality_classifier"](spark, str(d)).collect()}
    any_row = out["bias"]
    assert any_row.train_acc >= 0.95, any_row
    assert any_row.loss_final < any_row.loss_initial / 2, any_row
    # the stopword-ratio coefficient must carry the positive signal
    assert out["stopword_ratio"].coef > 0


@pytest.mark.slow  # >=5s
def test_quality_classifier_mechanics_on_fixture(spark):
    """On the real (near-unseparable) fixture the trainer still must
    monotonically improve on the w=0 loss (ln 2) and never fall below
    coin-flip accuracy; coefficients stay finite."""
    import math

    rows = QUERIES["q_quality_classifier"](spark, SF0001).collect()
    assert {r.feature for r in rows} == {
        "bias", "log_tokens", "mean_tok_len", "stopword_ratio", "vowel_ratio"
    }
    r0 = rows[0]
    assert abs(r0.loss_initial - math.log(2)) < 1e-6
    assert r0.loss_final < r0.loss_initial
    assert r0.train_acc >= 0.5
    assert all(abs(r.coef) < 100 for r in rows)


def test_ewma_first_row_and_pull(spark):
    """Each user's chronologically-first event has EWMA == its own
    value (frame of one, normalizer 1); every EWMA lies within the
    running min/max of its frame (a weighted mean cannot escape its
    inputs)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pcap_to_parquet_spark.sources import load_table

    got = {(r.user_id, r.event_id): r.ewma for r in QUERIES["q_ewma"](spark, SF0001).collect()}
    e = load_table(spark, SF0001, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wf = w.rowsBetween(-19, Window.currentRow)
    rows = e.select(
        "user_id",
        "event_id",
        F.round("value", 4).alias("v"),
        F.row_number().over(w).alias("rn"),
        F.min("value").over(wf).alias("lo"),
        F.max("value").over(wf).alias("hi"),
    ).collect()
    assert len(rows) == len(got)
    for r in rows:
        ew = got[(r.user_id, r.event_id)]
        if r.rn == 1:
            assert abs(ew - r.v) < 1e-9, r
        assert r.lo - 1e-4 <= ew <= r.hi + 1e-4, (r, ew)


def _bpe_reference(word_counts, rounds):
    """Plain-Python BPE trainer: same greedy left-to-right merge and
    (count desc, pair asc) tie-break as the distributed operator."""
    vocab = {tuple(w): c for w, c in word_counts.items()}
    merges = []
    for rnd in range(rounds):
        pairs = {}
        for syms, c in vocab.items():
            for i in range(len(syms) - 1):
                pairs[(syms[i], syms[i + 1])] = pairs.get((syms[i], syms[i + 1]), 0) + c
        if not pairs:
            break
        (a, b), n = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((rnd, a, b, a + b, n))
        new_vocab = {}
        for syms, c in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            key = tuple(out)
            new_vocab[key] = new_vocab.get(key, 0) + c
        vocab = new_vocab
    return merges


@pytest.mark.slow  # >=5s
def test_bpe_merges_match_pure_python_reference(spark, tmp_path):
    """The distributed trainer must reproduce a plain-Python BPE's
    merge table exactly — pair choice, tie-break, greedy left-to-right
    re-segmentation (incl. the aaa/aa overlap rule) — on a corpus with
    repeats, ties and single-char words."""
    words = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaaa"] * 4 + ["a"] * 7 + ["banana"] * 2
    )
    docs = [
        (i, " ".join(words[i::3]), "en", "src0", 1) for i in range(3)
    ]
    d = tmp_path / "bpe"
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    got = [tuple(r) for r in QUERIES["q_bpe_merges"](spark, str(d)).collect()]
    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    want = _bpe_reference(wc, 10)
    assert got == want
    counts = [r[4] for r in got]
    assert counts == sorted(counts, reverse=True)  # max-count monotonicity


def test_ivf_pq_stays_in_probed_lists_and_recovers_them(spark):
    """IVF-PQ may only return vectors from the 3 probed lists (the
    pruning contract), and within those lists the PQ shortlist + exact
    rerank must recover most of the list-restricted true top-10 (the
    quantization contract)."""
    from pcap_to_parquet_spark.sources import load_table

    rows = QUERIES["q_ivf_pq"](spark, SF001).collect()
    assert len(rows) == 10
    dists = [r.l2_dist for r in rows]
    assert dists == sorted(dists)

    em = load_table(spark, SF001, "embeddings").collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in em}
    labels = {r.vec_id: r.label for r in em}
    q = vecs[0]

    # mirror the probe selection: cosine of q to each label's mean
    cent = {}
    for v, lab in labels.items():
        cent.setdefault(lab, []).append(vecs[v])
    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
    probed = {
        lab
        for lab, _ in sorted(
            ((lab, cos(q, np.mean(vs, axis=0))) for lab, vs in cent.items()),
            key=lambda kv: (-kv[1], kv[0]),
        )[:3]
    }
    assert all(labels[r.vec_id] in probed for r in rows)

    in_lists = {
        k for k in vecs if k != 0 and labels[k] in probed
    }
    best_in_lists = {
        k
        for _, k in sorted(
            (float(np.sum((vecs[k] - q) ** 2)), k) for k in in_lists
        )[:10]
    }
    got = {r.vec_id for r in rows}
    assert len(best_in_lists & got) / 10 >= 0.7


@pytest.mark.slow  # >=5s
def test_bpe_encode_matches_reference_encoder(spark, tmp_path):
    """Per-doc symbol counts after applying the trained merges must
    equal a plain-Python encoder running the same merge table."""
    words = (
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
        + ["aaaa"] * 4 + ["a"] * 7 + ["banana"] * 2
    )
    docs = [(i, " ".join(words[i::3]), "en", "src0", 1) for i in range(3)]
    d = tmp_path / "bpe_enc"
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(d / "documents.parquet"))

    wc = {}
    for w in words:
        wc[w] = wc.get(w, 0) + 1
    merges = _bpe_reference(wc, 10)

    def encode_len(word):
        syms = list(word)
        for _, a, b, _, _ in merges:
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return len(syms)

    got = {r.doc_id: r for r in QUERIES["q_bpe_encode"](spark, str(d)).collect()}
    for i, text, *_ in docs:
        ws = text.split()
        want = sum(encode_len(w) for w in ws)
        assert got[i].n_words == len(ws)
        assert got[i].n_symbols == want, (i, got[i], want)


def test_holt_forecast_matches_reference(spark):
    """Every user's (level, trend, forecast) must equal a plain-Python
    Holt recursion over the same (ts, event_id)-ordered values."""
    from pcap_to_parquet_spark.sources import load_table

    got = {r.user_id: r for r in QUERIES["q_holt_forecast"](spark, SF0001).collect()}
    events = sorted(
        load_table(spark, SF0001, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect(),
        key=lambda r: (r.user_id, r.ts, r.event_id),
    )
    series = {}
    for r in events:
        series.setdefault(r.user_id, []).append(float(r.value))
    assert set(got) == set(series)
    for uid, y in series.items():
        if len(y) == 1:
            lvl, trd = y[0], 0.0
        else:
            lvl, trd = y[0], y[1] - y[0]
            for v in y[1:]:
                prev = lvl
                lvl = 0.5 * v + 0.5 * (lvl + trd)
                trd = 0.3 * (lvl - prev) + 0.7 * trd
        r = got[uid]
        assert r.n_events == len(y)
        assert abs(r.level - round(lvl, 4)) < 1e-9, uid
        assert abs(r.trend - round(trd, 4)) < 1e-9, uid
        assert abs(r.forecast - round(lvl + trd, 4)) < 1e-9, uid


def test_multi_regression_matches_numpy_lstsq(spark):
    """The closed-form normal-equation coefficients must match
    numpy's least-squares solution per group — validates the algebra
    itself, beyond the DuckDB oracle's parity."""
    from pcap_to_parquet_spark.sources import load_table

    got = {r.event_type: r for r in QUERIES["q_multi_regression"](spark, SF0001).collect()}
    rows = (
        load_table(spark, SF0001, "events")
        .selectExpr(
            "event_type",
            "CAST(hour(ts) AS DOUBLE) AS x1",
            "CAST(day(ts) AS DOUBLE) AS x2",
            "value AS y",
        )
        .collect()
    )
    groups = {}
    for r in rows:
        groups.setdefault(r.event_type, []).append((r.x1, r.x2, r.y))
    assert set(got) == set(groups)
    for et, data in groups.items():
        a = np.array([[1.0, x1, x2] for x1, x2, _ in data])
        y = np.array([v for *_, v in data])
        coef, *_ = np.linalg.lstsq(a, y, rcond=None)
        r = got[et]
        assert abs(r.intercept - round(float(coef[0]), 4)) <= 2e-4, et
        assert abs(r.hour_slope - round(float(coef[1]), 4)) <= 2e-4, et
        assert abs(r.day_slope - round(float(coef[2]), 4)) <= 2e-4, et


def test_stream_holt_equals_batch_holt(spark):
    """The streaming Holt state after availableNow ingestion must equal
    the batch applyInPandas model for every user — same recursion, same
    initialization, bit-identical float path."""
    batch = {tuple(r) for r in QUERIES["q_holt_forecast"](spark, SF0001).collect()}
    stream = {tuple(r) for r in QUERIES["q_stream_holt"](spark, SF0001).collect()}
    assert stream == batch


@pytest.mark.slow  # >=5s
def test_opq_error_monotonically_beats_plain_pq(spark):
    """Iteration 0 is plain PQ (R = I); each Procrustes update must not
    increase quantization error, and the learned rotation must end
    meaningfully below the plain-PQ baseline (measured: 0.561 → 0.481
    at sf0.01)."""
    rows = sorted(
        QUERIES["q_opq_train"](spark, SF001).collect(),
        key=lambda r: r.iteration,
    )
    errs = [r.mean_sq_error for r in rows]
    assert len(errs) == 4
    # tolerance 1e-5: every engine boundary (rotated
    # vectors, Lloyd means, R) is 6dp-rounded for the exact DuckDB
    # oracle, so a single step may wobble by ~1e-6; true decreases
    # are ~0.03, four orders larger
    assert all(b <= a + 1e-5 for a, b in zip(errs, errs[1:]))
    assert errs[-1] < errs[0] * 0.95


@pytest.mark.slow  # >=5s
def test_residual_quant_beats_both_halves(spark):
    """Coarse+residual-PQ must reconstruct better than plain PQ and
    much better than the coarse codebook alone (measured 0.503 vs
    0.561 vs 0.892 at sf0.01) — the property that justifies storing
    residuals in an IVF-PQ index."""
    rows = {r.encoder: r.mean_sq_error for r in QUERIES["q_residual_quant"](
        spark, SF001).collect()}
    assert set(rows) == {"pq_only", "coarse_only", "coarse_plus_residual_pq"}
    assert rows["coarse_plus_residual_pq"] < rows["pq_only"]
    assert rows["coarse_plus_residual_pq"] < rows["coarse_only"]
