"""Round-9 operator tests: planted-data semantics pins for the
embedding-level decontamination report and the group-fairness census.

Oracle parity is the driver's job (tools/check_oracle.py replays it);
these pin what the operators MEAN — that a training vector which is a
verbatim copy of an eval-panel vector is hard-flagged with cosine 1,
that the report is capped at the top-N closest rows, and that the
fairness census reports exact selection rates, disparate-impact
ratios, and equalized-odds error rates per protected group.
"""

from __future__ import annotations

import math

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pcap_to_parquet_spark.operators.llm import (  # noqa: E402
    _DECON_EVAL,
    _DECON_TOP,
)
from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402
from tests.conftest import SF0001, _DOC_SCHEMA, _write  # noqa: E402

_EMBED_SCHEMA = "vec_id long, embedding array<float>, label int"


def _unit(i, dim=8):
    """Deterministic distinct unit vectors: one-hot-ish with a twist."""
    v = [0.0] * dim
    v[i % dim] = 1.0
    v[(i + 1) % dim] = 0.1 * ((i // dim) + 1)
    n = math.sqrt(sum(x * x for x in v))
    return [float(x / n) for x in v]


def _far(i, dim=8):
    """Near-flat unit vectors: cosine vs any _unit(j<50) stays ~0.5,
    far below the hard-flag threshold."""
    v = [1.0] * dim
    v[i % dim] += 0.01 * (i + 1)
    n = math.sqrt(sum(x * x for x in v))
    return [float(x / n) for x in v]


# ---------------------------------------------------------------------------
# q_embed_decontaminate


def test_embed_decontaminate_flags_verbatim_leak(spark, tmp_path):
    """A train vector that duplicates eval vector 3 is flagged with
    max_cos 1.0 and eval_id 3; an orthogonal train vector is not."""
    rows = [(i, _unit(i), 0) for i in range(_DECON_EVAL)]  # eval panel
    rows.append((_DECON_EVAL + 0, _unit(3), 1))  # verbatim leak of eval 3
    rows.append((_DECON_EVAL + 1, _far(0), 1))  # far from everything
    _write(spark, tmp_path, rows, _EMBED_SCHEMA, "embeddings")
    out = {r.vec_id: r for r in
           QUERIES["q_embed_decontaminate"](spark, str(tmp_path)).collect()}
    leak = out[_DECON_EVAL + 0]
    assert leak.flagged == 1
    assert leak.eval_id == 3
    assert leak.max_cos == 1.0
    assert out[_DECON_EVAL + 1].flagged == 0


def test_embed_decontaminate_caps_report(spark, tmp_path):
    """More candidate train rows than the report cap -> exactly
    _DECON_TOP rows, and they are the closest ones."""
    rows = [(i, _unit(i), 0) for i in range(_DECON_EVAL)]
    # _DECON_TOP duplicates (cos 1.0) + 30 orthogonal-ish strangers
    for j in range(_DECON_TOP):
        rows.append((_DECON_EVAL + j, _unit(j), 1))
    for j in range(30):
        rows.append((_DECON_EVAL + _DECON_TOP + j, _far(j), 1))
    _write(spark, tmp_path, rows, _EMBED_SCHEMA, "embeddings")
    out = QUERIES["q_embed_decontaminate"](spark, str(tmp_path)).collect()
    assert len(out) == _DECON_TOP
    assert all(r.flagged == 1 for r in out)
    assert {r.vec_id for r in out} == {
        _DECON_EVAL + j for j in range(_DECON_TOP)
    }


def test_embed_decontaminate_runs_on_testdata(spark):
    out = QUERIES["q_embed_decontaminate"](spark, SF0001).collect()
    assert len(out) == _DECON_TOP
    # generated embeddings have no planted eval leaks
    assert all(r.flagged == 0 for r in out)
    assert all(r.eval_id < _DECON_EVAL <= r.vec_id for r in out)


# ---------------------------------------------------------------------------
# q_fairness_audit


def _doc(i, text, lang, source):
    return (i, text, lang, source, len(text))


def test_fairness_audit_rates(spark, tmp_path):
    """Two sources with controlled detector outcomes: source A is
    selected at rate 1.0 (TPR 1, FPR 1), source B at 0.5 with perfect
    separation (TPR 1, FPR 0) -> B's di_ratio is 0.5."""
    docs = [
        # source A: all-vowel text => predicted positive, for en and de
        _doc(0, "aaaa", "en", "A"),   # yhat 1, y 1  (TP)
        _doc(1, "aaaa", "de", "A"),   # yhat 1, y 0  (FP)
        # source B: one true positive, one true negative
        _doc(2, "aaaa", "en", "B"),   # yhat 1, y 1  (TP)
        _doc(3, "zzzz", "de", "B"),   # yhat 0, y 0  (TN)
    ]
    _write(spark, tmp_path, docs, _DOC_SCHEMA, "documents")
    out = {r.source: r for r in
           QUERIES["q_fairness_audit"](spark, str(tmp_path)).collect()}
    a, b = out["A"], out["B"]
    assert (a.n_docs, a.n_pred_pos, a.sel_rate) == (2, 2, 1.0)
    assert (b.n_docs, b.n_pred_pos, b.sel_rate) == (2, 1, 0.5)
    assert a.di_ratio == 1.0 and b.di_ratio == 0.5
    assert a.tpr == 1.0 and a.fpr == 1.0
    assert b.tpr == 1.0 and b.fpr == 0.0


def test_fairness_audit_null_rates_when_class_absent(spark, tmp_path):
    """A group with no gold positives has NULL TPR; no gold negatives
    -> NULL FPR (try_divide semantics in both engines)."""
    docs = [
        _doc(0, "aaaa", "de", "A"),  # only negatives -> TPR NULL
        _doc(1, "zzzz", "de", "A"),
        _doc(2, "aaaa", "en", "B"),  # only positives -> FPR NULL
        _doc(3, "zzzz", "en", "B"),
    ]
    _write(spark, tmp_path, docs, _DOC_SCHEMA, "documents")
    out = {r.source: r for r in
           QUERIES["q_fairness_audit"](spark, str(tmp_path)).collect()}
    assert out["A"].tpr is None and out["A"].fpr == 0.5
    assert out["B"].fpr is None and out["B"].tpr == 0.5


def test_fairness_audit_null_source_sorts_last(spark, tmp_path):
    """A NULL protected-attribute group must sort LAST (DuckDB's ASC
    default), not first (Spark's) — pins the asc_nulls_last fix."""
    docs = [
        _doc(0, "aaaa", "en", "A"),
        _doc(1, "zzzz", "de", None),
        _doc(2, "aaaa", "en", "B"),
    ]
    _write(spark, tmp_path, docs, _DOC_SCHEMA, "documents")
    out = QUERIES["q_fairness_audit"](spark, str(tmp_path)).collect()
    assert [r.source for r in out] == ["A", "B", None]
    assert out[2].n_docs == 1


def test_fairness_audit_group_count_on_testdata(spark):
    out = QUERIES["q_fairness_audit"](spark, SF0001).collect()
    srcs = [r.source for r in out]
    assert srcs == sorted(srcs)
    assert len(srcs) == len(set(srcs)) > 1
    for r in out:
        assert r.n_docs > 0
        assert r.di_ratio is None or r.di_ratio <= 1.0


# ---------------------------------------------------------------------------
# zero-norm cosine parity (the shared helper vs DuckDB's convention)


def test_cosine_zero_norm_matches_duckdb_convention(spark):
    """Spark's 0.0/0.0 division is NULL, DuckDB's
    list_cosine_similarity returns -1.0 for a zero-norm vector; the
    shared helper must coalesce to -1.0 so every cosine op stays
    oracle-parity-safe if a degenerate embedding ever ships."""
    import duckdb

    from pcap_to_parquet_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame(
        [([0.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [1.0, 0.0])],
        "a array<double>, b array<double>",
    ).select(cosine_similarity("a", "b").alias("c"))
    got = sorted(r.c for r in df.collect())
    want = sorted(
        r[0]
        for r in duckdb.sql(
            "SELECT list_cosine_similarity(a::DOUBLE[], b::DOUBLE[]) FROM "
            "(VALUES ([0.0,0.0],[1.0,0.0]), ([1.0,0.0],[1.0,0.0])) t(a,b)"
        ).fetchall()
    )
    assert got == want == [-1.0, 1.0]


def test_cosine_null_input_stays_null_like_duckdb(spark):
    """DuckDB's list_cosine_similarity returns NULL (not -1.0) when an
    input VECTOR is NULL; only the zero-norm case maps to -1.0. The
    helper's -1.0 fill must therefore be guarded on non-NULL inputs —
    a NULL embedding shipping in testdata has to stay NULL on both
    engines."""
    import duckdb

    from pcap_to_parquet_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame(
        [(None, [1.0, 0.0]), ([1.0, 0.0], None), (None, None)],
        "a array<double>, b array<double>",
    ).select(cosine_similarity("a", "b").alias("c"))
    got = [r.c for r in df.collect()]
    want = [
        r[0]
        for r in duckdb.sql(
            "SELECT list_cosine_similarity(a::DOUBLE[], b::DOUBLE[]) FROM "
            "(VALUES (NULL, [1.0,0.0]), ([1.0,0.0], NULL),"
            " (CAST(NULL AS DOUBLE[]), NULL)) t(a,b)"
        ).fetchall()
    ]
    assert got == want == [None, None, None]


def test_cosine_null_element_yields_null_not_minus_one(spark):
    """A vector CONTAINING a NULL element must yield NULL, not a
    fabricated -1.0: DuckDB's list_cosine_similarity hard-errors on
    that input ('can not contain NULL values'), so the honest Spark
    behavior is NULL propagation — the oracle replay then fails loudly
    instead of silently comparing against an invented score."""
    import duckdb

    from pcap_to_parquet_spark.functions.vectors import cosine_similarity

    df = spark.createDataFrame(
        [([1.0, None], [1.0, 0.0]), ([1.0, 0.0], [None, None])],
        "a array<double>, b array<double>",
    ).select(cosine_similarity("a", "b").alias("c"))
    assert [r.c for r in df.collect()] == [None, None]
    try:
        duckdb.sql(
            "SELECT list_cosine_similarity([1.0, NULL]::DOUBLE[],"
            " [1.0, 0.0]::DOUBLE[])"
        ).fetchall()
        raise AssertionError("DuckDB accepted a NULL element")
    except duckdb.Error:
        pass  # the documented loud failure


def test_embed_decontaminate_zero_vector_never_flagged(spark, tmp_path):
    """An all-zero train vector must report max_cos -1.0 (not NULL) in
    the (under-20-candidate) report and never be flagged."""
    rows = [(i, _unit(i), 0) for i in range(_DECON_EVAL)]
    rows.append((_DECON_EVAL + 0, [0.0] * 8, 1))  # degenerate
    _write(spark, tmp_path, rows, _EMBED_SCHEMA, "embeddings")
    out = {r.vec_id: r for r in
           QUERIES["q_embed_decontaminate"](spark, str(tmp_path)).collect()}
    z = out[_DECON_EVAL + 0]
    assert z.max_cos == -1.0 and z.flagged == 0
