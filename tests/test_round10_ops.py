"""Round-10 operator tests: planted-data semantics pins for the greedy
sequence-packing planner and the LSH candidate-precision audit.

Oracle parity is the driver's job (tools/check_oracle.py replays it);
these pin what the operators MEAN — that the packing census replays
next-fit-decreasing exactly on a hand-packable corpus, that
over-budget documents are truncated and counted, and that the
precision audit agrees with the recall audit on the shared
truth/candidate definitions.
"""

from __future__ import annotations

import pcap_to_parquet_spark.operators  # noqa: E402,F401  (registers queries)
from pcap_to_parquet_spark.operators.text_pipeline import (  # noqa: E402
    _PACK_BUDGET,
)
from pcap_to_parquet_spark.registry import QUERIES  # noqa: E402
import pytest
from tests.conftest import SF0001, _DOC_SCHEMA, _write  # noqa: E402


def _doc(i, n_tokens):
    text = " ".join(["w"] * n_tokens)
    return (i, text, "en", "A", len(text))


# ---------------------------------------------------------------------------
# q_pack_planner


def test_pack_planner_hand_packable_corpus(spark, tmp_path):
    """Token lengths [300, 300, 300, 200, 100] at budget 512 pack as:
    three 300s -> 3 bins (cap 1 each, last residual 212); the 200 fits
    the open bin (residual 12); the 100 doesn't -> 4th bin. NFD = 4
    bins vs lower bound ceil(1200/512) = 3."""
    assert _PACK_BUDGET == 512, "fixture hand-packed for budget 512"
    docs = [_doc(i, n) for i, n in enumerate([300, 300, 300, 200, 100])]
    _write(spark, tmp_path, docs, _DOC_SCHEMA, "documents")
    r = QUERIES["q_pack_planner"](spark, str(tmp_path)).collect()[0]
    assert (r.n_docs, r.total_toks, r.n_truncated) == (5, 1200, 0)
    assert (r.n_bins, r.n_bins_lb) == (4, 3)
    assert r.fill_rate == round(1200 / (4 * 512), 6)
    assert r.pack_overhead == round(4 / 3, 6)


def test_pack_planner_truncates_over_budget_docs(spark, tmp_path):
    """A doc longer than the budget is clipped to one full bin and
    counted in n_truncated; an exactly-budget doc is not truncated."""
    docs = [_doc(0, _PACK_BUDGET + 100), _doc(1, _PACK_BUDGET)]
    _write(spark, tmp_path, docs, _DOC_SCHEMA, "documents")
    r = QUERIES["q_pack_planner"](spark, str(tmp_path)).collect()[0]
    assert (r.n_docs, r.n_truncated) == (2, 1)
    assert r.total_toks == 2 * _PACK_BUDGET  # clipped sum
    assert (r.n_bins, r.n_bins_lb) == (2, 2)
    assert r.fill_rate == 1.0 and r.pack_overhead == 1.0


def test_pack_planner_perfect_pack_hits_lower_bound(spark, tmp_path):
    """Eight docs of budget/2 tokens pack two-per-bin with zero waste:
    greedy == lower bound, fill_rate exactly 1."""
    docs = [_doc(i, _PACK_BUDGET // 2) for i in range(8)]
    _write(spark, tmp_path, docs, _DOC_SCHEMA, "documents")
    r = QUERIES["q_pack_planner"](spark, str(tmp_path)).collect()[0]
    assert (r.n_bins, r.n_bins_lb) == (4, 4)
    assert r.fill_rate == 1.0 and r.pack_overhead == 1.0


def test_pack_planner_testdata_invariants(spark):
    """On real testdata: bins >= lower bound >= 1, fill <= 1, and the
    2-approximation bound n_bins <= 2 * n_bins_lb holds for NFD."""
    r = QUERIES["q_pack_planner"](spark, SF0001).collect()[0]
    assert r.n_docs > 0 and r.total_toks > 0
    assert 1 <= r.n_bins_lb <= r.n_bins <= 2 * r.n_bins_lb
    assert 0 < r.fill_rate <= 1.0
    assert r.pack_overhead >= 1.0


# ---------------------------------------------------------------------------
# q_lsh_precision


@pytest.mark.slow  # >=5s
def test_lsh_precision_consistent_with_recall(spark):
    """The two audits share one truth/candidate definition: verified
    candidates == caught true pairs, and the true-pair / candidate
    counts must agree across the two reports."""
    p = QUERIES["q_lsh_precision"](spark, SF0001).collect()[0]
    r = QUERIES["q_lsh_recall"](spark, SF0001).collect()[0]
    assert p.n_true_pairs == r.n_true_pairs
    assert p.n_candidates == r.n_candidates
    assert p.n_verified == r.n_caught
    assert p.n_false_candidates == p.n_candidates - p.n_verified
    assert 0.0 <= p.cand_precision <= 1.0


def test_lsh_precision_exact_duplicates_all_verified(spark, tmp_path):
    """Planted exact-duplicate pairs: every banded candidate passes
    Jaccard verification -> precision 1.0, verify_cost 1.0."""
    base = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
    ]
    docs = []
    for i in range(4):  # two duplicate pairs: (0,1) and (2,3)
        t = base[i // 2]
        docs.append((i, t, "en", "A", len(t)))
    _write(spark, tmp_path, docs, _DOC_SCHEMA, "documents")
    p = QUERIES["q_lsh_precision"](spark, str(tmp_path)).collect()[0]
    assert p.n_true_pairs == 2 and p.n_candidates == 2
    assert p.n_verified == 2 and p.n_false_candidates == 0
    assert p.cand_precision == 1.0 and p.verify_cost == 1.0
