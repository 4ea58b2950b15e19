"""The bench's driver-facing output contract.

The driver parses the LAST JSON line bench.py prints and compares its
``queries`` dict round-over-round, per query. These tests pin the
contract without running the (20-minute) full bench; one runs a
one-entry subset in the shared session.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench
from pcap_to_parquet_spark.registry import QUERIES
from tests.conftest import SF001, SF0001

REPO = os.path.dirname(bench.__file__)


def test_final_line_carries_per_query_mins_and_total():
    timings = {"q_a": 1.5, "q_b": 0.25}
    line = bench.final_line(timings, {"q_a": 1.7, "q_b": 0.3}, 1.75, 0.1, "BENCH_DETAIL_r16.json")
    parsed = json.loads(line)
    # additions only: every per-query key present, legacy total kept
    assert parsed["queries"]["q_a"] == 1.5
    assert parsed["queries"]["q_b"] == 0.25
    assert parsed["queries"]["total"] == 1.75
    assert parsed["value"] == 1.75
    assert parsed["n_queries"] == 2
    assert parsed["metric"] == "headline_queries_total"
    assert parsed["detail"] == "BENCH_DETAIL_r16.json"


def test_final_line_carries_per_query_medians():
    # the median of the 3 runs rides next to the min, one entry per query
    # and no legacy total (the detail file's value_median carries that)
    line = bench.final_line(
        {"q_a": 1.5, "q_b": 0.25}, {"q_a": 1.7, "q_b": 0.3}, 1.75, 0.1, "BENCH_DETAIL_r16.json"
    )
    assert json.loads(line)["queries_median"] == {"q_a": 1.7, "q_b": 0.3}


def test_final_line_is_one_line_and_tail_sized():
    # 104 entries must survive the driver's tail capture: one line,
    # well under the ~8 KB the capture demonstrably keeps
    timings = {f"q_{i:03d}_some_longer_name": round(i * 0.123, 3) for i in range(110)}
    medians = {q: round(t * 1.37, 3) for q, t in timings.items()}
    line = bench.final_line(timings, medians, 99.9, 0.1, "BENCH_DETAIL_r99.json")
    assert "\n" not in line
    assert len(line) < 8000
    parsed = json.loads(line)
    assert parsed["queries"]["total"] == 99.9
    assert parsed["queries_median"] == medians


def test_final_line_rejects_a_query_named_total():
    with pytest.raises(ValueError, match="total"):
        bench.final_line({"q_a": 1.0, "total": 2.0}, {"q_a": 1.0}, 3.0, 0.1, "BENCH_DETAIL_r16.json")


def test_detail_filename_stamps_core_count_family(tmp_path):
    for box in sorted({4, 32, len(os.sched_getaffinity(0))}):
        repo = str(tmp_path / str(box))
        os.mkdir(repo)
        # all of the box's cores: plain round stamp, then letter suffixes
        assert bench.detail_filename(repo, 16, box, box) == "BENCH_DETAIL_r16.json"
        open(os.path.join(repo, "BENCH_DETAIL_r16.json"), "w").write("{}")
        assert bench.detail_filename(repo, 16, box, box) == "BENCH_DETAIL_r16b.json"
        # any other core count goes to its own family and never collides
        # with the main lineage
        other = box // 2 or box + 1
        assert bench.detail_filename(repo, 16, other, box) == f"BENCH_DETAIL_r16_c{other}.json"
        open(os.path.join(repo, f"BENCH_DETAIL_r16_c{other}.json"), "w").write("{}")
        assert bench.detail_filename(repo, 16, other, box) == f"BENCH_DETAIL_r16b_c{other}.json"


def test_detail_round_stamps_a_scaling_run_with_the_current_round(tmp_path, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_ROUND", raising=False)
    repo = str(tmp_path)
    for n in (14, 16):
        open(os.path.join(repo, f"BENCH_r{n}.json"), "w").write("{}")
    open(os.path.join(repo, "BENCH_r16_c8.json"), "w").write("{}")
    # round 16's gate is recorded: a full-box run is round 17's gate,
    # a run at another core count scales round 16
    assert bench.detail_round(repo, 4, 4) == 17
    assert bench.detail_round(repo, 8, 4) == 16
    assert bench.detail_round(repo, 2, 4) == 16
    monkeypatch.setenv("SPARK_GRAFT_ROUND", "21")
    assert bench.detail_round(repo, 4, 4) == 21
    assert bench.detail_round(repo, 8, 4) == 21
    # no recorded round yet: round 10, the first stamped one, either way
    empty = str(tmp_path / "empty")
    os.mkdir(empty)
    monkeypatch.delenv("SPARK_GRAFT_ROUND")
    assert bench.detail_round(empty, 4, 4) == 10
    assert bench.detail_round(empty, 8, 4) == 10


def test_headline_names_are_registered_once():
    # a typo would otherwise surface as a KeyError deep into a gate run
    assert [n for n in bench.HEADLINE if n not in QUERIES] == []
    assert len(set(bench.HEADLINE)) == len(bench.HEADLINE)
    assert not set(bench.HEADLINE) & set(bench.CONVERTS)


@pytest.mark.parametrize(
    ("sf_dir", "sf"),
    [
        (SF001, 0.01),
        (SF001 + "/", 0.01),
        ("/tmp/sf10", 10.0),
        ("/tmp/sf10v", -1.0),  # the vocabulary-growth set make_scale.py builds
        ("perfbench/data/sf0.01", 0.01),
        ("/tmp/sfdata/x", -1.0),
        ("/tmp/x", -1.0),
    ],
)
def test_scale_factor_reads_a_trailing_sf_component(sf_dir, sf):
    assert bench.scale_factor(sf_dir) == sf


def test_unknown_entry_exits_before_any_work():
    with pytest.raises(SystemExit, match="q_no_such_query"):
        bench.main(["q_hash_agg", "q_no_such_query"])


def test_subset_run_prints_the_named_entry_and_writes_no_detail(spark, monkeypatch, capsys):
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", SF0001)
    details = set(glob.glob(os.path.join(REPO, "BENCH_DETAIL_*")))
    bench.main(["q_hash_agg"])
    full, last = capsys.readouterr().out.strip().splitlines()[-2:]
    assert set(json.loads(full)["queries_codegen_compiles"]) == {"q_hash_agg"}
    parsed = json.loads(last)
    assert set(parsed["queries"]) == {"q_hash_agg", "total"}
    assert parsed["n_queries"] == 1
    assert parsed["sf"] == 0.001
    assert parsed["detail"] is None
    assert set(glob.glob(os.path.join(REPO, "BENCH_DETAIL_*"))) == details
