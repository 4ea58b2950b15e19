"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from checks import compare_rows, compare_tables  # noqa: E402
from gen_pcap import CaptureSpec, generate  # noqa: E402
from layers import per_layer_units  # noqa: E402
from stats import tail, valid_name, valid_unit  # noqa: E402

SMALL = CaptureSpec(
    files=2, packets_per_file=1500, flows=64, vlan_share=0.2,
    trailer_share=0.4, stacked_share=0.2, non_ip_share=0.05, snaplen=65535,
)
SNAP96 = CaptureSpec(
    files=1, packets_per_file=1500, flows=64, vlan_share=0.2,
    trailer_share=0.0, stacked_share=0.0, non_ip_share=0.05, snaplen=96,
)


def _read(paths: list[str]) -> bytes:
    out = b""
    for p in paths:
        with open(p, "rb") as fh:
            out += fh.read()
    return out


def test_capture_generator_is_deterministic_per_seed(tmp_path):
    a = generate(SMALL, 3, str(tmp_path / "a"))
    b = generate(SMALL, 3, str(tmp_path / "b"))
    c = generate(SMALL, 4, str(tmp_path / "c"))
    assert _read(a.paths) == _read(b.paths)
    assert a.truth.equals(b.truth)
    assert a.props == b.props
    assert _read(a.paths) != _read(c.paths)


def test_capture_is_reused_from_its_seed_keyed_dir(tmp_path):
    a = generate(SMALL, 5, str(tmp_path))
    mtime = os.path.getmtime(a.paths[0])
    b = generate(SMALL, 5, str(tmp_path))
    assert b.paths == a.paths and os.path.getmtime(b.paths[0]) == mtime
    assert b.truth.equals(a.truth)
    assert generate(SMALL, 6, str(tmp_path)).paths != a.paths


@pytest.mark.parametrize("spec", [SMALL, SNAP96], ids=["trailers", "snaplen96"])
def test_ground_truth_matches_the_scalar_decoder(tmp_path, spec):
    """The reference-semantics per-packet decoder, run over the generated
    bytes, yields exactly the generator's expected rows: no payload forms
    a stray trailer and every stacked frame reports its innermost one."""
    from pcap_to_parquet_spark.sources.pcap import decode_pcap_bytes

    cap = generate(spec, 11, str(tmp_path))
    rows = [r for p in cap.paths for r in decode_pcap_bytes(open(p, "rb").read())]
    got = pa.Table.from_pylist(rows, schema=cap.truth.schema)
    assert compare_tables(got, cap.truth) is None
    assert cap.props["packets"] == spec.files * spec.packets_per_file
    if spec.trailer_share:
        assert cap.props["stacked_share_of_tagged"] > 0
        assert 0.3 < cap.props["trailer_share"] < 0.5


def test_ground_truth_check_catches_one_wrong_value(tmp_path):
    cap = generate(SNAP96, 2, str(tmp_path))
    t = cap.truth
    lens = t["len"].to_pylist()
    lens[7] += 1
    bad = t.set_column(t.schema.get_field_index("len"), "len", pa.array(lens, pa.int64()))
    assert compare_tables(bad, t) == "column len differs"
    assert compare_tables(t.slice(1), t).startswith("row count")
    shuffled = t.take(pa.array(list(range(t.num_rows))[::-1]))
    assert compare_tables(shuffled, t) is None


def test_query_tables_are_the_checksummed_canonical_copy():
    from pcap_to_parquet_spark.sources.tables import TABLE_NAMES
    from workloads import QUERY_SF_DIR

    with open(os.path.join(QUERY_SF_DIR, "SHA256SUMS")) as fh:
        sums = dict(reversed(line.split()) for line in fh if line.strip())
    assert set(sums) == {f"{t}.parquet" for t in TABLE_NAMES}
    for name, digest in sums.items():
        with open(os.path.join(QUERY_SF_DIR, name), "rb") as fh:
            assert hashlib.sha256(fh.read()).hexdigest() == digest, name


def test_compare_rows_is_order_insensitive_and_rounds_floats():
    want = [{"k": 1, "v": 0.1 + 0.2}, {"k": 2, "v": None}]
    got = [{"k": 2, "v": None}, {"k": 1, "v": 0.3}]
    assert compare_rows(["k", "v"], got, ["v", "k"], want) is None
    assert compare_rows(["k", "v"], got[:1], ["k", "v"], want).startswith("row count")
    assert compare_rows(["k", "v"], [{"k": 1, "v": 0.31}, got[0]], ["k", "v"], want)


@pytest.mark.parametrize(
    "n,pct", [(1, None), (39, None), (40, 75.0), (100, 90.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)]
)
def test_tail_is_the_highest_percentile_with_ten_samples_beyond(n, pct):
    values = [float(i) for i in range(n)]
    t = tail(values)
    assert t["pct"] == pct and t["n"] == n
    if pct is not None:
        beyond = sum(1 for v in values if v > t["value"])
        assert beyond >= 10


def test_metric_names_and_units_follow_the_charset():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer") for m in bench[key]]
    assert len(names) == len(set(names))
    assert all(valid_name(n) for n in names)
    assert all(valid_unit(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert [m["name"] for m in bench["per_layer"]] == list(per_layer_units())
    assert {m["unit"] for m in bench["per_layer"]} == set(per_layer_units().values())
    with open(os.path.join(HERE, "metrics.json")) as fh:
        companion = json.load(fh)
    for key in ("end_to_end", "per_layer"):
        assert [m["name"] for m in companion[key]] == [m["name"] for m in bench[key]]
    assert not valid_name("_x") and not valid_name("a" * 65) and not valid_name("a b")
    assert not valid_unit("") and not valid_unit("m s")
