"""pcap queries (``operators/pcap_query.py``): staging a capture into a
stream's landing directory."""

from __future__ import annotations

import os

from pcap_to_parquet_spark.operators.pcap_query import _stage_capture


def test_stage_capture_renames_a_complete_copy_into_place(tmp_path):
    """The landing copy appears under its final name only once it is
    complete, a second call keeps it, and no hidden part is left."""
    src = tmp_path / "src.pcap"
    src.write_bytes(b"\x00" * 4096)
    land = tmp_path / "land"
    assert _stage_capture(str(src), str(land), "x.pcap") == str(land)
    assert sorted(os.listdir(land)) == ["x.pcap"]
    assert (land / "x.pcap").read_bytes() == src.read_bytes()
    src.write_bytes(b"\x01")
    _stage_capture(str(src), str(land), "x.pcap")
    assert (land / "x.pcap").stat().st_size == 4096
