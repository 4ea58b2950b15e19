"""The command line: ``python -m pcap_to_parquet_spark <in> <out>``."""

from __future__ import annotations

from pcap_to_parquet_spark.__main__ import main
from pcap_to_parquet_spark.sources.pcap import read_pcap
from pcap_to_parquet_spark.sources.pcap_fixtures import (
    BASE_TS,
    eth,
    ipv4,
    mm_trailer,
    pcap_file,
    tcp,
    udp,
)


def test_fractional_chunk_mb_converts_like_read_pcap(spark, tmp_path):
    udp_f = eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1234, 5678)))
    tcp_f = eth(ipv4(6, "192.168.1.10", "192.168.1.20", tcp(80, 443)))
    mm_f = udp_f + mm_trailer(BASE_TS - 2, 500_000_123, 7, 3)
    mix = [udp_f, tcp_f, mm_f]
    src = tmp_path / "mix.pcap"
    src.write_bytes(pcap_file([(BASE_TS + i, len(mix[i % 3]), mix[i % 3]) for i in range(16_000)]))
    assert src.stat().st_size > 2**20  # so 0.5 MiB chunks split it

    out = tmp_path / "out"
    main([str(src), str(out), "--chunk-mb", "0.5"])

    want = read_pcap(spark, str(src))
    got = spark.read.parquet(str(out)).select(*want.columns)
    assert got.count() == 16_000
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0
