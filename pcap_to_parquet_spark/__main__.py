"""CLI parity with the reference (main.rs:59-61):

    python -m pcap_to_parquet_spark <input.pcap> <output_dir>

Same contract — legacy pcap in, ZSTD parquet out — with Spark's
executor parallelism instead of a single thread, and an optional
``--partition-by`` for pruned lake layouts.
"""

from __future__ import annotations

import argparse

from pcap_to_parquet_spark.session import get_spark
from pcap_to_parquet_spark.sources.pcap import _AUTO_CHUNK_THRESHOLD, convert_pcap
from pcap_to_parquet_spark.sources.pcap_datasource import chunk_bytes_of


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        prog="pcap_to_parquet_spark", description="pcap -> ZSTD parquet (Spark)"
    )
    ap.add_argument("input", help="legacy pcap file, glob, or directory")
    ap.add_argument("output", help="output parquet directory")
    ap.add_argument(
        "--partition-by",
        nargs="*",
        default=None,
        metavar="COL",
        help="partition the lake by these columns (e.g. protocol)",
    )
    ap.add_argument(
        "--chunk-mb",
        type=float,
        default=None,
        help="split large captures into N-MiB chunks decoded in parallel, "
        "fractions allowed "
        f"(default: auto — chunked for files over {_AUTO_CHUNK_THRESHOLD >> 20} MiB; "
        "0 forces per-file)",
    )
    ap.add_argument(
        "--ts-tol-hours",
        type=float,
        default=None,
        help="chunked-mode resync timestamp anchor, +-hours around the "
        "file's first record (default 48; raise for captures spanning "
        "longer than that)",
    )
    ap.add_argument(
        "--ipv6",
        action="store_true",
        help="also decode ethertype 0x86DD (RFC 5952 text addresses, "
        "extension chain walked to the real L4); default off = "
        "reference parity (IPv6 rows NULL, main.rs:239-251)",
    )
    args = ap.parse_args(argv)
    spark = get_spark("pcap-to-parquet-cli")
    spark.sparkContext.setLogLevel("ERROR")
    convert_pcap(
        spark,
        args.input,
        args.output,
        partition_cols=args.partition_by,
        chunk_bytes=chunk_bytes_of(args.chunk_mb) if args.chunk_mb is not None else None,
        ts_tol=round(args.ts_tol_hours * 3600) if args.ts_tol_hours is not None else None,
        ipv6=args.ipv6,
    )
    print(f"wrote {args.output}")


if __name__ == "__main__":
    main()
