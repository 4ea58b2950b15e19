"""Benchmark and query harness: time registry entries at
$SPARK_GRAFT_SF_DIR (default sf0.1) on the session ``get_spark`` builds
(local[$SPARK_GRAFT_CPUS], default every core).

    python bench.py                  # the driver's gate: every entry
    python bench.py q_hash_agg ...   # only the named entries

An entry is a name and a no-argument callable: a registered query,
built and written to the noop sink (full execution, no driver
collect), or one of the ``CONVERTS`` pcap -> Parquet conversions.
After one session warm-up (``warm``) each entry runs three times back
to back, and two JSON lines are printed: the full record, then the
compact line the driver parses (``final_line``). ``queries`` holds each
entry's min, the steady state a long-lived session pays;
``queries_median`` the median, which one slow run (GC pause, steal
burst) cannot move; ``queries_cold`` the first run, which includes
codegen and Python-worker spawn. ``queries_codegen_compiles`` counts
generated-code compiles across an entry's 3 runs; the class cache holds
a whole gate pass, so an entry that compiles on every run generates
different code each time. ``session`` records the start: the
``get_spark`` and ``warm`` walls, and the class-data-sharing archive
the driver JVM maps (null when it started without one; see
``session.class_archive``).

Only the full run writes a round-stamped ``BENCH_DETAIL_*`` file, since
those files are the gate's record.

On a loaded shared host, sub-10 s entries of one commit drift up to ~2x
between runs, so a move inside that band on such an entry is host
noise; a real regression shows as more than 2x, or as a consistent move
on the longer entries.

Scale legs run one process per query and per sf dir, e.g.

    for q in q_kcore q_triangle_count; do
      for d in "$SF_SMALL" "$SF_BIG"; do SPARK_GRAFT_SF_DIR="$d" python bench.py "$q"; done
    done

because heavy graph queries need a JVM each: in one JVM a later query's
``localCheckpoint`` can run out of memory while the ContextCleaner lags.
"""

from __future__ import annotations

import json
import os
import re
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import QUERIES
from pcap_to_parquet_spark.session import codegen_compiles, get_spark, mapped_archive

HEADLINE = [
    "q_flagship_revenue",   # 4-table join + agg + top-n
    "q_hash_agg",           # TPC-H Q1 shape
    "q_broadcast_join",     # dim broadcast + agg
    "q_window_frame",       # running/sliding frames
    "q_topk_per_group",     # WindowGroupLimit path
    "q_sessionize",         # two-window sessionization
    "q_dedup_exact",        # content-hash dedup
    "q_dedup_minhash",      # MinHash + LSH near-dedup
    "q_similarity_topk",    # brute-force cosine top-k
    "q_text_stats",         # tokenize + agg
    "q_pcap_pipeline",      # reference capability end-to-end
    "q_salted_join",        # skew path: salted hot-key join
    "q_dedup_clusters",     # iterative path: label propagation
    "q_sql_pricing_summary",  # TPC-H Q1 as SQL text: scan-bound agg
    "q_bm25",               # lexical retrieval: two aggs + broadcast
    "q_heavy_hitters",      # bounded-shuffle admission + recount
    "q_cdc_apply",          # max_by log compaction (agg, not sort)
    "q_ngram_lm_score",     # bigram LM train + score
    "q_countmin_topk",      # sketch build/merge/probe as relational algebra
    "q_scd2_lookup",        # temporal as-of dim join
    "q_minhash_exact",      # JVM-side LSH signatures
    "q_pagerank",           # iterative fixed-point graph kernel
    "q_knn_join",           # blocked all-vectors ANN retrieval
    "q_dup_span_coverage",  # positional-gram index + interval union
    "q_pq_ann",             # PQ codebook train + ADC + rerank
    "q_ivf_pq",             # coarse-quantizer + residual-PQ ANN
    "q_bpe_merges",         # iterative BPE trainer, 10 driver rounds
    "q_components_star",    # large-star/small-star connected components
    "q_triangle_count",     # degree-oriented wedge enumeration
    "q_dsir_weights",       # hashed-ngram importance weights
    "q_semdedup",           # blocked-gram semantic dedup decision
    "q_adamic_adar",        # degree-capped wedge link prediction
    "q_rake_keywords",      # stopword-run keyphrase extraction
    "q_kcore",              # peel to its fixed point, per-round checkpoint
    "q_unigram_lm",         # EM tokenizer over the weighted vocab
    "q_image_neardup",      # multi-index Hamming near-dup, image hashes
    "q_audio_neardup",      # multi-index Hamming near-dup, audio hashes
    "q_video_neardup",      # frame-sampled video near-dup
    "q_winnowing",          # MOSS windowed-argmin fingerprints
    "q_srp_recall",         # SRP-LSH recall qualification loop
    "q_lsh_recall",         # MinHash-banding recall audit
    "q_kmeans",             # 3-round Lloyd, exact-oracle variant
    "q_naive_bayes",        # in-engine multinomial NB train+score
    "q_conformal_intervals",  # Mondrian split-conformal coverage
    "q_bootstrap_ci",       # 200-replicate LCG bootstrap of daily mean
    "q_ips_eval",           # off-policy IPS/SNIPS scoring pass
    "q_kendall_tau",        # |days|^2 pair-concordance join
    "q_isotonic_calibration",  # PAV minimax fit over the score histogram
    "q_matryoshka_recall",  # dual full/prefix ranking overlap
    "q_referential_integrity",  # 7-edge FK orphan census
    "q_label_noise",        # sampled exact-kNN label audit
    "q_mrr_eval",           # broadcast-panel retrieval metric
    "q_kaplan_meier",       # per-user survival census
    "q_mann_whitney",       # value-grid rank-sum test
    "q_embed_decontaminate",  # eval-panel contamination report
    "q_fairness_audit",     # |sources|-row 2x2-confusion census
    "q_hill_tail",          # order-statistic tail-index estimator
    "q_pack_planner",       # NFD packing census over the length grid
    "q_lsh_precision",      # banding candidate-precision audit
    "q_token_fertility",    # per-lang BPE fertility census
    "q_dedup_threshold_curve",  # removal-vs-tau tuning curve
    "q_filter_attribution",  # quality-filter ablation census
    "q_vocab_coverage",     # top-K token-coverage curve
    "q_split_balance",      # split representativeness census
    "q_dedup_bias",         # per-lang dedup selection-bias census
    "q_lsh_planner",        # band-geometry planning table
    "q_filter_dedup_overlap",  # filter-vs-dedup ordering census
    "q_context_fit",        # max_seq_len truncation-cost grid
    "q_cluster_size_census",  # near-dup cluster shape census
    "q_dedup_source_census",  # within/cross-source dup provenance
    "q_stream_filter_attribution",  # ingest-path gate census twin
    "q_minhash_perm_sensitivity",  # signature-budget error census
    "q_ivf_probe_curve",    # nprobe recall-vs-scan frontier
    "q_session_quality",    # per-entry-type session census
    "q_pcap_flow_stats",    # per-flow timing/size features
    "q_session_transitions",  # session Markov/entropy census
    "q_stream_session_quality",  # closed-session census, ingest path
    "q_fulfillment_latency",  # order-to-ship latency census
    "q_repeat_cadence",     # per-nation reorder-gap census
    "q_skew_planner",       # join-key skew census
    "q_pcap_v6_flows",      # dual-stack NetFlow rollup, opt-in v6 decode
    "q_pcap_biflow",        # canonical-key direction pairing, IDS features
    "q_supplier_fulfillment",  # supplier-nation latency census, 2nd big-big join
    "q_pcap_talkers",       # endpoint in/out census, fan-out + exfil tells
    "q_winnowing_band",     # band-limited fingerprint pairing, near-dup scale path
    "q_winnowing_band_curve",  # recall-vs-band-count tuning table, audit slice
    "q_fulfillment_matrix",  # nation x priority CUBE drill-down
    "q_pcap_stream_biflow",  # live direction pairing on the ingest path
    "q_pcap_stream_closed_flows",  # watermark-evicted live flow table
    "q_winnowing_band_members",  # member-level banded near-dup pairs
    "q_winnowing_band_clusters",  # cluster labels under band recall
    "q_pcap_flow_timeout",  # NetFlow active/idle record splitting
    "q_pcap_stream_flow_records",  # live record export w/ bounded state
    "q_dedup_method_agreement",  # jaccard vs winnowing decision table
    "q_winnowing_band_survivors",  # fingerprint-axis keep-longest
    "q_pcap_flow_timeout_reset",  # reset-rule exporter twin
    "q_pcap_stream_talkers",  # live endpoint census over closed flows
    "q_dedup_simhash_clusters",  # SimHash-axis cluster labels
    "q_dedup_method_agreement3",  # three-way dedup decision table
    "q_band_filter_attribution",  # removed-mass x quality-gate census
    "q_dedup_simhash_survivors",  # SimHash-axis keep-longest
    "q_dedup_agreement_by_source",  # per-source method disagreement
]

# pcap -> zstd Parquet conversions: entry -> (packets, output dir name).
# The 1M-packet capture (73 MB) crosses the auto-chunk threshold, so it
# measures the chunked reader end to end (resync, decode, Parquet write).
CONVERTS = {
    "pcap_convert_250k": (250_000, "bench_pcap_out"),
    "pcap_convert_1m_chunked": (1_000_000, "bench_pcap_out_1m"),
}


def final_line(
    timings: dict, medians: dict, total: float, sf: float, detail_name: str | None
) -> str:
    """The compact final JSON line the driver parses: the per-query min
    dict plus the legacy "total" entry, and the per-query median of the
    3 runs (``queries_median``), so a sub-10 s mover can be judged
    against the median rather than a lucky or unlucky min. Two compact
    dicts (~6 KB for 104 entries) survive the driver's tail capture; a
    third did not. Additions only: never remove or rename an existing
    key or queries entry."""
    if "total" in timings:
        raise ValueError('a query named "total" would collide with the legacy total entry')
    return json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "sf": sf,
            "n_queries": len(timings),
            "queries": {**timings, "total": total},
            "detail": detail_name,
            "queries_median": medians,
        },
        separators=(",", ":"),
    )


def scale_factor(sf_dir: str) -> float:
    """The number of a trailing ``sf<number>`` path component, else -1.0
    (for example the vocabulary-growth set ``sf10v``)."""
    m = re.search(r"(?:^|/)sf(\d+(?:\.\d+)?)/*$", sf_dir)
    return float(m.group(1)) if m else -1.0


def detail_filename(repo: str, n_round: int, cpus: int, box_cpus: int) -> str:
    """Round-stamped detail-file name. A session on other than all of
    the box's ``box_cpus`` cores gets its own _c{cpus} family, so a
    scaling run on fewer cores never takes the name of a later round's
    full-box run. Existing files are never overwritten: letter-suffixed
    siblings keep every run's provenance."""
    ctag = "" if cpus == box_cpus else f"_c{cpus}"
    name = f"BENCH_DETAIL_r{n_round:02d}{ctag}.json"
    suffix = "b"
    while os.path.exists(os.path.join(repo, name)):
        name = f"BENCH_DETAIL_r{n_round:02d}{suffix}{ctag}.json"
        suffix = chr(ord(suffix) + 1)
    return name


def detail_round(repo: str, cpus: int, box_cpus: int) -> int:
    """$SPARK_GRAFT_ROUND, else the round the newest ``BENCH_r{N}.json``
    implies, and at least 10, the first stamped round. The driver
    writes round N's ``BENCH_r{N}.json`` when round N's gate ends. So
    a full-box run (``cpus == box_cpus``) is the next round's gate,
    N + 1, while a run on other than all of the box's cores is a
    post-gate scaling run of round N itself."""
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round:
        return int(env_round)
    rounds = [
        int(m.group(1)) for p in os.listdir(repo) if (m := re.fullmatch(r"BENCH_r(\d+)\.json", p))
    ]
    return max(max(rounds, default=9) + (cpus == box_cpus), 10)


def _big_pcap(n_packets: int = 250_000) -> str:
    """Deterministic n-packet capture (cached in the temp dir) for the
    reference-capability throughput bench."""
    from pcap_to_parquet_spark.sources.pcap_fixtures import (
        BASE_TS,
        eth,
        ipv4,
        mm_trailer,
        pcap_file,
        tcp,
        udp,
    )

    path = os.path.join(tempfile.gettempdir(), f"bench_{n_packets}.pcap")
    if not os.path.exists(path):
        udp_f = eth(ipv4(17, "10.0.0.1", "10.0.0.2", udp(1234, 5678)))
        tcp_f = eth(ipv4(6, "192.168.1.10", "192.168.1.20", tcp(80, 443)))
        mm_f = udp_f + mm_trailer(BASE_TS - 2, 500_000_123, 7, 3)
        mix = [udp_f, tcp_f, mm_f]
        recs = [(BASE_TS, len(mix[i % 3]), mix[i % 3]) for i in range(n_packets)]
        with open(path, "wb") as f:
            f.write(pcap_file(recs))
    return path


def noop(df) -> None:  # noqa: ANN001
    """Run ``df`` in full into the noop sink."""
    df.write.format("noop").mode("overwrite").save()


def warm(spark, sf_dir: str) -> None:  # noqa: ANN001
    """Pay the session's one-time costs before any timed run. The
    flagship query warms the JVM, codegen and the Parquet footer cache.
    A ``mapInPandas`` over 2 x defaultParallelism tasks fills the
    reusable Python worker pool; with one task only one worker would
    start, and later Arrow stages would pay the other spawns inside
    their measurement."""
    noop(QUERIES["q_flagship_revenue"](spark, sf_dir))
    n_workers = 2 * spark.sparkContext.defaultParallelism
    noop(spark.range(10_000, numPartitions=n_workers).toDF("x").mapInPandas(
        lambda it: it, schema="x long"
    ))


def entries(spark, sf_dir: str, names: list[str]) -> list[tuple]:  # noqa: ANN001
    """``(name, no-argument callable)`` for each name, in order. The
    captures are generated here, outside the timed region."""
    from pcap_to_parquet_spark.sources.pcap import convert_pcap

    out = []
    for name in names:
        if name in CONVERTS:
            n_packets, out_dir = CONVERTS[name]
            src, dst = _big_pcap(n_packets), os.path.join(tempfile.gettempdir(), out_dir)
            out.append((name, lambda s=src, d=dst: convert_pcap(spark, s, d)))
        else:
            out.append((name, lambda n=name: noop(QUERIES[n](spark, sf_dir))))
    return out


def main(argv: list[str] | None = None) -> None:
    """Time the entries named in ``argv`` (default: the command line),
    or every gate entry when none are named."""
    names = sys.argv[1:] if argv is None else list(argv)
    unknown = [n for n in names if n not in QUERIES and n not in CONVERTS]
    if unknown:
        sys.exit(f"unknown entries: {' '.join(unknown)}")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    t0 = time.time()
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")
    get_spark_s = time.time() - t0
    todo = entries(spark, sf_dir, names or HEADLINE + list(CONVERTS))
    t0 = time.time()
    warm(spark, sf_dir)
    session = {
        "get_spark_s": round(get_spark_s, 3),
        "warm_s": round(time.time() - t0, 3),
        "class_archive": mapped_archive(),
    }

    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name, run in todo:
        c0 = codegen_compiles(spark)
        runs = []
        for _ in range(3):
            t0 = time.time()
            run()
            runs.append(time.time() - t0)
        compiles[name] = codegen_compiles(spark) - c0
        cold[name] = round(runs[0], 3)
        ordered = sorted(runs)
        timings[name] = round(ordered[0], 3)
        medians[name] = round(ordered[1], 3)

    total = round(sum(timings.values()), 3)
    sf = scale_factor(sf_dir)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "value_median": round(sum(medians.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_cold": cold,
        "sf": sf,
        "queries_codegen_compiles": compiles,
        "session": session,
    }
    # The full record goes to a file as well as stdout: one line of it
    # outgrew the driver's tail capture once the gate passed ~40 entries.
    detail_name = None
    if not names:
        repo = os.path.dirname(os.path.abspath(__file__))
        cpus, box = spark.sparkContext.defaultParallelism, len(os.sched_getaffinity(0))
        detail_name = detail_filename(repo, detail_round(repo, cpus, box), cpus, box)
        with open(os.path.join(repo, detail_name), "w") as f:
            json.dump(full, f, indent=1)
    print(json.dumps(full))
    print(final_line(timings, medians, total, sf, detail_name))


if __name__ == "__main__":
    main()
