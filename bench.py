"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1)
on the session ``get_spark`` builds (local[$SPARK_GRAFT_CPUS], default
every core).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is materialized with the noop sink (full execution, no
driver collect bottleneck).

Methodology (round 3+): each query runs TWICE; ``queries`` reports the
min (steady-state — what a resident 100 TB service pays) and
``queries_cold`` the first run (includes one-time whole-stage-codegen
JIT and Python-worker spawn). Measured on this box: identical code
swings 2-5× between single-shot runs purely from host noise (shared-
host steal ~0-5%, JIT), e.g. q_sql_pricing_summary 0.88 s vs 8.7 s in
back-to-back runs — single-shot timings were not comparable
round-over-round, which is why r1/r2's single-shot totals (17.3/17.6 s
over fewer queries) can't be lined up against the r3+ total directly;
use ``queries_cold`` for the old methodology.

ACCEPTED VARIANCE BAND (recorded round 12, after three re-investigated
phantoms — r6, r10 q_fairness_audit, r11 q_lsh_precision 7.09 vs
4.38 s): even with the 2-run min, DRIVER-run timings on sub-10 s
entries drift up to ~2x vs a quiet-host run of the same commit (the
driver benches right after its own pytest sweep; load has not
drained). A no-code-change mover inside 2x on a sub-10 s entry is
host noise — record it, don't investigate. Genuine regressions show
up as >2x, or as any consistent move on the >10 s entries.

MEDIAN METHODOLOGY (round 13, per the r12 verdict's noise-discipline
ask): each query now runs THREE times back-to-back; ``queries`` keeps
the min (round-over-round comparable with every r3+ artifact) and the
new ``queries_median`` records the median of the 3 — one elevated run
(GC pause, steal burst, JIT re-entry) can no longer move the
cross-round comparison number, where a min can still be lucky and a
single-shot unlucky. Cross-round per-query comparisons should use
``queries_median`` from r13 on; r12-and-earlier details carry only
the min, so vs-r12 tables compare r13 medians against r12 mins and
say so.

``queries_codegen_compiles`` (detail file only) counts the
generated-code compiles (``CodeGenerator.cache`` misses) across each
entry's 3 runs. The cache holds a whole gate pass, so an entry that
compiles on every run generates different code each time.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import pcap_to_parquet_spark.operators  # noqa: F401
from pcap_to_parquet_spark.registry import QUERIES
from pcap_to_parquet_spark.session import codegen_compiles, get_spark

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
    "q_ngram_lm_score",     # bigram LM train + score (round 4)
    "q_countmin_topk",      # sketch build/merge/probe as relational algebra
    "q_scd2_lookup",        # temporal as-of dim join
    "q_minhash_exact",      # JVM-side LSH signatures (round 4b)
    "q_pagerank",           # iterative fixed-point graph kernel (round 4b)
    "q_knn_join",           # blocked all-vectors ANN retrieval (round 4b)
    "q_dup_span_coverage",  # positional-gram index + interval union (round 4c)
    "q_pq_ann",             # PQ codebook train + ADC + rerank (round 4c)
    "q_ivf_pq",             # coarse-quantizer + residual-PQ ANN (round 5)
    "q_bpe_merges",         # iterative BPE trainer, 10 driver rounds (round 5)
    "q_components_star",    # large-star/small-star connected components (round 5)
    "q_triangle_count",     # degree-oriented wedge enumeration (round 5)
    "q_dsir_weights",       # hashed-ngram importance weights (round 5)
    "q_semdedup",           # blocked-gram semantic dedup decision (round 5)
    "q_adamic_adar",        # degree-capped wedge link prediction (round 5)
    "q_rake_keywords",      # stopword-run keyphrase extraction (round 5)
    "q_kcore",              # peel to its fixed point, per-round checkpoint (round 5)
    "q_unigram_lm",         # EM tokenizer over the weighted vocab (round 5)
    "q_image_neardup",      # multi-index Hamming near-dup, image hashes (r6 add)
    "q_audio_neardup",      # multi-index Hamming near-dup, audio hashes (r6 add)
    "q_video_neardup",      # frame-sampled video near-dup (r6 add)
    "q_winnowing",          # MOSS windowed-argmin fingerprints (r6 add)
    "q_srp_recall",         # SRP-LSH recall qualification loop (r6 add)
    "q_lsh_recall",         # MinHash-banding recall audit (r6 add)
    "q_kmeans",             # 3-round Lloyd, exact-oracle variant (r6 add)
    "q_naive_bayes",        # in-engine multinomial NB train+score (r7 add)
    "q_conformal_intervals",  # Mondrian split-conformal coverage (r7 add)
    "q_bootstrap_ci",       # 200-replicate LCG bootstrap of daily mean (r7 add)
    "q_ips_eval",           # off-policy IPS/SNIPS scoring pass (r7 add)
    "q_kendall_tau",        # |days|^2 pair-concordance join (r8 add)
    "q_isotonic_calibration",  # PAV minimax fit over the score histogram (r8 add)
    "q_matryoshka_recall",  # dual full/prefix ranking overlap (r8 add)
    "q_referential_integrity",  # 7-edge FK orphan census (r8 add)
    "q_label_noise",        # sampled exact-kNN label audit (r9 add)
    "q_mrr_eval",           # broadcast-panel retrieval metric (r9 add)
    "q_kaplan_meier",       # per-user survival census (r9 add)
    "q_mann_whitney",       # value-grid rank-sum test (r9 add)
    "q_embed_decontaminate",  # eval-panel contamination report (r9 add)
    "q_fairness_audit",     # |sources|-row 2x2-confusion census (r10 add)
    "q_hill_tail",          # order-statistic tail-index estimator (r10 add)
    "q_pack_planner",       # NFD packing census over the length grid (r10 add)
    "q_lsh_precision",      # banding candidate-precision audit (r10 add)
    "q_token_fertility",    # per-lang BPE fertility census (r11 add)
    "q_dedup_threshold_curve",  # removal-vs-tau tuning curve (r11 add)
    "q_filter_attribution",  # quality-filter ablation census (r11 add)
    "q_vocab_coverage",     # top-K token-coverage curve (r11 add)
    "q_split_balance",      # split representativeness census (r11 add)
    "q_dedup_bias",         # per-lang dedup selection-bias census (r11 add)
    "q_lsh_planner",        # band-geometry planning table (r11 add)
    "q_filter_dedup_overlap",  # filter-vs-dedup ordering census (r11 add)
    "q_context_fit",        # max_seq_len truncation-cost grid (r11 add)
    "q_cluster_size_census",  # near-dup cluster shape census (r11 add)
    "q_dedup_source_census",  # within/cross-source dup provenance (r11 add)
    "q_stream_filter_attribution",  # ingest-path gate census twin (r11 add)
    "q_minhash_perm_sensitivity",  # signature-budget error census (r11 add)
    "q_ivf_probe_curve",    # nprobe recall-vs-scan frontier (r11 add)
    "q_session_quality",    # per-entry-type session census (r12 add)
    "q_pcap_flow_stats",    # per-flow timing/size features (r12 add)
    "q_session_transitions",  # session Markov/entropy census (r12 add)
    "q_stream_session_quality",  # closed-session census, ingest path (r12 add)
    "q_fulfillment_latency",  # order-to-ship latency census (r12 add)
    "q_repeat_cadence",     # per-nation reorder-gap census (r12 add)
    "q_skew_planner",       # join-key skew census (r12 add)
    "q_pcap_v6_flows",      # dual-stack NetFlow rollup, opt-in v6 decode (r13 add)
    "q_pcap_biflow",        # canonical-key direction pairing, IDS features (r13 add)
    "q_supplier_fulfillment",  # supplier-nation latency census, 2nd big-big join (r13 add)
    "q_pcap_talkers",       # endpoint in/out census, fan-out + exfil tells (r13 add)
    "q_winnowing_band",     # band-limited fingerprint pairing, near-dup scale path (r13 add)
    "q_winnowing_band_curve",  # recall-vs-band-count tuning table, audit slice (r13 add)
    "q_fulfillment_matrix",  # nation x priority CUBE drill-down (r13 add)
    "q_pcap_stream_biflow",  # live direction pairing on the ingest path (r13 add)
    "q_pcap_stream_closed_flows",  # watermark-evicted live flow table (r14 add)
    "q_winnowing_band_members",  # member-level banded near-dup pairs (r14 add)
    "q_winnowing_band_clusters",  # cluster labels under band recall (r14 add)
    "q_pcap_flow_timeout",  # NetFlow active/idle record splitting (r14 add)
    "q_pcap_stream_flow_records",  # live record export w/ bounded state (r14 add)
    "q_dedup_method_agreement",  # jaccard vs winnowing decision table (r14 add)
    "q_winnowing_band_survivors",  # fingerprint-axis keep-longest (r14 add)
    "q_pcap_flow_timeout_reset",  # reset-rule exporter twin (r14 add)
    "q_pcap_stream_talkers",  # live endpoint census over closed flows (r15 add)
    "q_dedup_simhash_clusters",  # SimHash-axis cluster labels (r15 add)
    "q_dedup_method_agreement3",  # three-way dedup decision table (r15 add)
    "q_band_filter_attribution",  # removed-mass x quality-gate census (r15 add)
    "q_dedup_simhash_survivors",  # SimHash-axis keep-longest (r15 add)
    "q_dedup_agreement_by_source",  # per-source method disagreement (r15 add)
]

# round-over-round reference (same box, sf0.1, local[32]):
# BENCH_r01 headline total was 17.33 s over the first 12 entries —
# compare per-query, not totals, when the headline list grows.
#
# Round-15 optimization note: the dedup label frames are NOT shared
# across invocations (_shared_labels in operators/llm.py computes
# fresh per call) — every run of every agreement-census entry pays its
# clusterings in full, so min/median price the whole computation.


def final_line(
    timings: dict, medians: dict, total: float, sf: float, detail_name: str
) -> str:
    """The compact final JSON line the driver parses: the real
    per-query min dict PLUS the legacy "total" entry, and the per-query
    median of the 3 runs (``queries_median``), so a sub-10 s mover can
    be judged against the median rather than a lucky or unlucky min.
    Two compact dicts (~6 KB for 104 entries) survive the tail
    capture; the r06 overflow was the three-dict full line. Additions
    only: never remove or rename an existing key or queries entry."""
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


def detail_filename(repo: str, n_round: int, cpus: int, box_cpus: int) -> str:
    """Round-stamped detail-file name. A session on other than all of
    the box's ``box_cpus`` cores gets its own _c{cpus} family: a
    scaling run on fewer cores happens AFTER the round's gate has
    written BENCH_r{N}.json, so the max+1 round inference would stamp
    it N+1 and round N+1's genuine detail would collide (this bit round
    15: the 8-core detail landed as BENCH_DETAIL_r16.json). Existing
    files are never overwritten — letter-suffixed siblings keep every
    run's provenance."""
    ctag = "" if cpus == box_cpus else f"_c{cpus}"
    name = f"BENCH_DETAIL_r{n_round:02d}{ctag}.json"
    suffix = "b"
    while os.path.exists(os.path.join(repo, name)):
        name = f"BENCH_DETAIL_r{n_round:02d}{suffix}{ctag}.json"
        suffix = chr(ord(suffix) + 1)
    return name


def _big_pcap(n_packets: int = 250_000) -> str:
    """Deterministic n-packet capture (cached in /tmp) for the
    reference-capability throughput bench."""
    import tempfile

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


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark = get_spark("bench")
    spark.sparkContext.setLogLevel("ERROR")

    def run_once(name: str) -> float:
        t0 = time.time()
        QUERIES[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        return time.time() - t0

    run_once("q_flagship_revenue")  # warmup (JVM + codegen + parquet footer cache)
    # python-worker-pool warmup (same startup class as the JVM warmup:
    # the first Arrow/pandas job otherwise pays worker spawn inside its
    # measurement). 2× cpu partitions so the REUSABLE POOL actually
    # fills — a 1-partition warmup spawns a single worker and every
    # later Arrow stage still pays 31 process spawns + numpy imports
    # inside its measurement.
    n_workers = 2 * spark.sparkContext.defaultParallelism
    spark.range(10_000, numPartitions=n_workers).toDF("x").mapInPandas(
        lambda it: it, schema="x long"
    ).write.format("noop").mode("overwrite").save()

    cold: dict[str, float] = {}
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    compiles: dict[str, int] = {}
    for name in HEADLINE:
        c0 = codegen_compiles(spark)
        runs = [run_once(name) for _ in range(3)]
        compiles[name] = codegen_compiles(spark) - c0
        cold[name] = round(runs[0], 3)
        ordered = sorted(runs)
        timings[name] = round(ordered[0], 3)
        medians[name] = round(ordered[1], 3)

    # reference capability at scale: 250k-packet pcap -> zstd parquet
    import tempfile

    from pcap_to_parquet_spark.sources.pcap import convert_pcap

    def convert_timed(name: str, path: str, out: str) -> None:
        c0 = codegen_compiles(spark)
        times = []
        for _ in range(3):
            t0 = time.time()
            convert_pcap(spark, path, out)
            times.append(time.time() - t0)
        compiles[name] = codegen_compiles(spark) - c0
        cold[name] = round(times[0], 3)
        ordered = sorted(times)
        timings[name] = round(ordered[0], 3)
        medians[name] = round(ordered[1], 3)

    convert_timed(
        "pcap_convert_250k",
        _big_pcap(),
        os.path.join(tempfile.gettempdir(), "bench_pcap_out"),
    )
    # intra-file parallel path: 73 MB crosses the auto-chunk threshold,
    # so this measures the chunked reader end-to-end (resync + decode +
    # parquet write across all cores)
    convert_timed(
        "pcap_convert_1m_chunked",
        _big_pcap(1_000_000),
        os.path.join(tempfile.gettempdir(), "bench_pcap_out_1m"),
    )
    total = round(sum(timings.values()), 3)
    total_median = round(sum(medians.values()), 3)
    full = {
        "metric": "headline_queries_total",
        "value": total,
        "value_median": total_median,
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "queries_cold": cold,
        "sf": sf,
        "queries_codegen_compiles": compiles,
    }
    # Full per-query detail goes to a file: the single-line dict outgrew
    # the driver's stdout tail capture once HEADLINE passed ~40 entries
    # (BENCH_r06 recorded parsed:null from a mid-truncated line).
    # The file is ROUND-STAMPED (BENCH_DETAIL_r{N}.json) so the driver's
    # per-round run stops clobbering the committed quiet-host detail of
    # earlier rounds — per-query history stays diffable round over round.
    # The legacy un-stamped BENCH_DETAIL.json (rounds <= 9) is no longer
    # written. The stamp is max(BENCH_r*) + 1: BENCH_r{N}.json is written
    # by the driver's gate at the END of round N, so while round N is in
    # progress max == N-1. That inference is wrong for a re-run AFTER the
    # gate has already recorded this round's BENCH_r{N} (it would stamp
    # N+1 and round N+1's genuine run would overwrite it) — for such
    # post-gate re-runs set SPARK_GRAFT_ROUND explicitly. Within a round,
    # latest-wins overwrite of the same stamp is intended. Stamping began
    # at round 10, so the no-artifacts edge floors at 10 rather than
    # fabricating an r01 that never existed.
    import glob
    import re

    repo = os.path.dirname(os.path.abspath(__file__))
    env_round = os.environ.get("SPARK_GRAFT_ROUND")
    if env_round:
        n_round = int(env_round)
    else:
        rounds = [
            int(m.group(1))
            for p in glob.glob(os.path.join(repo, "BENCH_r*.json"))
            if (m := re.search(r"BENCH_r(\d+)\.json$", p))
        ]
        n_round = max(max(rounds, default=9) + 1, 10)
    # Overwrite guard (round-11 ADVICE): the builder's committed
    # quiet-host run and the driver's per-round run both stamp the same
    # N (BENCH_r{N}.json doesn't exist until the driver's gate writes
    # it), so a bare write would clobber the committed artifact. If the
    # stamped file already exists, keep it and write the first free
    # letter-suffixed sibling instead (r11b, r11c, ...): provenance of
    # every run survives, and the round's committed quiet number is
    # whichever the builder chose to commit.
    detail_name = detail_filename(
        repo, n_round, spark.sparkContext.defaultParallelism, len(os.sched_getaffinity(0))
    )
    with open(os.path.join(repo, detail_name), "w") as f:
        json.dump(full, f, indent=1)
    print(json.dumps(full))
    # Final line: per-query resolution for PERF (r15's PERF could only
    # compare "total") — see final_line's docstring for the contract.
    print(final_line(timings, medians, total, sf, detail_name))


if __name__ == "__main__":
    main()
