"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload pcap --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs come from ``--seed``;
one client runs operations back to back (closed loop) for ``--seconds``
on ``local[<cores>]``, where cores is the CPU affinity of this process.
The second-to-last line of standard output is a JSON detail record
(inputs, stamps, the workload's own figures, each with unit and sample
count); the last line is the result:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones of BENCHMARK.json; with ``--trace 1`` the
per-layer ones, and spans plus self times go to
``perfbench/.work/results/``. Scratch data stays under
``perfbench/.work/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import random
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from stats import geomean, median  # noqa: E402


def _env(root: str, work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout and size the
    program's session from this machine's cores."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    os.chdir(root)


def _warmup(spark, cores: int) -> None:  # noqa: ANN001
    """Fill the Python worker pool: two tasks per core through Arrow."""
    spark.range(cores * 1000, numPartitions=2 * cores).toDF("x").mapInPandas(
        lambda it: it, schema="x long"
    ).write.format("noop").mode("overwrite").save()


def _setup(cores: int):  # noqa: ANN202
    from pcap_to_parquet_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", cores)
    spark.sparkContext.setLogLevel("ERROR")
    t1 = time.perf_counter()
    _warmup(spark, cores)
    return spark, t1 - t0, time.perf_counter() - t1


def _shutdown(spark) -> None:  # noqa: ANN001
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    try:
        gateway.shutdown()
    finally:
        if proc.stdin:
            proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any failure to end it gets a kill
            proc.kill()
            proc.wait(timeout=30)


def _stamp(cores: int) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "cores": cores,
        "host": platform.node(),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
    }


def run(workload: str, seed: int, seconds: float, trace: bool, root: str) -> tuple[dict, dict]:
    """One run: returns (result line, detail record)."""
    sys.path.insert(0, root)
    import workloads as wmod
    from layers import kernel_probe, module_metrics, per_layer_units, tables_load_s
    from observe import Tracer, tree_rss_mb

    work = os.path.join(HERE, ".work")
    cores = len(os.sched_getaffinity(0))
    _env(root, work, cores)
    t_imp = time.perf_counter()
    import pcap_to_parquet_spark.operators  # noqa: F401 - registers the queries

    import_s = time.perf_counter() - t_imp
    spark, get_s, pool_s = _setup(cores)
    tracer = Tracer(enabled=False)
    ctx = wmod.Context(spark, seed, work, cores, tracer)
    wl = wmod.WORKLOADS[workload]()
    rng = random.Random(seed)
    attempted = failed = 0
    errors: list[str] = []

    def attempt(fn, *args, **kwargs):  # noqa: ANN001, ANN202
        nonlocal attempted, failed
        attempted += 1
        try:
            t0 = time.perf_counter()
            fn(*args, **kwargs)
            return time.perf_counter() - t0
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            failed += 1
            errors.append(traceback.format_exc(limit=3))
            return None

    def check(kind: str) -> None:
        nonlocal failed
        err = wl.verify(ctx, kind)
        if err:
            failed += 1
            errors.append(f"{kind}: {err}")

    t_gen = time.perf_counter()
    wl.prepare(ctx)
    gen_s = time.perf_counter() - t_gen

    # warm pass: every kind once, outputs checked
    warm_kinds = next(wl.passes(random.Random(seed)))
    warm_s: dict[str, float | None] = {}
    for kind in warm_kinds:
        extra = {"collect": True} if workload == "query_mix" else {}
        warm_s[kind] = attempt(wl.run, ctx, kind, -1, **extra)
        if warm_s[kind] is not None:
            check(kind)

    lat: dict[str, list[float]] = defaultdict(list)
    traced_lat: dict[str, list[float]] = defaultdict(list)
    passes = wl.passes(rng)
    op = 0
    n_pass = 0
    t_start = time.perf_counter()
    # A traced run first makes one more untimed pass (the first timed pass
    # after the check pass still runs slower), then alternates traced and
    # untraced passes as T U U T, at least once through, so drift and pass
    # order cancel in the overhead.
    pass_op_s: list[float] = []  # operation time of each pass, for drift
    while time.perf_counter() - t_start < seconds or (trace and n_pass < 5):
        warming = trace and n_pass == 0
        traced = trace and n_pass % 4 in (1, 0) and not warming
        tracer.enabled = traced
        pass_op_s.append(0.0)
        for kind in next(passes):
            dt = attempt(wl.run, ctx, kind, op)
            pass_op_s[-1] += dt or 0.0
            if dt is not None and traced and hasattr(wl, "plan"):
                wl.plan(ctx, op)
            op += 1
            if dt is None or warming:
                continue
            (traced_lat if traced else lat)[kind].append(dt)
            if workload == "pcap" and kind != "convert":
                check(kind)
        n_pass += 1
    window_s = time.perf_counter() - t_start
    rss_mb = tree_rss_mb(os.getpid())  # sampled outside the timed window
    tracer.enabled = trace
    if workload == "pcap":
        check("convert")  # the last conversion's output

    detail: dict = {
        "workload": workload,
        "seed": seed,
        "seconds": seconds,
        "trace": int(trace),
        "stamp": _stamp(cores),
        "inputs": wl.inputs(),
        "import_s": import_s,
        "gen_s": gen_s,
        "warm_op_s": warm_s,
        "window_s": window_s,
        "passes": n_pass,
        "pass_op_s": pass_op_s,
        "session_get_spark_s": get_s,
        "session_warmup_s": pool_s,
    }
    metrics: dict[str, dict] = {}
    if trace:
        layer: dict[str, float | None] = {
            "session.get_spark_s": get_s,
            "session.warmup_s": pool_s,
        }
        probe_path = wl.probe_path
        if probe_path is None:
            cap = wmod.generate(wmod.PROBE_SPEC, seed, os.path.join(work, "inputs"))
            probe_path = cap.paths[0]
        scan_glob = wl.glob or probe_path
        layer.update(kernel_probe(spark, probe_path, scan_glob, work, tracer))
        mix = wl if workload == "query_mix" else wmod.QueryMix()
        if mix is not wl:  # one cold, traced sweep covers the operator modules
            mix.prepare(ctx)
            for kind in next(mix.passes(random.Random(seed))):
                if attempt(mix.run, ctx, kind, op) is not None:
                    mix.plan(ctx, op)
                op += 1
        layer["tables.load_s"] = tables_load_s(spark, mix.sf_dir, tracer)
        mod, per_op = module_metrics(spark, tracer, cores)
        layer.update(mod)
        units = per_layer_units()
        metrics = {k: {"value": layer[k], "unit": units[k]} for k in units}
        overhead = {
            k: median(traced_lat[k]) / median(lat[k]) - 1
            for k in lat if traced_lat.get(k)
        }
        detail["tracing_overhead"] = {
            "per_kind": overhead,
            "median": median(list(overhead.values())) if overhead else None,
            "unit": "share",
            "samples_per_side": {k: [len(traced_lat[k]), len(lat[k])] for k in overhead},
        }
        detail["self_times_s"] = tracer.self_times()
        os.makedirs(os.path.join(work, "results"), exist_ok=True)
        with open(os.path.join(work, "results", f"trace-{workload}-s{seed}.json"), "w") as fh:
            json.dump({**detail, "metrics": metrics, "ops": per_op,
                       "spans": tracer.to_json()}, fh, indent=1)
    if not trace:
        every = [x for v in lat.values() for x in v]
        metrics = {
            # the cold start a user waits through: JVM launch, session,
            # worker warmup; one per run, its spread is taken across runs
            "setup_s": {"value": get_s + pool_s, "unit": "s"},
            "ops_per_min": {"value": 60 * len(every) / sum(every), "unit": "1/min"},
            "kind_geomean_s": {
                "value": geomean([median(v) for v in lat.values() if v]), "unit": "s",
            },
        }
        detail["rss_after_window_mb"] = {"value": rss_mb, "unit": "MB", "n": 1}
        detail.update(wl.detail(lat))
    detail["failed_ops_share"] = {"value": failed / max(attempted, 1), "unit": "share", "n": attempted}
    detail["errors"] = errors[:5]
    if hasattr(wl, "close"):
        wl.close()
    _shutdown(spark)
    result = {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}
    return result, detail


def _expected_names(root: str, trace: bool) -> list[str]:
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["pcap", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "pcap_to_parquet_spark")):
        print(f"no pcap_to_parquet_spark package under {root}; run from the repo root",
              file=sys.stderr)
        return 2
    expected = _expected_names(root, bool(args.trace))
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace), root)
    bad = [
        k for k in expected
        if k not in result["metrics"]
        or not isinstance(result["metrics"][k]["value"], (int, float))
        or not math.isfinite(result["metrics"][k]["value"])
    ]
    extra = sorted(set(result["metrics"]) - set(expected))
    if bad or extra:
        print(f"metrics missing or not finite: {bad}; not in BENCHMARK.json: {extra}",
              file=sys.stderr)
        print(json.dumps(detail, default=str), file=sys.stderr)
        return 3
    result["metrics"] = {k: result["metrics"][k] for k in expected}
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
