"""Run a workload once per seed and summarise each end-to-end metric.

    python3 perfbench/spread.py --workload query_mix --seeds 1-10 [--out FILE] [--against FILE]

Run from the repository root. For every metric it prints the median of
the per-seed values and the distance between their first and third
quartiles as a share of that median (``statistics.quantiles(n=4)``),
next to the metric's bound from BENCHMARK.json. ``--out`` also writes the
per-seed results and detail records as JSON. ``--against`` names an
earlier ``--out`` file of the same workload: each metric's median is then
compared with that set's, as the share by which it got worse.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import median, quartile_spread  # noqa: E402


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--out")
    ap.add_argument("--against")
    args = ap.parse_args()
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    runs = []
    for seed in _seeds(args.seeds):
        cmd = bench["command"] + [
            "--workload", args.workload, "--seed", str(seed),
            "--seconds", str(bench["run_seconds"]), "--trace", "0",
        ]
        t0 = time.time()
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result, detail = json.loads(lines[-1]), json.loads(lines[-2])
        runs.append({"seed": seed, "wall_s": time.time() - t0, "result": result, "detail": detail})
        vals = {k: round(v["value"], 4) for k, v in result["metrics"].items()}
        print(f"seed {seed} ({runs[-1]['wall_s']:.0f} s, correct={result['correct']}): {vals}",
              flush=True)
    summary = {}
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        spread = quartile_spread(vals)
        summary[name] = {"median": median(vals), "spread": spread, "bound": bounds[name]}
        print(f"{name:16s} median {median(vals):12.4f}  spread {spread:.4f}  bound {bounds[name]}")
    if args.against:
        with open(args.against) as fh:
            first = json.load(fh)["summary"]
        better = {m["name"]: m["better"] for m in bench["end_to_end"]}
        for name, s in summary.items():
            a, b = first[name]["median"], s["median"]
            worse = (b - a) / a if better[name] == "lower" else (a - b) / a
            s["worse_than_first"] = worse
            print(f"{name:16s} first median {a:12.4f}  worse by {worse:+.4f}  bound {s['bound']}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "summary": summary, "runs": runs}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
