#!/usr/bin/env python3
"""Run the benchmark over several seeds and summarise each metric.

    python3 perfbench/sweep.py --workloads trickle stream_mix --seeds 1 10 [--trace 1] [--out FILE]

Runs ``perfbench/run.py`` once per (workload, seed), one after another,
with ``BENCHMARK.json``'s ``run_seconds``. For every metric it prints the
median, the quartiles and the quartile spread as a share of the median
(``statistics.quantiles(values, n=4)``), next to the metric's bound. With
``--out`` it also writes the summary, with every run's first summary
line, as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+", required=True)
    ap.add_argument("--seeds", nargs=2, type=int, metavar=("FIRST", "LAST"), required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    summary = {}
    for wl in args.workloads:
        runs = []
        for seed in range(args.seeds[0], args.seeds[1] + 1):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                   "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
                   "--trace", str(args.trace)]
            t0 = time.perf_counter()
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
            wall = time.perf_counter() - t0
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or not lines:
                print(f"{wl} seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
                return 1
            result = json.loads(lines[-1])
            runs.append({"seed": seed, "wall_s": wall, "info": json.loads(lines[0]), **result})
            print(f"{wl} seed {seed}: {wall:.1f} s, correct={result['correct']}", flush=True)
        metrics = {}
        for name in runs[0]["metrics"]:
            values = [r["metrics"][name]["value"] for r in runs]
            med = statistics.median(values)
            q1, _, q3 = statistics.quantiles(values, n=4)
            metrics[name] = {
                "unit": runs[0]["metrics"][name]["unit"],
                "median": med,
                "q1": q1,
                "q3": q3,
                "spread": (q3 - q1) / med if med else None,
                "bound": bounds.get(name),
            }
        summary[wl] = {
            "runs": len(runs),
            "all_correct": all(r["correct"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "attempted": sum(r["attempted"] for r in runs),
            "wall_s_median": statistics.median(r["wall_s"] for r in runs),
            "wall_s_max": max(r["wall_s"] for r in runs),
            "batches_median": statistics.median(len(r["info"]["batch_s"]) for r in runs),
            "metrics": metrics,
            "runs": [{"seed": r["seed"], "wall_s": r["wall_s"], **r["info"]} for r in runs],
        }
        print(f"== {wl}: {len(runs)} runs, wall median {summary[wl]['wall_s_median']:.1f} s")
        for name, m in metrics.items():
            spread = "n/a" if m["spread"] is None else f"{m['spread']:.4f}"
            bound = "" if m["bound"] is None else f"  bound {m['bound']}"
            print(f"  {name:<55} median {m['median']:<12.6g} spread {spread}{bound}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(summary, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
