#!/usr/bin/env python3
"""Capture a baseline: run every workload `--runs` times with consecutive
seeds, plus `--trace-runs` traced runs, and write the medians, quartiles and
spreads (interquartile distance / median) of every metric as JSON, with the
cost of tracing: the untraced median over the traced median, minus 1.

    python3 perfbench/capture.py --runs 10 --seconds 25 --first-seed 201 \\
        --trace-runs 1 --out perfbench/baseline.json

A later change cites the same capture on its parent and on itself.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def one_run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    t0 = time.time()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        capture_output=True, text=True, cwd=os.path.dirname(HERE), check=True)
    lines = out.stdout.strip().splitlines()
    return {"seed": seed, "wall_s": round(time.time() - t0, 1),
            "info": json.loads(lines[-2])["info"], "result": json.loads(lines[-1])}


def summarize(runs: list[dict]) -> dict:
    out = {}
    for name in runs[0]["result"]["metrics"]:
        vals = [r["result"]["metrics"][name]["value"] for r in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (med, med, med)
        out[name] = {"unit": runs[0]["result"]["metrics"][name]["unit"], "median": med,
                     "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0,
                     "values": vals}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=25)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace-runs", type=int, default=1)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    capture = {"host": {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2 ** 20, 1),
                        "machine": platform.machine(), "python": platform.python_version()},
               "seconds": args.seconds, "workloads": {}}
    for wl in run.WORKLOADS:
        seeds = range(args.first_seed, args.first_seed + args.runs)
        plain = [one_run(wl, s, args.seconds, 0) for s in seeds]
        traced = [one_run(wl, args.first_seed + args.runs + i, args.seconds, 1)
                  for i in range(args.trace_runs)]
        e2e = summarize(plain)
        layers = summarize(traced) if traced else {}
        capture["workloads"][wl] = {
            "seeds": list(seeds),
            "all_correct": all(r["result"]["correct"] for r in plain + traced),
            "wall_s_median": statistics.median(r["wall_s"] for r in plain),
            "end_to_end": e2e,
            "per_layer": layers,
            "tracing_overhead_pct": {
                "ops_per_s": 100 * (e2e["ops_per_s"]["median"]
                                    / layers["trace.ops_per_s"]["median"] - 1),
                "latency_ms": 100 * (layers["trace.latency_ms"]["median"]
                                     / e2e["latency_ms"]["median"] - 1),
            } if traced else {},
            "op_ms_median": {k: statistics.median(r["info"]["op_ms"][k] for r in plain
                                                  if k in r["info"]["op_ms"])
                             for k in dict.fromkeys(k for r in plain for k in r["info"]["op_ms"])},
            "cpu": [r["info"]["cpu"] for r in plain],
        }
    with open(args.out, "w") as f:
        json.dump(capture, f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
