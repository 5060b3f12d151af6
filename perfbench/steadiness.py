#!/usr/bin/env python3
"""Repeat the benchmark over many seeds and write the baseline.

    python3 perfbench/steadiness.py [--out FILE]

For each workload it makes ``RUNS`` plain runs, each with another seed,
and one traced run, all through ``run.py`` as separate processes.  For
every metric it reports the median, the quartiles (``statistics.
quantiles(values, n=4)``) and the spread: the distance between the
quartiles as a share of the median.  The result goes to
``perfbench/baseline.json`` (or ``--out``), with each workload's keys and
the bounds BENCHMARK.json sets.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

RUNS = 10
FIRST_SEED = 100


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH_DIR, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=180, check=True)
    result = json.loads(out.stdout.strip().splitlines()[-1])
    result["elapsed_s"] = time.perf_counter() - t0
    return result


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main() -> None:
    ap = argparse.ArgumentParser(description="Measure the benchmark's spread.")
    ap.add_argument("--out", default=os.path.join(BENCH_DIR, "baseline.json"))
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {"run_seconds": seconds, "runs": RUNS, "bounds": bounds, "workloads": {}}
    for w in sorted(WORKLOADS):
        plain = [run_once(w, FIRST_SEED + i, seconds, 0) for i in range(RUNS)]
        traced = run_once(w, FIRST_SEED, seconds, 1)
        metrics = {name: summarize([r["metrics"][name]["value"] for r in plain])
                   for name in plain[0]["metrics"]}
        report["workloads"][w] = {
            "why": WORKLOADS[w].why,
            "keys": list(WORKLOADS[w].keys),
            "all_correct": all(r["correct"] for r in plain + [traced]),
            "elapsed_s": summarize([r["elapsed_s"] for r in plain]),
            "end_to_end": metrics,
            "per_layer": {k: v["value"] for k, v in traced["metrics"].items()},
        }
        for name, m in metrics.items():
            print(f"{w:24s} {name:14s} median {m['median']:10.4f}  spread {m['spread']:.4f}"
                  f"  bound {bounds.get(name, float('nan'))}")
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
