#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload star_schema_analytics --seed 1 \
        --seconds 15 --trace 0

Prints a human-readable summary, then, as the last line of stdout, one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``.  Run it from the root of a checkout that holds the engine.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench.harness import run_benchmark  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

# The end-to-end metrics BENCHMARK.json bounds.  Failures are bounded as
# the success share, because a failure share is 0 at every good commit and
# has no median to take a share of; ``attempted`` and ``failed`` carry the
# counts.  query_tail_s, which moved by a quarter between identical runs
# of the star workload, is printed but not bounded.
E2E = ("setup_s", "cold_setup_s", "pass_s", "query_p50_s", "ok_frac", "mem_mb")


def _summary(rec: dict) -> None:
    box = rec["box"]
    print(f"perfbench {rec['workload']} seed={rec['seed']} trace={int(rec['trace'])} "
          f"sf={box['sf']} keys={len(rec['keys'])} passes={len(rec['passes'])}")
    print("box: " + " ".join(f"{k}={v}" for k, v in box.items()))
    for i, p in enumerate(rec["passes"]):
        flag = "  HIGH STEAL" if p["high_steal"] else ""
        print(f"  pass {i} {p['mode']:6s} {p['wall']:8.3f} s  steal={p['steal_frac']:.4f}{flag}")
    for f in rec["failures"]:
        print(f"  FAIL {f['key']} [{f['phase']}] {f['error'][:200]}")
    for name, m in rec["metrics"].items():
        print(f"  {name:22s} {m['value']:12.4f} {m['unit']:6s} n={m['n']}")
    for name, m in rec.get("layers", {}).items():
        print(f"  {name:26s} {m['value']:12.4f} {m['unit']:6s} n={m['n']}")
    print("  timeline: " + " ".join(f"{k}={v:.1f}s" for k, v in rec["timeline"].items()))
    print(f"  record: {os.path.relpath(rec['path'])}")


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(os.getcwd(), "engine")):
        print("perfbench: run from the root of a checkout that holds engine/",
              file=sys.stderr)
        return 2
    rec = run_benchmark(a.workload, a.seed, a.seconds, bool(a.trace))
    _summary(rec)
    chosen = rec["layers"] if a.trace else {k: rec["metrics"][k] for k in E2E}
    print(json.dumps({
        "correct": not rec["failures"],
        "attempted": rec["attempted"],
        "failed": len(rec["failures"]),
        "metrics": {k: {"value": m["value"], "unit": m["unit"]} for k, m in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
