#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at sf0.001 with one key per workload.

    python3 perfbench/selftest.py

For each workload it makes one short traced run and asserts that:
- the correctness gate passes and no key fails;
- every metric BENCHMARK.json names is emitted, with the same unit;
- each key's traced layer self times add up to its wall time, within
  the run's measured tracing overhead;
- each key stages as many artifacts as its workload declares;
- the streaming layer is busy only on the streaming workload.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench.harness import run_benchmark  # noqa: E402
from perfbench.layers import key_split  # noqa: E402
from perfbench.run import E2E  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

SMOKE_SF = 0.001
SMOKE_KEYS = {
    "star_schema_analytics": "tpch_q3_top_orders",
    "llm_corpus_and_stream_io": "stream_smoke_tumbling",
}
# End-to-end metrics the summary prints that BENCHMARK.json does not bound.
REPORTED_ONLY = {"query_tail_s": "s"}
# Span bookkeeping between layers (job-group calls) per key, in seconds.
_SLACK_S = 0.02


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {msg}")


def main() -> None:
    with open(os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e_units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer_units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    check(set(e2e_units) == set(E2E), f"BENCHMARK.json end_to_end {sorted(e2e_units)} "
          f"!= run.py {sorted(E2E)}")
    for workload, key in SMOKE_KEYS.items():
        check(key in WORKLOADS[workload].keys, f"{key} is not in {workload}")
        rec = run_benchmark(workload, seed=1, seconds=0.1, trace=True,
                            sf=SMOKE_SF, keys=[key])
        check(not rec["failures"], f"{workload}: failures {rec['failures']}")
        for name, unit in {**e2e_units, **REPORTED_ONLY}.items():
            m = rec["metrics"].get(name)
            check(m is not None and m["unit"] == unit, f"{workload}: e2e {name} [{unit}] {m}")
        for name, unit in layer_units.items():
            m = rec["layers"].get(name)
            check(m is not None and m["unit"] == unit, f"{workload}: layer {name} [{unit}] {m}")
        overhead = max(0.0, rec["layers"]["trace.overhead_frac"]["value"])
        declared = WORKLOADS[workload].staged.get(key, 0)
        for p in rec["passes"]:
            for s in p["samples"] if p["mode"] == "traced" else ():
                split = key_split(rec["spans"], s)
                gap = split["self"]["unattributed"]
                check(0 <= gap <= overhead * s["s"] + _SLACK_S,
                      f"{key}: layers leave {gap:.4f} s of {s['s']:.4f} s unattributed "
                      f"(overhead {overhead:.3f})")
                calls = split["calls"].get("core.stage", 0)
                check(calls == declared, f"{key}: stages {calls} artifacts, declared {declared}")
        batches = rec["layers"]["streaming.batches"]["value"]
        streaming = workload == "llm_corpus_and_stream_io"
        check((batches > 0) == streaming, f"{workload}: streaming.batches = {batches}")
        print(f"selftest ok: {workload} ({key}), overhead {overhead:.3f}")


if __name__ == "__main__":
    main()
