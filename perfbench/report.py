#!/usr/bin/env python3
"""Where did the time go: read a traced run's record and print the split.

    python3 perfbench/report.py star_schema_analytics
    python3 perfbench/report.py llm_corpus_and_stream_io --key stream_smoke_tumbling

The workload view lists the per-layer metrics, largest time first, then
every key with its construct / plan / execute self times, jobs, io.load,
staging, Python time and streaming ledger, slowest first.  The key view
prints each traced execution of one key: its span tree, the Spark
metric classes of its jobs and every microbatch of its streaming
queries.  The record comes from ``run.py --trace 1`` on the same
checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.harness import work_dir  # noqa: E402
from perfbench.layers import MB, key_split  # noqa: E402


def load_record(workload: str, sf: float) -> dict:
    """The newest traced record of the workload."""
    paths = glob.glob(os.path.join(work_dir("records"), f"{workload}-sf{sf:g}-trace1-*.json"))
    if not paths:
        raise SystemExit(f"no traced record for {workload}; run "
                         f"perfbench/run.py --workload {workload} --trace 1 first")
    with open(max(paths, key=os.path.getmtime)) as f:
        return json.load(f)


def _traced_samples(rec: dict):
    for i, p in enumerate(rec["passes"]):
        if p["mode"] == "traced":
            for s in p["samples"]:
                yield i, s


def _streams_of(rec: dict, key: str, pass_no: int) -> list[dict]:
    return [q for q in rec["streams"].values()
            if q["key"] == key and q.get("pass") == pass_no]


def key_rows(rec: dict) -> list[dict]:
    """Median per-key split over the traced passes."""
    per_key: dict[str, list[dict]] = {}
    for pass_no, s in _traced_samples(rec):
        split = key_split(rec["spans"], s)
        own, jobs, calls = split["self"], split["jobs"], split["calls"]
        streams = _streams_of(rec, s["key"], pass_no)
        per_key.setdefault(s["key"], []).append({
            "wall": s["s"],
            "construct": own.get("construct", 0.0),
            "plan": own.get("plan", 0.0),
            "execute": own.get("execute", 0.0),
            "load_s": own.get("io.load", 0.0),
            "loads": calls.get("io.load", 0),
            "stage_s": own.get("core.stage", 0.0),
            "jobs": sum(jobs.values()) + s["spark"]["stream_jobs"],
            "python_s": s["spark"]["python_s"],
            "batches": sum(len(q["batches"]) for q in streams),
        })
    rows = []
    for key, xs in per_key.items():
        rows.append({"key": key, **{f: statistics.median(x[f] for x in xs)
                                    for f in xs[0]}})
    return sorted(rows, key=lambda r: -r["wall"])


def print_workload(rec: dict) -> None:
    print(f"{rec['workload']}  sf={rec['box']['sf']}  seed={rec['seed']}  "
          f"passes={len(rec['passes'])}")
    layers = rec["layers"]
    timed = sorted((n for n, m in layers.items() if m["unit"] == "s"),
                   key=lambda n: -layers[n]["value"])
    print("\nlayer times per pass (median over traced passes)")
    for n in timed:
        print(f"  {n:26s} {layers[n]['value']:10.3f} s")
    print("\ncounts, sizes and ratios")
    for n, m in layers.items():
        if m["unit"] != "s":
            print(f"  {n:26s} {m['value']:12.4f} {m['unit']}")
    cols = ("wall", "construct", "plan", "execute", "load_s", "loads", "stage_s",
            "jobs", "python_s", "batches")
    print("\n" + f"  {'key':38s}" + "".join(f"{c:>10s}" for c in cols))
    for r in key_rows(rec):
        print(f"  {r['key']:38s}" + "".join(
            f"{r[c]:10.3f}" if isinstance(r[c], float) else f"{r[c]:10d}"
            for c in cols))


def print_key(rec: dict, key: str) -> None:
    found = False
    for pass_no, s in _traced_samples(rec):
        if s["key"] != key:
            continue
        found = True
        print(f"{key}  pass {pass_no}  wall {s['s']:.3f} s"
              + (f"  FAILED in {s['phase']}: {s['error']}" if "error" in s else ""))
        root = s["span"]
        depth = {root: 0}
        for sp in rec["spans"][root + 1:]:
            if sp["parent"] is None:
                break
            depth[sp["id"]] = depth[sp["parent"]] + 1
            kids = sum(c["t1"] - c["t0"] for c in rec["spans"][sp["id"] + 1:]
                       if c["parent"] == sp["id"])
            own = sp["t1"] - sp["t0"] - kids
            print(f"  {'  ' * depth[sp['id']]}{sp['name']:20s} self {own:8.3f} s  "
                  f"total {sp['t1'] - sp['t0']:8.3f} s  jobs {len(sp['jobs'])}")
        m = s["spark"]
        print(f"  spark: stages {m['stages']}  tasks {m['tasks']} "
              f"(empty {m['empty_tasks']})  cpu {m['cpu_s']:.3f} s  gc {m['gc_s']:.3f} s  "
              f"streaming-thread jobs {m['stream_jobs']}")
        print(f"  scan {m['scan_rows']} rows / {m['scan_b'] / MB:.2f} MB  "
              f"exchange {m['shuffle_b'] / MB:.2f} MB  spill {m['spill_b'] / MB:.2f} MB  "
              f"write {m['write_b'] / MB:.2f} MB  python {m['python_s']:.3f} s / "
              f"{m['python_b'] / MB:.2f} MB")
        for q in _streams_of(rec, key, pass_no):
            life = (q["end"] - q["start"]) if q["start"] and q["end"] else float("nan")
            print(f"  stream query: {len(q['batches'])} batches, lifetime {life:.3f} s")
            for i, b in enumerate(q["batches"]):
                ms = b["ms"]
                print(f"    batch {i}: rows {b['rows']:7d}  trigger {ms.get('triggerExecution', 0):6d} ms"
                      f"  addBatch {ms.get('addBatch', 0):6d} ms  state rows {b['state_rows']}")
    if not found:
        raise SystemExit(f"{key} has no traced execution in this record")


def main() -> None:
    ap = argparse.ArgumentParser(description="Print a traced run's layer split.")
    ap.add_argument("workload")
    ap.add_argument("--key")
    ap.add_argument("--sf", type=float, default=0.1)
    a = ap.parse_args()
    rec = load_record(a.workload, a.sf)
    if a.key:
        print_key(rec, a.key)
    else:
        print_workload(rec)


if __name__ == "__main__":
    main()
