"""Per-layer metrics from a traced run's record.

A key's span tree is ``key -> construct / execute``, with ``io.load``
and ``core.stage`` spans nested under construct and ``plan`` (the
write's analysis, optimisation and planning) under execute.  A span's
self time is its duration minus its children's; jobs are charged to the
span whose job group launched them.  Per-pass sums are taken over the
traced passes and each metric reports their median.
"""

from __future__ import annotations

import statistics

MB = 1024 * 1024

UNITS = {
    "core.construct_s": "s", "core.construct_jobs": "count",
    "core.construct_share": "frac",
    "io.load_calls": "count", "io.load_s": "s", "io.load_jobs": "count",
    "plan.s": "s",
    "core.stage_calls": "count", "core.stage_builds": "count", "core.stage_s": "s",
    "streaming.queries": "count", "streaming.batches": "count",
    "streaming.empty_batches": "count", "streaming.batch_s": "s",
    "streaming.addbatch_s": "s", "streaming.empty_batch_s": "s",
    "streaming.startstop_s": "s", "streaming.state_rows": "count",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.empty_task_frac": "frac",
    "exec.task_skew": "ratio", "exec.cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_mb": "MB", "exec.spill_mb": "MB",
    "exec.python_s": "s", "exec.python_mb": "MB",
    "io.scan_rows": "count", "io.scan_mb": "MB", "io.write_mb": "MB",
    "host.steal_frac": "frac", "trace.overhead_frac": "frac",
}


def _layer(name: str) -> str:
    return "core.stage" if name.startswith("core.stage") else name


def key_split(spans: list[dict], sample: dict) -> dict:
    """Self time and jobs per layer for one traced key execution."""
    root = sample["span"]
    children: dict[int, list[dict]] = {}
    subtree = []
    for sp in spans[root + 1:]:
        if sp["parent"] is None:
            break
        children.setdefault(sp["parent"], []).append(sp)
        subtree.append(sp)
    dur = {sp["id"]: sp["t1"] - sp["t0"] for sp in subtree}
    wall = sample["s"]
    split = {"wall": wall, "self": {}, "jobs": {}, "calls": {}, "stage_builds": 0,
             "construct_jobs": 0}
    in_construct = set()
    for sp in subtree:
        layer = _layer(sp["name"])
        kids = children.get(sp["id"], [])
        own = dur[sp["id"]] - sum(dur[c["id"]] for c in kids)
        split["self"][layer] = split["self"].get(layer, 0.0) + own
        split["jobs"][layer] = split["jobs"].get(layer, 0) + len(sp["jobs"])
        split["calls"][layer] = split["calls"].get(layer, 0) + 1
        split["stage_builds"] += sp["name"] == "core.stage.build"
        if sp["name"] == "construct" or sp["parent"] in in_construct:
            in_construct.add(sp["id"])
            split["construct_jobs"] += len(sp["jobs"])
    top = sum(dur[c["id"]] for c in children.get(root, []))
    split["self"]["unattributed"] = wall - top
    return split


def _stream_totals(streams: list[dict]) -> dict:
    t = {"queries": 0, "batches": 0, "empty_batches": 0, "batch_s": 0.0,
         "addbatch_s": 0.0, "empty_batch_s": 0.0, "startstop_s": 0.0, "state_rows": 0}
    for q in streams:
        t["queries"] += 1
        trig = 0.0
        for b in q["batches"]:
            s = b["ms"].get("triggerExecution", 0) / 1e3
            trig += s
            t["batches"] += 1
            t["batch_s"] += s
            t["addbatch_s"] += b["ms"].get("addBatch", 0) / 1e3
            if b["rows"] == 0:
                t["empty_batches"] += 1
                t["empty_batch_s"] += s
        if q["batches"]:
            t["state_rows"] += q["batches"][-1]["state_rows"]
        if q.get("start") is not None and q.get("end") is not None:
            t["startstop_s"] += max(0.0, q["end"] - q["start"] - trig)
    return t


def pass_layers(record: dict, index: int) -> dict:
    """Per-layer sums over the keys of one traced pass."""
    p = record["passes"][index]
    m = {name: 0.0 for name in UNITS}
    skew_max = skew_mean = 0.0
    for sample in p["samples"]:
        split = key_split(record["spans"], sample)
        own, jobs, calls = split["self"], split["jobs"], split["calls"]
        m["core.construct_s"] += own.get("construct", 0.0)
        m["core.construct_jobs"] += split["construct_jobs"]
        m["io.load_calls"] += calls.get("io.load", 0)
        m["io.load_s"] += own.get("io.load", 0.0)
        m["io.load_jobs"] += jobs.get("io.load", 0)
        m["plan.s"] += own.get("plan", 0.0)
        m["core.stage_calls"] += calls.get("core.stage", 0)
        m["core.stage_builds"] += split["stage_builds"]
        m["core.stage_s"] += own.get("core.stage", 0.0)
        m["exec.s"] += own.get("execute", 0.0)
        m["exec.jobs"] += jobs.get("execute", 0)
        sp = sample["spark"]
        m["exec.stages"] += sp["stages"]
        m["exec.tasks"] += sp["tasks"]
        m["exec.empty_task_frac"] += sp["empty_tasks"]
        skew_max += sp["task_max_s"]
        skew_mean += sp["task_mean_s"]
        m["exec.cpu_s"] += sp["cpu_s"]
        m["exec.gc_s"] += sp["gc_s"]
        m["exec.shuffle_mb"] += sp["shuffle_b"] / MB
        m["exec.spill_mb"] += sp["spill_b"] / MB
        m["exec.python_s"] += sp["python_s"]
        m["exec.python_mb"] += sp["python_b"] / MB
        m["io.scan_rows"] += sp["scan_rows"]
        m["io.scan_mb"] += sp["scan_b"] / MB
        m["io.write_mb"] += sp["write_b"] / MB
    wall = sum(s["s"] for s in p["samples"])
    m["core.construct_share"] = m["core.construct_s"] / wall if wall else 0.0
    m["exec.empty_task_frac"] = (m["exec.empty_task_frac"] / m["exec.tasks"]
                                 if m["exec.tasks"] else 0.0)
    m["exec.task_skew"] = skew_max / skew_mean if skew_mean else 1.0
    streams = [q for q in record["streams"].values() if q.get("pass") == index]
    for name, v in _stream_totals(streams).items():
        m[f"streaming.{name}"] = v
    return m


def per_layer(record: dict) -> dict:
    """The per-layer metrics of a traced run, with units and sample counts."""
    passes = record["passes"]
    traced = [i for i, p in enumerate(passes) if p["mode"] == "traced"]
    plain = [p["wall"] for p in passes if p["mode"] == "plain"]
    per_pass = [pass_layers(record, i) for i in traced]
    out = {}
    for name, unit in UNITS.items():
        vals = [m[name] for m in per_pass]
        out[name] = {"value": statistics.median(vals) if vals else 0.0, "unit": unit,
                     "n": len(vals)}
    out["host.steal_frac"]["value"] = statistics.median(p["steal_frac"] for p in passes)
    out["host.steal_frac"]["n"] = len(passes)
    t_wall = statistics.median(passes[i]["wall"] for i in traced)
    out["trace.overhead_frac"]["value"] = t_wall / statistics.median(plain) - 1
    return out
