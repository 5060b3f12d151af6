#!/usr/bin/env python
"""Per-key warm-session measurement + plan capture (guide §1).

Usage: python tools/measure_key.py key1 [key2 ...] [--runs 3] [--plan DIR]

One session from bench.warm_session (bench.py's confs and warm-ups),
each key run --runs times through the noop sink; prints per-run seconds and the
min of runs 1.. (run 0 absorbs Arrow/py-UDF warmup per BASELINE.md).
With --plan DIR, writes DIR/<key>.txt with .explain("formatted").
Cache is cleared between keys exactly as bench.py does.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="+")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--plan", default=None)
    args = ap.parse_args()

    import engine
    from bench import SF_DIR, warm_session

    spark = warm_session()
    cache_mgr = spark._jsparkSession.sharedState().cacheManager()

    for key in args.keys:
        if args.plan:
            os.makedirs(args.plan, exist_ok=True)
            df = engine.QUERIES[key](spark, SF_DIR)
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"))
            with open(os.path.join(args.plan, f"{key}.txt"), "w") as f:
                f.write(plan)
            if not cache_mgr.isEmpty():
                spark.catalog.clearCache()
        runs = []
        for i in range(args.runs):
            spark.sparkContext.setJobDescription(f"{key} run{i}")
            t0 = time.perf_counter()
            engine.QUERIES[key](spark, SF_DIR).write.format("noop").mode(
                "overwrite").save()
            el = time.perf_counter() - t0
            runs.append(el)
            if not cache_mgr.isEmpty():
                spark.catalog.clearCache()
        warm = runs[1:] if len(runs) > 1 else runs
        print(
            f"RESULT {key}: runs={['%.2f' % r for r in runs]} "
            f"warm_min={min(warm):.3f}"
        )
        sys.stdout.flush()


if __name__ == "__main__":
    main()
