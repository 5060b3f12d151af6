"""Closed-loop benchmark harness around the engine's key registry.

One client (this process) drives ``engine.QUERIES[key](spark, sf_dir)``
one key at a time and sends each frame through the ``noop`` sink, the
way ``bench.py`` does.  The engine only ever receives ``(spark,
sf_dir)``.  A run is:

1. reset the scratch state a previous run left behind, the engine's
   staged inputs included;
2. set up several times (session start, JVM and Arrow warm-up, staging
   built from nothing) and keep the last session; the first set-up is
   the cold one, which also imports the engine and launches the JVM;
3. the correctness gate: every key against its oracle, untimed, which
   also runs each key's timed plan once;
4. ``round(seconds / pass_s)`` timed passes, each a seeded permutation
   of the workload's keys.  A traced run alternates plain and traced
   passes, with the tracer installed only for the traced ones, so one
   run gives both the layer split and the tracing overhead.

Everything the run writes stays under ``perfbench/.work``.
"""

from __future__ import annotations

import fcntl
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
SETUPS = 3
HIGH_STEAL = 0.05
_DIRS = ("tmp", "scratch", "local", "jtmp", "warehouse", "derby", "corpus",
         "oracle", "records")
# Per-run scratch, wiped before every run.  ``tmp`` holds the engine's
# io scratch dirs and its staged inputs.
_EPHEMERAL = ("tmp", "scratch", "local", "jtmp", "warehouse", "derby")


def work_dir(name: str) -> str:
    return os.path.join(WORK, name)


def prepare_process() -> None:
    """Point every scratch location of the engine, Spark and Python at
    the work dir.  Must run before the JVM starts."""
    for d in _DIRS:
        os.makedirs(work_dir(d), exist_ok=True)
    os.environ["SPARK_GRAFT_STREAM_SCRATCH"] = work_dir("scratch")
    os.environ["SPARK_LOCAL_DIRS"] = work_dir("local")
    os.environ["TMPDIR"] = work_dir("tmp")
    # spark-submit's launcher JVM, which assembles the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = work_dir("tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def reset_run_state() -> None:
    """Remove checkpoints, sink outputs, io scratch dirs, staged inputs
    and Spark scratch from earlier runs, so no run reuses what another
    run, or another commit in the same checkout, built."""
    for d in _EPHEMERAL:
        shutil.rmtree(work_dir(d), ignore_errors=True)
        os.makedirs(work_dir(d))


def unstage() -> None:
    """Remove the engine's staged inputs (dirs holding its
    ``_STAGING_DONE`` marker, under ``tmp/<base>/``)."""
    tmp = work_dir("tmp")
    for base in os.listdir(tmp):
        path = os.path.join(tmp, base)
        for entry in os.listdir(path) if os.path.isdir(path) else ():
            if os.path.exists(os.path.join(path, entry, "_STAGING_DONE")):
                shutil.rmtree(os.path.join(path, entry))


def corpus_dir(sf: float) -> str:
    from perfbench import corpus

    d = os.path.join(work_dir("corpus"), f"sf{sf:g}")
    corpus.write_corpus(d, sf, corpus.DEFAULT_SEED)
    return d


# -- session -------------------------------------------------------------

def session_conf(cpus: int) -> dict[str, str]:
    return {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": "perfbench",
        "spark.sql.shuffle.partitions": str(cpus),
        "spark.driver.memory": "3g",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": work_dir("local"),
        "spark.sql.warehouse.dir": work_dir("warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={work_dir('jtmp')} "
            f"-Dderby.system.home={work_dir('derby')} -XX:-UsePerfData"),
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
    }


def start_session(cpus: int):
    from pyspark.sql import SparkSession

    builder = SparkSession.builder
    for k, v in session_conf(cpus).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _status_mb(pid: int | str, field: str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1]) / 1024
    return 0.0


def settle(spark) -> None:
    """Collect the garbage earlier work left in both processes, so a
    timed pass does not pay for it."""
    import gc

    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def reset_peak_rss() -> None:
    """Restart the driver's resident high-water mark from its current
    size, so the corpus generation and oracle queries this process may
    have run do not count in ``memory_mb``."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def memory_mb(spark) -> dict[str, float]:
    """Memory of the JVM and the driver Python process.

    ``kept`` is what the run holds: JVM heap and non-heap in use after a
    full GC, plus the driver's resident high-water mark since
    ``reset_peak_rss``.  The JVM's
    resident high-water mark (``peak``) depends on when the collector
    ran and grows the heap, and moved by a third between identical runs.
    """
    jvm = spark.sparkContext._jvm
    peak = _status_mb("self", "VmHWM") + _status_mb(jvm_pid(), "VmHWM")
    settle(spark)
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    used = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
    return {"peak": peak, "kept": used / 2**20 + _status_mb("self", "VmHWM")}


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # guest time is already counted in user time
    return fields[7], sum(fields[:8])


def _steal_since(t0: tuple[int, int]) -> float:
    s1, n1 = _cpu_ticks()
    return (s1 - t0[0]) / max(1, n1 - t0[1])


# -- setup ---------------------------------------------------------------

class _Staged(Exception):
    """Raised by the staging probe once a key's artifact is built."""


def prebuild_staging(spark, sf: str, staged: dict[str, int]) -> None:
    """Build every ``staged_build_once`` artifact the workload's keys use.

    ``staged`` maps a key to how many artifacts its construction stages.
    The key is called with ``staged_build_once`` swapped for a probe that
    builds (or finds) the artifact and then aborts the key, so no stream
    or fixpoint runs during set-up.
    """
    import engine
    import engine.core

    from perfbench.trace import rebind

    orig = engine.core.staged_build_once
    for key, n in staged.items():
        done: set[tuple[str, str]] = set()

        def probe(base, name, sf_dir, build):
            d = orig(base, name, sf_dir, build)
            if (base, name) not in done:
                done.add((base, name))
                raise _Staged(d)
            return d

        hits = rebind(orig, probe)
        try:
            for _ in range(n):
                try:
                    engine.QUERIES[key](spark, sf)
                except _Staged:
                    continue
                raise RuntimeError(f"{key} stages fewer than {n} artifacts")
        finally:
            for mod, attr in hits:
                setattr(mod, attr, orig)


def warm_up(spark, sf: str) -> None:
    """First-job JVM/codegen/parquet costs and Python worker + Arrow
    start-up, so the first key is not charged for them."""
    from pyspark.sql import functions as F

    from engine.io import load

    (load(spark, sf, "lineitem").groupBy("l_returnflag")
     .agg(F.sum("l_quantity")).write.format("noop").mode("overwrite").save())

    @F.pandas_udf("long")
    def ident(s):
        return s

    spark.range(32).select(ident("id")).write.format("noop").mode("overwrite").save()


def set_up(cpus: int, sf: str, staged: dict[str, int]):
    """Time ``SETUPS`` set-ups; keep the session of the last one.

    The first set-up is cold: it imports the engine and launches the JVM
    and the SparkContext.  The later ones start a new SparkSession on
    that context.  Each removes the staged inputs first, then runs the
    warm-ups and builds the staging, so work moved into staging or into
    the first queries of a session shows in every set-up.  The median of
    the three is a warm set-up; the cold one is reported apart.
    """
    spark, times = None, []
    for _ in range(SETUPS):
        unstage()
        t0 = time.perf_counter()
        if spark is None:
            import engine  # noqa: F401  (the import is part of a cold start)

            spark = start_session(cpus)
        else:
            spark = spark.newSession()
        warm_up(spark, sf)
        prebuild_staging(spark, sf, staged)
        times.append(time.perf_counter() - t0)
    return spark, times


# -- keys ----------------------------------------------------------------

def _clear_cache(spark) -> None:
    # Probe first: a blanket clearCache() costs ~0.2 s of catalog calls.
    if not spark._jsparkSession.sharedState().cacheManager().isEmpty():
        spark.catalog.clearCache()


def gate(spark, keys, sf: str, oracle) -> tuple[list[dict], dict]:
    """Check each key against its oracle; return the failures and the
    seconds each check took.  Each frame also goes through the ``noop``
    sink once, so the timed passes find its plan compiled."""
    import engine

    from perfbench.oracle import Mismatch, check

    failures, took = [], {}
    for key in sorted(keys):
        t0 = time.perf_counter()
        phase = "construct"
        try:
            df = engine.QUERIES[key](spark, sf)
            phase = "execute"
            df.write.format("noop").mode("overwrite").save()
            check(df, key, oracle)
        except Mismatch as e:
            failures.append({"key": key, "phase": "gate", "error": str(e)})
        except Exception as e:  # the gate must report every key
            failures.append({"key": key, "phase": phase, "error": repr(e)[:500]})
        _clear_cache(spark)
        took[key] = time.perf_counter() - t0
    return failures, took


def run_key(spark, key: str, sf: str) -> dict:
    import engine

    phase = "construct"
    t0 = time.perf_counter()
    try:
        df = engine.QUERIES[key](spark, sf)
        phase = "execute"
        df.write.format("noop").mode("overwrite").save()
        err = None
    except Exception as e:  # counted against ok_frac, the loop goes on
        err = repr(e)[:500]
    sample = {"key": key, "s": time.perf_counter() - t0}
    if err is not None:
        sample.update(phase=phase, error=err)
    _clear_cache(spark)
    return sample


def run_key_traced(spark, tracer, key: str, sf: str) -> dict:
    import engine

    phase = "construct"
    first_job = tracer.begin_key()
    err = None
    with tracer.span("key", key) as ks:
        try:
            with tracer.span("construct"):
                df = engine.QUERIES[key](spark, sf)
            phase = "execute"
            # The write plans the frame itself; the tracer splits the
            # planning off this span afterwards.
            with tracer.span("execute"):
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted against ok_frac, the loop goes on
            err = repr(e)[:500]
    sample = {"key": key, "s": ks.dur, "span": ks.id}
    if err is not None:
        sample.update(phase=phase, error=err)
    sample["spark"] = tracer.collect(ks, first_job)
    _clear_cache(spark)
    return sample


# -- metrics -------------------------------------------------------------

def n_passes(seconds: float, pass_s: float, trace: bool) -> int:
    """Passes in a run: as many nominal passes as fit in ``seconds``; a
    traced run needs at least one plain and one traced pass.  The count
    depends only on the arguments, so every run of a workload takes the
    same number of samples."""
    return max(2 if trace else 1, round(seconds / pass_s))


def slowest_key(passes: list[dict]) -> float:
    """The slowest key's median time over the passes.  A run takes 12-21
    samples, too few for any percentile above the median to have ten
    samples beyond it, so the tail is taken per key."""
    per_key: dict[str, list[float]] = {}
    for p in passes:
        for s in p["samples"]:
            per_key.setdefault(s["key"], []).append(s["s"])
    return max(statistics.median(v) for v in per_key.values())


def end_to_end(setups, passes, attempted, failed, mem) -> dict:
    plain = [p for p in passes if p["mode"] == "plain"]
    samples = [s["s"] for p in plain for s in p["samples"]]
    return {
        "setup_s": {"value": statistics.median(setups), "unit": "s", "n": len(setups)},
        "cold_setup_s": {"value": setups[0], "unit": "s", "n": 1},
        "pass_s": {"value": statistics.median(p["wall"] for p in plain), "unit": "s",
                   "n": len(plain)},
        "query_p50_s": {"value": statistics.median(samples), "unit": "s",
                        "n": len(samples)},
        "query_tail_s": {"value": slowest_key(plain), "unit": "s", "n": len(samples)},
        "ok_frac": {"value": 1 - failed / attempted, "unit": "frac", "n": attempted},
        "mem_mb": {"value": mem, "unit": "MB", "n": 1},
    }


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool,
                  sf: float = 0.1, keys: list[str] | None = None,
                  corpus: str | None = None) -> dict:
    """One full run; returns the record (also written to the work dir).
    ``corpus`` names another corpus directory to run on instead of the
    generated one at ``sf``."""
    prepare_process()
    # Runs in one checkout share the work dir: take turns.
    lock = open(os.path.join(WORK, "run.lock"), "w")
    fcntl.flock(lock, fcntl.LOCK_EX)
    try:
        return _run(workload, seed, seconds, trace, sf, keys, corpus)
    finally:
        lock.close()


def _run(workload, seed, seconds, trace, sf, keys, corpus) -> dict:
    import pyspark

    from perfbench import layers, oracle
    from perfbench.corpus import fingerprint
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    timeline = {}
    wl = WORKLOADS[workload]
    keys = list(keys or wl.keys)
    staged = {k: n for k, n in wl.staged.items() if k in keys}
    cpus = os.cpu_count() or 1
    rng = random.Random(seed)
    sf_dir = corpus or corpus_dir(sf)
    fp = fingerprint(sf_dir)
    reset_run_state()
    timeline["prepared"] = time.perf_counter() - t_start

    spark, setups = set_up(cpus, sf_dir, staged)
    timeline["set_up"] = time.perf_counter() - t_start
    try:
        import engine

        orc = oracle.Oracle(sf_dir, fp, work_dir("oracle"), dict(engine.ORACLES),
                            list(engine.io.TABLES))
        failures, gate_s = gate(spark, keys, sf_dir, orc)
        orc.close()
        reset_peak_rss()
        attempted = len(keys)
        timeline["gate"] = time.perf_counter() - t_start

        tracer = None
        if trace:
            from perfbench.trace import Tracer

            tracer = Tracer(spark)
        passes = []
        for i in range(n_passes(seconds, wl.pass_s, trace)):
            mode = "traced" if tracer is not None and i % 2 else "plain"
            order = list(keys)
            rng.shuffle(order)
            settle(spark)
            if mode == "traced":
                tracer.pass_no = i
                tracer.install()
            try:
                steal0 = _cpu_ticks()
                t0 = time.perf_counter()
                samples = [run_key_traced(spark, tracer, k, sf_dir) if mode == "traced"
                           else run_key(spark, k, sf_dir) for k in order]
                wall = time.perf_counter() - t0
                steal = _steal_since(steal0)
            finally:
                if mode == "traced":
                    tracer.uninstall()
            passes.append({"mode": mode, "wall": wall, "order": order,
                           "steal_frac": steal, "high_steal": steal > HIGH_STEAL,
                           "samples": samples})
            attempted += len(samples)
            failures += [{"key": s["key"], "phase": s["phase"], "error": s["error"],
                          "pass": i} for s in samples if "error" in s]
        timeline["passes"] = time.perf_counter() - t_start
        mem = memory_mb(spark)
        record = {
            "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
            "box": {
                "nproc": cpus, "master": f"local[{cpus}]", "shuffle_partitions": cpus,
                "spark_local_dir": work_dir("local"), "spark": spark.version,
                "pyspark": pyspark.__version__, "python": sys.version.split()[0],
                "sf": sf, "corpus_dir": sf_dir, "corpus": fp,
            },
            "keys": keys, "setups": setups, "gate_s": gate_s, "timeline": timeline,
            "memory_mb": mem, "failures": failures, "attempted": attempted,
            "passes": passes,
        }
        record["metrics"] = end_to_end(setups, passes, attempted, len(failures),
                                       mem["kept"])
        if tracer is not None:
            record["spans"] = [vars(s) for s in tracer.spans]
            record["streams"] = tracer.streams
            record["layers"] = layers.per_layer(record)
    finally:
        shutdown(spark)
    timeline["shutdown"] = time.perf_counter() - t_start
    tag = "ref" if corpus else f"sf{sf:g}"
    name = f"{workload}-{tag}-trace{int(trace)}-seed{seed}.json"
    path = os.path.join(work_dir("records"), name)
    with open(path, "w") as f:
        json.dump(record, f, default=str)
    record["path"] = path
    return record
