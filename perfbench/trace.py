"""Outside-in layer trace for one Spark session.

The tracer wraps the engine's public entry points from outside the
engine: ``engine.io.load``, ``engine.core.staged_build_once`` and the
streaming query start/stop calls.  The harness adds spans around the
``QUERIES`` call (construct) and the ``noop`` write (execute).  Every
span runs under its own Spark job group, so each job is charged to the
span that launched it.  The write optimises and plans the frame in its
own ``QueryExecution``; a ``QueryExecutionListener`` reads that
execution's planning tracker, and the optimisation and planning phases
become the ``plan`` child of the execute span.

After each key the tracer drains the listener bus and reads what Spark
recorded for the key's jobs: stage and task metrics from the status
store, the Python SQL metrics of the key's SQL executions, and the
microbatch ledger a ``StreamingQueryListener`` collected.  Spans stay in
memory; the harness writes them out when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import sys
import threading
import time
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# SQL metric names of Spark's Python operators (PythonSQLMetrics).
_PY_TIME = "time to run Python workers"
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
# QueryPlanningTracker phases that make up planning, and the logical
# node of a ``df.write.format("noop").mode("overwrite").save()``.
_PLAN_PHASES = ("optimization", "planning")
_NOOP_WRITE = "OverwriteByExpression"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    key: str
    t0: float
    t1: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0


def _metric_value(text: str) -> float:
    """Parse a formatted SQL metric value ("1.2 s", "3.0 KiB", "total
    (min, med, max ...)\\n12 ms (...)") into seconds or bytes."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    num, _, rest = text.strip().partition(" ")
    unit = rest.split(" ", 1)[0].rstrip(",(")
    value = float(num.replace(",", ""))
    return value * _SIZE_UNITS.get(unit, _TIME_UNITS.get(unit, 1.0))


def rebind(original, replacement) -> list[tuple[object, str]]:
    """Point every ``engine`` module attribute bound to ``original`` at
    ``replacement`` (modules import ``load`` by name at import time)."""
    hits = []
    for name, mod in list(sys.modules.items()):
        if mod is None or not (name == "engine" or name.startswith("engine.")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is original:
                setattr(mod, attr, replacement)
                hits.append((mod, attr))
    return hits


class Tracer:
    """Spans plus Spark's own per-job records for a traced pass."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        jvm = self.sc._jvm
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala,
                            "DefaultScalaModule$").__getattr__("MODULE$")
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(scala_mod)
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []
        self._seen_stages: set[int] = set()
        lst = self._sql.executionsList()
        self._next_exec = lst.apply(0).executionId() if lst.size() else 0
        self._lock = threading.Lock()
        self.streams: dict[str, dict] = {}
        self.pass_no = 0
        self._listener = None
        self._planner = None
        # (logical plan node, optimisation + planning seconds) of each
        # finished SQL execution of the current key, in finishing order
        self._planned: list[tuple[str, float]] = []

    # -- spans ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name: str, key: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.id if parent else None,
                  key if key is not None else (parent.key if parent else ""),
                  0.0)
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc._jsc.setJobGroup(f"pb{sp.id}", name, False)
        sp.t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc._jsc.setJobGroup(f"pb{parent.id}", parent.name, False)
            else:
                self.sc._jsc.clearJobGroup()

    def current_key(self) -> str:
        return self._stack[-1].key if self._stack else ""

    # -- entry-point wrappers ------------------------------------------
    def install(self) -> None:
        import engine.core
        import engine.io
        from pyspark.sql.streaming.query import StreamingQuery
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        tracer = self
        load, stage = engine.io.load, engine.core.staged_build_once

        def traced_load(spark, sf_dir, table):
            with tracer.span("io.load"):
                return load(spark, sf_dir, table)

        def traced_stage(base, name, sf_dir, build):
            with tracer.span("core.stage") as sp:
                def counted(d):
                    sp.name = "core.stage.build"
                    return build(d)
                return stage(base, name, sf_dir, counted)

        for orig, repl in ((load, traced_load), (stage, traced_stage)):
            self._undo += [(m, a, orig) for m, a in rebind(orig, repl)]

        def wrap_start(orig):
            def start(writer, *a, **kw):
                t0 = time.perf_counter()
                q = orig(writer, *a, **kw)
                with tracer._lock:
                    tracer._stream(str(q.runId))["start"] = t0
                return q
            return start

        def wrap_end(orig):
            def end(q, *a, **kw):
                try:
                    return orig(q, *a, **kw)
                finally:
                    with tracer._lock:
                        tracer._stream(str(q.runId))["end"] = time.perf_counter()
            return end

        for cls, attr, wrap in ((DataStreamWriter, "start", wrap_start),
                                (DataStreamWriter, "toTable", wrap_start),
                                (StreamingQuery, "awaitTermination", wrap_end),
                                (StreamingQuery, "stop", wrap_end)):
            orig = getattr(cls, attr)
            self._undo.append((cls, attr, orig))
            setattr(cls, attr, wrap(orig))
        self._listener = _ledger(self)
        self.spark.streams.addListener(self._listener)
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        self._planner = _PlanningListener(self)
        self.spark._jsparkSession.listenerManager().register(self._planner)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._undo):
            setattr(owner, attr, orig)
        self._undo.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)
            self._listener = None
        if self._planner is not None:
            self.spark._jsparkSession.listenerManager().unregister(self._planner)
            self._planner = None

    def _stream(self, run_id: str) -> dict:
        # Query-started events reach the listener synchronously inside
        # start(), so the current key and pass are the query's own.
        return self.streams.setdefault(run_id, {
            "key": self.current_key(), "pass": self.pass_no, "start": None,
            "end": None, "batches": []})

    # -- Spark's records -----------------------------------------------
    def begin_key(self) -> int:
        """Skip the records of untraced work; return the key's first job id."""
        self._bus.waitUntilEmpty(60_000)
        while self._sql.execution(self._next_exec).isDefined():
            self._next_exec += 1
        with self._lock:
            self._planned.clear()
        return self._dag.numTotalJobs()

    def collect(self, key_span: Span, first_job: int) -> dict:
        """Jobs, stages, tasks and SQL metrics of one finished key."""
        self._bus.waitUntilEmpty(60_000)
        by_group = {f"pb{s.id}": s for s in self.spans[key_span.id:]}
        out = {"stream_jobs": 0, "stages": 0, "tasks": 0,
               "empty_tasks": 0, "task_max_s": 0.0, "task_mean_s": 0.0,
               "cpu_s": 0.0, "gc_s": 0.0, "shuffle_b": 0, "spill_b": 0,
               "scan_rows": 0, "scan_b": 0, "write_b": 0,
               "python_s": 0.0, "python_b": 0.0}
        for job_id in range(first_job, self._dag.numTotalJobs()):
            try:
                job = json.loads(self._json.writeValueAsString(self._store.job(job_id)))
            except Py4JJavaError:
                continue  # evicted from the status store
            sp = by_group.get(job.get("jobGroup") or "")
            if sp is None:
                out["stream_jobs"] += 1
            else:
                sp.jobs.append(job_id)
            for stage_id in job["stageIds"]:
                if stage_id not in self._seen_stages:
                    self._seen_stages.add(stage_id)
                    self._add_stage(stage_id, out)
        self._add_sql_metrics(out)
        execute = next((s for s in self.spans[key_span.id:]
                        if s.name == "execute" and s.parent == key_span.id), None)
        with self._lock:
            writes = [s for node, s in self._planned if node == _NOOP_WRITE]
        if execute is not None and writes:
            # The noop write is the key's last SQL execution.
            plan_s = min(writes[-1], execute.dur)
            self.spans.append(Span(len(self.spans), "plan", execute.id, execute.key,
                                   execute.t0, execute.t0 + plan_s))
        return out

    def _add_stage(self, stage_id: int, out: dict) -> None:
        attempts = json.loads(self._json.writeValueAsString(self._store.stageData(
            stage_id, True, None, False, self._no_quantiles)))
        for st in attempts:
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue
            out["stages"] += 1
            out["cpu_s"] += st["executorCpuTime"] / 1e9
            out["gc_s"] += st["jvmGcTime"] / 1e3
            out["shuffle_b"] += st["shuffleWriteBytes"]
            out["spill_b"] += st["diskBytesSpilled"]
            out["scan_rows"] += st["inputRecords"]
            out["scan_b"] += st["inputBytes"]
            out["write_b"] += st["outputBytes"]
            runs = []
            for task in (st.get("tasks") or {}).values():
                m = task.get("taskMetrics") or {}
                runs.append(m.get("executorRunTime", 0) / 1e3)
                if not (m.get("inputMetrics", {}).get("recordsRead")
                        or m.get("shuffleReadMetrics", {}).get("recordsRead")):
                    out["empty_tasks"] += 1
            out["tasks"] += len(runs)
            if runs:
                out["task_max_s"] += max(runs)
                out["task_mean_s"] += sum(runs) / len(runs)

    def _add_sql_metrics(self, out: dict) -> None:
        misses, eid = 0, self._next_exec
        while misses < 3:
            opt = self._sql.execution(eid)
            if not opt.isDefined():
                misses += 1
                eid += 1
                continue
            misses = 0
            self._next_exec = eid + 1
            metrics = json.loads(self._json.writeValueAsString(opt.get().metrics()))
            wanted = {str(m["accumulatorId"]): m["name"] for m in metrics
                      if m["name"] == _PY_TIME or m["name"] in _PY_BYTES}
            if wanted:
                values = json.loads(self._json.writeValueAsString(
                    self._sql.executionMetrics(eid)))
                for acc, name in wanted.items():
                    if acc in values:
                        v = _metric_value(values[acc])
                        out["python_s" if name == _PY_TIME else "python_b"] += v
            eid += 1


class _PlanningListener:
    """A ``QueryExecutionListener``, called on the listener bus for each
    finished SQL execution with the ``QueryExecution`` that ran it."""

    def __init__(self, tracer: Tracer):
        self._tracer = tracer

    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        spent = sum(phases.apply(p).durationMs() for p in _PLAN_PHASES
                    if phases.contains(p)) / 1e3
        with self._tracer._lock:
            self._tracer._planned.append((qe.logical().nodeName(), spent))

    def onFailure(self, func_name, qe, exception):
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _ledger(tracer: Tracer):
    """A StreamingQueryListener that files each microbatch under its run."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Ledger(StreamingQueryListener):
        def onQueryStarted(self, event):
            with tracer._lock:
                tracer._stream(str(event.runId))

        def onQueryProgress(self, event):
            p = event.progress
            with tracer._lock:
                tracer._stream(str(p.runId))["batches"].append({
                    "rows": p.numInputRows,
                    "ms": dict(p.durationMs),
                    "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Ledger()
