"""Operator registry — the single source of truth for the driver contract.

Each operator module registers its keys here via :func:`query`.  A key is
"declared" (visible to the driver through ``__spark_entry__.queries()``)
only when registered, and SURVEY.md §2's rule applies: register only after
the key hash-matches its DuckDB oracle locally (tests/test_oracle_parity.py).

Reference parity note: the reference repo (/root/reference, README.md:1-2)
contains no code; the inventory implemented here is the reconstructed
contract of SURVEY.md §2.
"""

from __future__ import annotations

from collections.abc import Callable
from typing import Dict, Set

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: Dict[str, QueryFn] = {}
ORACLES: Dict[str, str] = {}
ROWS_ONLY: Set[str] = set()


def query(key: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register ``fn`` as the implementation of operator ``key``.

    ``oracle`` is the DuckDB-runnable ANSI SQL twin (tables pre-registered
    as views: region nation customer supplier part orders lineitem events
    documents embeddings).  ``oracle=None`` declares a rows-only key
    (approx aggs, MinHash, streaming) — the driver then records the weaker
    rows-only check.
    """

    def deco(fn: QueryFn) -> QueryFn:
        if key in QUERIES:
            raise ValueError(f"duplicate operator key: {key}")
        QUERIES[key] = fn
        if oracle is not None:
            ORACLES[key] = oracle.strip()
        else:
            ROWS_ONLY.add(key)
        return fn

    return deco


import contextlib


@contextlib.contextmanager
def scoped_sql_conf(spark: SparkSession, confs: dict):
    """Temporarily set runtime SQL confs around an EAGERLY-EXECUTED job
    (a write, an iterative loop).  Plans that execute AFTER the block
    see the caller's settings, so any key using this must materialize
    inside the scope (sink-key shape: write, then return a read-back
    frame)."""
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, str(v))
    try:
        yield
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def scoped_shuffle_partitions(spark: SparkSession, n: int):
    """Temporarily narrow spark.sql.shuffle.partitions around a
    driver-orchestrated job sequence (iterative loops, microbatch runs)
    whose per-stage data is tiny: 32 tasks per reduce stage is pure
    scheduling overhead when each stage carries a few thousand rows."""
    return scoped_sql_conf(spark, {"spark.sql.shuffle.partitions": n})


# Fixpoint rounds shuffle a few thousand rows: 32 tasks per reduce stage
# is scheduling overhead (connected components 8.3 s -> 6.4 s at sf0.1).
_FIXPOINT_WIDTH = 8


def fixpoint(spark: SparkSession, state: DataFrame, step: Callable, *,
             cap: int, what: str, probe=None, probe_from: int = 1,
             checkpoint_start: bool = False, finish=None) -> DataFrame:
    """Run ``state = step(state)`` for up to ``cap`` rounds — the one
    driver loop of the engine's iterative kernels (a superstep driver
    over a dataflow engine, as in Pregelix, VLDB 2014).

    Rounds run at 8 shuffle partitions (the caller's setting comes back
    afterwards, also after a raise), and each round's state is
    checkpointed eagerly, so its jobs run inside that scope — a lazy
    checkpoint would replay them in the final action at the caller's
    width — and the lineage stays one round deep.  ``probe`` is an
    aggregate Column: equal values on two consecutive probed states mean
    convergence, sound for a monotone update (each caller argues why).
    State 0 is the start state, state r the output of round r; states
    below ``probe_from`` go unprobed.  Without a probe the loop runs
    exactly ``cap`` rounds; with one, reaching the cap raises
    ``RuntimeError`` naming ``what``.  ``checkpoint_start`` checkpoints
    the start state inside the scope; ``finish`` maps the converged
    state to the result, checkpointed inside the scope too.
    """
    last = object()  # equals no probe value
    with scoped_shuffle_partitions(spark, _FIXPOINT_WIDTH):
        if checkpoint_start:
            state = state.localCheckpoint(eager=True)
        for rnd in range(cap + 1):  # round 0 is the start state
            if rnd:
                state = step(state).localCheckpoint(eager=True)
            if probe is not None and rnd >= probe_from:
                cur = state.agg(probe).first()[0]
                if cur == last:
                    break
                last = cur
        else:
            if probe is not None:
                raise RuntimeError(f"{what} did not converge within {cap} rounds")
        if finish is not None:
            state = finish(state).localCheckpoint(eager=True)
    return state


_MODEL_ARTIFACT_MAX_ROWS = 4096


def collect_model_artifact(df: DataFrame, max_rows: int = _MODEL_ARTIFACT_MAX_ROWS):
    """Bounded driver-side materialization of a BOUNDED-BY-CONSTRUCTION
    frame — the one sanctioned exemption from the engine-wide
    no-collect rule
    (tests/test_plans.py::test_no_driver_side_collect_in_engine_source
    allow-lists exactly this call site).

    Two sanctioned patterns, both bounded independent of data volume:
    (a) TRAINED MODEL ARTIFACTS — codebooks / centroid tables (K·M
    rows by construction); (b) FIXED QUERY SETS — the handful of probe
    vectors a top-k search is evaluated against (e.g.
    ``sim_knn_topk_blocked``'s 5 query embeddings).  Anything
    data-sized is out of scope and the runtime guard below enforces it.

    Rationale: a trained codebook / centroid table is bounded BY
    CONSTRUCTION (K·M rows, independent of data volume), and the
    scale-correct way to hand it to an Arrow UDF is closure capture —
    cloudpickle ships it once per task.  The previous shape
    (``crossJoin(broadcast(packed_row))`` + a codebook column) was
    JVM-cheap but duplicated the ~16 KB artifact into EVERY ROW of
    every Arrow batch crossing into Python: ~32 MB redundant transfer
    at 2k vectors, unbounded at 10⁹.  A bounded collect is the lesser
    transfer by orders of magnitude.

    Guard: raises if ``df`` exceeds ``max_rows`` — this helper must
    never be pointed at a data-sized frame."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise RuntimeError(
            f"collect_model_artifact: frame exceeds {max_rows} rows — "
            "this helper is for bounded trained artifacts only"
        )
    return rows


def path_fingerprint(path: str) -> str | None:
    """Name, size and ``mtime_ns`` of a file, or of every file under a
    directory, as one string; ``None`` when ``path`` cannot be stat'ed
    (missing, or a non-local URI).

    Rewriting, adding or removing a file changes it.  This is the one
    meaning of "the corpus was regenerated" in the engine: the
    ``staged_build_once`` markers and the ``io.parquet_schema`` memo
    both compare it.  A same-size rewrite within one tick of the
    filesystem's mtime clock (a few ms) goes unseen, so it suits corpora
    regenerated between runs, not files rewritten mid-query.
    """
    import os

    try:
        if os.path.isdir(path):
            names = sorted(
                os.path.relpath(os.path.join(root, f), path)
                for root, _, files in os.walk(path)
                for f in files
            )
        else:
            path, name = os.path.split(path)
            names = [name]
        return ",".join(
            f"{n}:{st.st_size}:{st.st_mtime_ns}"
            for n in names
            if (st := os.stat(os.path.join(path, n)))
        )
    except OSError:
        return None


def staged_build_once(base: str, name: str, sf_dir: str, build) -> str:
    """Build-once cache for deterministic staged directories (streaming
    replay sources, derived partitioned tables).

    The staged artifacts are pure functions of the immutable corpus, so
    rebuilding per invocation charges every bench/verify run pure
    staging cost.  A `_STAGING_DONE` marker is written only after
    ``build`` completes — partial stages are never reused — and
    `_`-prefixed files are invisible to Spark's parquet file source.
    Sinks and checkpoints must NOT be cached — only inputs.
    """
    import os
    import shutil
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        base,
        f"{name}_{os.path.basename(os.path.normpath(sf_dir))}",
    )
    # The corpus is immutable WITHIN a round but the driver regenerates
    # it BETWEEN rounds (r4 rolled events.ts from ns to µs) — a marker
    # that never expires would replay stale data.  Fingerprint the
    # source directory into the marker and rebuild on any mismatch.
    fp = path_fingerprint(sf_dir) or "unknown"
    marker = os.path.join(d, "_STAGING_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == fp:
                return d
    if os.path.exists(d):
        shutil.rmtree(d)
    os.makedirs(d, exist_ok=True)
    build(d)
    with open(marker, "w") as f:
        f.write(fp)
    return d
