"""The benchmark's workloads: fixed, committed key lists.

Each pass runs every key of a workload once, in a seeded order.  Keys
were chosen on the generated sf0.1 corpus at ``local[4]``: each passes
its oracle, and together they fill about ``pass_s`` seconds.  Keys of
the named families that were left out, and why, are in README.md.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class Workload:
    why: str
    keys: tuple[str, ...]
    # Nominal seconds per pass on a 4-core box: a run makes
    # round(seconds / pass_s) passes, so the sample count is fixed.
    pass_s: float
    # key -> number of staged_build_once artifacts its construction builds
    staged: dict[str, int] = field(default_factory=dict)


WORKLOADS = {
    "star_schema_analytics": Workload(
        why="sub-second JVM-only star-schema queries: per-query fixed costs "
            "(io.load schema inference, planning, job scheduling) are a large share",
        keys=("tpch_q3_top_orders", "tpch_q6_forecast", "agg_groupby_pricing",
              "agg_rollup", "join_inner_equi", "join_left_anti", "win_running_sum"),
        pass_s=4.5,
    ),
    "llm_corpus_and_stream_io": Workload(
        why="LLM-data operators and the write path: Python/Arrow UDFs, fixpoint "
            "rounds in construction, streaming microbatches, state, checkpoints, sinks",
        keys=("text_winnowing_fingerprint", "graph_reachability_roots",
              "stream_smoke_tumbling", "sink_parquet_partitioned"),
        pass_s=4.7,
        staged={"stream_smoke_tumbling": 1},
    ),
}
