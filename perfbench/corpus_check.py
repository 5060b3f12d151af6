#!/usr/bin/env python3
"""Compare the generated corpus with a reference corpus of the same scale.

    python3 perfbench/corpus_check.py REFERENCE_DIR

REFERENCE_DIR holds the ten fixture tables (FIXTURES.md) at sf0.1, the
scale the workloads run at.  The check prints, table by table and column by column, the
row count, the Arrow type (timestamp unit included), the number of
distinct values, min, max, mean and standard deviation of both corpora,
plus the shapes the LLM and star keys depend on: the near-duplicate
share of the documents, the embedding norms and the key fan-outs.
Lines whose figures differ by more than 5% are marked ``<<``.

Then it makes two traced runs of every workload on each corpus and prints each key's median wall time and construct / plan /
execute / io.load split side by side, with the gate failures of each.
"""

from __future__ import annotations

import argparse
import math
import os
import statistics
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench.corpus import TABLES  # noqa: E402

TOLERANCE = 0.05
# Corpus of each traced run in --runs, in an ABBA order so a drift of the
# host's speed during the comparison falls on both corpora alike.
RUN_ORDER = ("gen", "ref", "ref", "gen")
RUN_SECONDS = 28
SF = 0.1
# Shapes beyond single columns: name -> SQL over the tables of one corpus
# (``{d}`` is the corpus dir).
SHAPES = {
    "documents: ' dup' copies": "select count(*) from '{d}/documents.parquet' where text like '% dup'",
    "documents: exact duplicates": "select count(*) - count(distinct text) from '{d}/documents.parquet'",
    "documents: words per text": "select avg(len(string_split(text, ' '))) from '{d}/documents.parquet'",
    "documents: share 'en'": "select avg((lang = 'en')::int) from '{d}/documents.parquet'",
    "embeddings: mean L2 norm": "select avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))) "
                                "from '{d}/embeddings.parquet'",
    "events: per-user count sd": "select stddev_pop(c) from (select count(*) c "
                                 "from '{d}/events.parquet' group by user_id)",
    "events: ts out of order": "select count(*) from (select ts < lag(ts) over (order by event_id) o "
                               "from '{d}/events.parquet') where o",
    "orders per customer, max": "select max(c) from (select count(*) c from '{d}/orders.parquet' "
                                "group by o_custkey)",
    "lineitems per order, max": "select max(c) from (select count(*) c from '{d}/lineitem.parquet' "
                                "group by l_orderkey)",
    "lineitem: shipdate >= orderdate": "select avg((l_shipdate >= o_orderdate)::int) "
                                       "from '{d}/lineitem.parquet' join '{d}/orders.parquet' "
                                       "on l_orderkey = o_orderkey",
}


def _num(v) -> float | None:
    if v is None or isinstance(v, str):
        return None
    if hasattr(v, "timestamp"):
        return v.timestamp()
    return float(v)


def _differs(a, b) -> bool:
    if a == b:
        return False
    x, y = _num(a), _num(b)
    if x is None or y is None:
        return True
    scale = max(abs(x), abs(y))
    return scale > 0 and abs(x - y) / scale > TOLERANCE


def column_stats(con, path: str) -> dict[str, tuple]:
    import pyarrow.parquet as pq

    schema = pq.read_schema(path)
    out = {"(rows)": (None, con.execute(f"select count(*) from '{path}'").fetchone())}
    for field in schema:
        c, typ = f'"{field.name}"', str(field.type)
        if typ.startswith("list"):
            q = f"select count(distinct len({c})), min(len({c})), max(len({c})), null, null"
        elif typ == "string":
            q = (f"select count(distinct {c}), min(length({c})), max(length({c})), "
                 f"avg(length({c})), stddev_pop(length({c}))")
        elif typ.startswith("timestamp"):
            q = (f"select count(distinct {c}), min({c}), max({c}), avg(epoch({c})), "
                 f"stddev_pop(epoch({c}))")
        else:
            q = f"select count(distinct {c}), min({c}), max({c}), avg({c}), stddev_pop({c})"
        out[field.name] = (typ, con.execute(f"{q} from '{path}'").fetchone())
    return out


def _fmt(v) -> str:
    if isinstance(v, float):
        return f"{v:.6g}" if math.isfinite(v) else str(v)
    return str(v)


def compare_tables(ref: str, gen: str) -> int:
    import duckdb

    con = duckdb.connect()
    marked = 0
    print("column: type, distinct values, min, max, mean, standard deviation "
          "(of the length for strings and lists)")
    for table in TABLES:
        a = column_stats(con, os.path.join(ref, f"{table}.parquet"))
        b = column_stats(con, os.path.join(gen, f"{table}.parquet"))
        for col in dict.fromkeys([*a, *b]):
            ta, va = a.get(col, (None, ()))
            tb, vb = b.get(col, (None, ()))
            bad = ta != tb or len(va) != len(vb) or any(map(_differs, va, vb))
            marked += bad
            print(f"{table}.{col:16s} ref {ta} {' '.join(map(_fmt, va))}\n"
                  f"{'':{len(table) + 17}s} gen {tb} {' '.join(map(_fmt, vb))}"
                  f"{'  <<' if bad else ''}")
    for name, sql in SHAPES.items():
        va = con.execute(sql.format(d=ref)).fetchone()[0]
        vb = con.execute(sql.format(d=gen)).fetchone()[0]
        bad = _differs(va, vb)
        marked += bad
        print(f"{name:34s} ref {_fmt(va):>12s}  gen {_fmt(vb):>12s}{'  <<' if bad else ''}")
    return marked


def _key_figures(recs: list[dict]) -> dict[str, dict[str, float]]:
    """Per key: median wall time over the plain passes and median layer
    self times over the traced passes of all ``recs``."""
    from perfbench.layers import key_split

    wall: dict[str, list[float]] = {}
    split: dict[str, dict[str, list[float]]] = {}
    for rec in recs:
        for p in rec["passes"]:
            for s in p["samples"]:
                if p["mode"] == "plain":
                    wall.setdefault(s["key"], []).append(s["s"])
                    continue
                own = key_split(rec["spans"], s)["self"]
                per = split.setdefault(s["key"], {})
                for layer in ("construct", "plan", "execute", "io.load"):
                    per.setdefault(layer, []).append(own.get(layer, 0.0))
    return {k: {"wall": statistics.median(v),
                **{layer: statistics.median(xs) for layer, xs in split.get(k, {}).items()}}
            for k, v in wall.items()}


def compare_runs(ref: str, sf: float, seconds: float) -> None:
    from perfbench.harness import run_benchmark
    from perfbench.workloads import WORKLOADS

    cols = ("wall", "construct", "plan", "execute", "io.load")
    for workload in WORKLOADS:
        recs: dict[str, list[dict]] = {"gen": [], "ref": []}
        for i, tag in enumerate(RUN_ORDER):
            recs[tag].append(run_benchmark(workload, i + 1, seconds, True, sf=sf,
                                           corpus=ref if tag == "ref" else None))
        rows = {tag: _key_figures(rs) for tag, rs in recs.items()}
        print(f"\n{workload}: per-key medians, seconds (gen / ref); wall over the "
              f"plain passes, layer self times over the traced passes")
        print(f"  {'key':30s}" + "".join(f"{c:>17s}" for c in cols))
        for key in WORKLOADS[workload].keys:
            g, r = rows["gen"].get(key, {}), rows["ref"].get(key, {})
            print(f"  {key:30s}" + "".join(
                f"{g.get(c, math.nan):8.3f} /{r.get(c, math.nan):7.3f}" for c in cols))
        for tag, rs in recs.items():
            plain = [p["wall"] for rec in rs for p in rec["passes"] if p["mode"] == "plain"]
            layers = [rec["layers"] for rec in rs]
            print(f"  {tag}: failures {sum(len(rec['failures']) for rec in rs)}, "
                  f"pass median {statistics.median(plain):.3f} s, construct share "
                  + " ".join(f"{m['core.construct_share']['value']:.3f}" for m in layers)
                  + ", python s " + " ".join(f"{m['exec.python_s']['value']:.3f}" for m in layers)
                  + ", io.load jobs " + " ".join(f"{m['io.load_jobs']['value']:.0f}"
                                                 for m in layers))
            for rec in rs:
                for f in rec["failures"]:
                    print(f"    FAIL {f['key']} [{f['phase']}] {f['error'][:160]}")


def main() -> None:
    ap = argparse.ArgumentParser(description="Compare the generated corpus with a reference.")
    ap.add_argument("reference", help="directory of the fixture tables at sf0.1")
    a = ap.parse_args()
    from perfbench.harness import corpus_dir, prepare_process

    prepare_process()
    marked = compare_tables(a.reference, corpus_dir(SF))
    print(f"\n{marked} lines differ by more than {TOLERANCE:.0%}")
    compare_runs(a.reference, SF, RUN_SECONDS)


if __name__ == "__main__":
    main()
