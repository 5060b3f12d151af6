"""Correctness gate: every timed key against its DuckDB oracle.

The comparison is the one tests/test_oracle_parity.py makes: collect the
Spark frame through a sorted-column projection, then compare the column
set, the row count and the order-insensitive canonical values with the
oracle SQL run by DuckDB over the same parquet files.  Oracle results are reduced to a digest and
cached per corpus fingerprint, so only the first run on a corpus pays for
DuckDB.  Every workload key has an oracle; a key without one fails the
gate rather than being timed unchecked.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os


class Mismatch(Exception):
    """A key's output differs from its oracle."""


def _canon(v):
    if v is None or isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if math.isinf(v):
            return "Inf" if v > 0 else "-Inf"
        return repr(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if isinstance(v, bytes):
        return v.hex()
    return v


def _sortkey(row):
    return tuple((x is None, type(x).__name__, str(x)) for x in row)


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Column set, row count and a hash of the canonical sorted rows."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted((tuple(_canon(r[i]) for i in order) for r in rows), key=_sortkey)
    h = hashlib.sha256()
    for row in canon:
        h.update(repr(row).encode())
        h.update(b"\n")
    return {"columns": sorted(columns), "rows": len(canon), "sha256": h.hexdigest()}


class Oracle:
    """Expected digests for one corpus, computed by DuckDB and cached."""

    def __init__(self, corpus_dir: str, fingerprint: str, cache_dir: str,
                 oracles: dict[str, str], tables: list[str]):
        self._corpus = corpus_dir
        self._sql = oracles
        self._tables = tables
        os.makedirs(cache_dir, exist_ok=True)
        tag = hashlib.sha1(fingerprint.encode()).hexdigest()[:16]
        self._path = os.path.join(cache_dir, f"oracle-{tag}.json")
        self._cache: dict[str, dict] = {}
        if os.path.exists(self._path):
            with open(self._path) as f:
                self._cache = json.load(f)
        self._con = None

    @property
    def keys(self):
        return self._sql.keys()

    def expected(self, key: str) -> dict:
        sql = self._sql[key]
        entry = self._cache.get(key)
        if entry is None or entry["sql"] != sql:
            entry = dict(self._run(sql), sql=sql)
            self._cache[key] = entry
            tmp = self._path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self._cache, f)
            os.replace(tmp, self._path)
        return entry

    def _run(self, sql: str) -> dict:
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self._tables:
                path = os.path.join(self._corpus, f"{t}.parquet")
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        cur = self._con.execute(sql)
        return digest([d[0] for d in cur.description], cur.fetchall())

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def check(df, key: str, oracle: Oracle) -> None:
    """Raise :class:`Mismatch` unless ``df`` matches the key's oracle."""
    if key not in oracle.keys:
        raise Mismatch(f"{key}: rows-only key, no oracle to check it against")
    proj = df.select(*sorted(df.columns))
    rows = [tuple(r) for r in proj.collect()]
    got, want = digest(proj.columns, rows), oracle.expected(key)
    if got["columns"] != want["columns"]:
        raise Mismatch(f"{key}: columns {got['columns']} != oracle {want['columns']}")
    if got["rows"] != want["rows"]:
        raise Mismatch(f"{key}: rows {got['rows']} != oracle {want['rows']}")
    if got["sha256"] != want["sha256"]:
        raise Mismatch(f"{key}: values differ from oracle ({got['rows']} rows)")
