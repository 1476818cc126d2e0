"""Answer checking against DuckDB, outside the timed region.

Both sides go through the same path: Python row objects -> DataFrame ->
the canonical form of ``scripts/check_contract.py`` (columns sorted by
name, each cell through its ``render``, no numeric coercion, rows
sorted). An answer is the rendered rows plus the column names and dtype
kinds, so expected answers can be cached as JSON per fixture.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
import threading

import pandas as pd

from fixtures import FIXTURE_VERSION

_SCRIPT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "scripts", "check_contract.py")
_spec = importlib.util.spec_from_file_location("check_contract", _SCRIPT)
_cc = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_cc)

TABLES = _cc.TABLES


def _plain(v):
    """Spark Row -> dict (DuckDB returns structs as dicts), recursively."""
    if hasattr(v, "asDict"):
        return {k: _plain(x) for k, x in v.asDict().items()}
    if isinstance(v, list):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {k: _plain(x) for k, x in v.items()}
    return v


def answer(columns: list[str], rows) -> dict:
    """Canonical, JSON-serialisable form of a result set."""
    seen: dict[str, int] = {}
    cols = []
    for c in columns:  # duplicate names would break the reindex
        c = c.lower()
        seen[c] = seen.get(c, 0) + 1
        cols.append(c if seen[c] == 1 else f"{c}#{seen[c]}")
    df = pd.DataFrame([[_plain(v) for v in r] for r in rows], columns=cols)
    df = df.reindex(sorted(df.columns), axis=1)
    kinds = ["f" if df[c].dtype.kind == "f" else "i" if df[c].dtype.kind in "iu"
             else "o" for c in df.columns]
    data = sorted([_cc.render(v) for v in r] for r in df.itertuples(index=False))
    return {"columns": list(df.columns), "kinds": kinds, "rows": data}


def diff(got: dict, want: dict) -> str | None:
    """None when equal, else the first difference, in check_contract's terms."""
    if got["columns"] != want["columns"]:
        return f"cols {got['columns']} != {want['columns']}"
    if len(got["rows"]) != len(want["rows"]):
        return f"rows {len(got['rows'])} != {len(want['rows'])}"
    for c, a, b in zip(got["columns"], got["kinds"], want["kinds"]):
        if {a, b} == {"i", "f"} and got["rows"]:
            return f"dtype {c}: {a} vs {b}"
    for i, (a, b) in enumerate(zip(got["rows"], want["rows"])):
        if a != b:
            return f"row {i}: {a} != {b}"
    return None


class Oracle:
    """DuckDB 1.0 over the same parquet; answers cached per fixture."""

    def __init__(self, sf_dir: str, cache_dir: str, timeout_s: float = 120.0):
        import duckdb

        self.con = duckdb.connect()
        # single-threaded, like check_contract: reference-exact folds replay
        # DuckDB's sequential accumulation
        self.con.execute("SET threads TO 1")
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            src = f"{p}/*.parquet" if os.path.isdir(p) else p
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
        self.timeout_s = timeout_s
        self.path = os.path.join(cache_dir, f"expected-v{FIXTURE_VERSION}-" + hashlib.sha1(
            sf_dir.encode()).hexdigest()[:12] + ".json")
        self.cache: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.cache = json.load(f)
        self.dirty = False

    def expected(self, sql: str) -> dict:
        key = hashlib.sha1(sql.encode()).hexdigest()
        if key not in self.cache:
            timer = threading.Timer(self.timeout_s, self.con.interrupt)
            timer.start()
            try:
                cur = self.con.execute(sql)
                cols = [d[0] for d in cur.description]
                self.cache[key] = answer(cols, cur.fetchall())
            except Exception as e:  # noqa: BLE001 — recorded as the answer
                self.cache[key] = {"error": str(e).splitlines()[0][:200]}
            finally:
                timer.cancel()
            self.dirty = True
        return self.cache[key]

    def save(self) -> None:
        if self.dirty:
            tmp = self.path + ".tmp"
            with open(tmp, "w") as f:
                json.dump(self.cache, f)
            os.replace(tmp, self.path)
            self.dirty = False
