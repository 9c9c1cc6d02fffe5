"""Result checking against the registry's DuckDB oracles.

Spark results are written as parquet and read back through DuckDB, so
both sides go through the same DuckDB-to-pandas conversion; rows are
normalized by ``tools/oracle_check.py``'s ``normalize`` (columns sorted
by name, floats by repr, rows sorted) and compared by digest.
"""

from __future__ import annotations

import glob
import hashlib
import importlib.util
import json
import os
import sys

_spec = importlib.util.spec_from_file_location(
    "oracle_check", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                 "tools", "oracle_check.py"))
oracle_check = importlib.util.module_from_spec(_spec)
_path = list(sys.path)
_spec.loader.exec_module(oracle_check)
sys.path[:] = _path  # the module prepends a checkout path of its own


def digest(pdf) -> str:
    h = hashlib.sha256(repr(sorted(pdf.columns)).encode())
    for r in oracle_check.normalize(pdf):
        h.update(repr(r).encode())
    return h.hexdigest()


def connect(data_dir: str, threads: int):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {threads}")
    for t in oracle_check.TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def spark_output_digest(con, out_dir: str, columns: list[str]) -> str:
    """Digest of a Spark parquet output directory (no part file means
    an empty result)."""
    import pandas as pd

    files = sorted(glob.glob(os.path.join(out_dir, "*.parquet")))
    if not files:
        return digest(pd.DataFrame(columns=columns))
    return digest(con.execute(f"SELECT * FROM read_parquet({files!r})").df())


def sql_key(sql: str) -> str:
    return hashlib.sha256(sql.encode()).hexdigest()[:16]


class OracleCache:
    """Oracle digests keyed by (input content key, query, oracle SQL).
    The content key ignores row order, so every seed's permutation of
    the same content hits the same entry. ``committed`` is read-only;
    misses are computed with DuckDB and stored in ``runtime``."""

    def __init__(self, committed: str, runtime: str):
        self.runtime = runtime
        self.entries: dict = {}
        for path in (committed, runtime):
            if os.path.exists(path):
                with open(path) as f:
                    for k, v in json.load(f).items():
                        self.entries.setdefault(k, {}).update(v)

    def get(self, con, content_key: str, name: str, sql: str) -> str:
        slot = self.entries.setdefault(content_key, {})
        hit = slot.get(name)
        if hit and hit["sql"] == sql_key(sql):
            return hit["digest"]
        slot[name] = {"sql": sql_key(sql), "digest": digest(con.execute(sql).df())}
        os.makedirs(os.path.dirname(self.runtime), exist_ok=True)
        with open(self.runtime, "w") as f:
            json.dump(self.entries, f, indent=1, sort_keys=True)
        return slot[name]["digest"]
