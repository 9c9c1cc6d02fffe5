"""Seeded inputs for the benchmark workloads.

Batch tables have the shape of the engine's sf0.1 test tables (same
names, columns, types, cardinalities and value domains). Their CONTENT
comes from a fixed content seed, so every run checks against the same
answers; the workload ``--seed`` permutes the row order of every table
and so the scan order, partition contents and row-group boundaries the
engine sees. Files get the multi-row-group layout of
``tools/make_sf_replica.py`` (at least 32 groups, at least 2,048 rows
per group).

Stream events are keyed by a zipf-skewed draw over many more keys than
the 1,500 users of the sf0.1 ``events`` table, with values in integer
cents, so the exact per-key ``(n_events, total)`` is known here before
the engine runs.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 20240101

_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_LANGS = ["en", "de", "es", "fr", "zh"]


def _documents(rng, n: int = 5000) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = np.array(_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    # 5% near-duplicates (an earlier doc plus " dup") and a few exact copies
    for i in rng.choice(np.arange(100, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    for i in rng.choice(np.arange(100, n), 8, replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    lang = np.array(_LANGS)[rng.choice(5, n, p=[0.41, 0.14, 0.15, 0.15, 0.15])]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int = 2000, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(v.ravel()), dim).cast(pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": emb,
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


def _customer(rng, n: int = 15000) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array(np.arange(n), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": rng.integers(-99999, 1000000, n) / 100.0,
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n)],
    })


# one random stream per table, so a table's content does not depend on
# which other tables are generated with it
_TABLES = {"customer": (2, _customer), "documents": (101, _documents), "embeddings": (102, _embeddings)}


def base_tables() -> dict[str, pa.Table]:
    """The fixed-content input tables of the batch workload, rows in key
    order."""
    return {t: make(np.random.default_rng([CONTENT_SEED, stream]))
            for t, (stream, make) in _TABLES.items()}


def content_key(tables: dict[str, pa.Table]) -> str:
    """Order-independent digest of the tables' content: a per-row hash
    summed mod 2**64 per table, so any row permutation maps to the same
    key and any changed value to another."""
    import pandas as pd

    h = hashlib.sha256()
    for name in sorted(tables):
        df = tables[name].to_pandas()
        df = df.map(lambda v: v.tobytes() if isinstance(v, np.ndarray) else v) if "embedding" in df else df
        rows = pd.util.hash_pandas_object(df, index=False).to_numpy(np.uint64)
        h.update(f"{name}:{len(df)}:{list(df.columns)}:{int(rows.sum(dtype=np.uint64))};".encode())
    return h.hexdigest()[:32]


def write_tables(tables: dict[str, pa.Table], out_dir: str, seed: int) -> None:
    """Write each table in a seed-permuted row order with the
    make_sf_replica row-group rule."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, tbl) in enumerate(sorted(tables.items())):
        perm = np.random.default_rng([seed, i]).permutation(tbl.num_rows)
        rg = max(2048, tbl.num_rows // 32 or 1)
        pq.write_table(tbl.take(perm), os.path.join(out_dir, f"{name}.parquet"), row_group_size=rg)


class EventStream:
    """Keyed events: ``key`` zipf-distributed over ``n_keys`` ranks with
    exponent ``skew``, ``cents`` uniform in [1, 50000]. Keeps the exact
    expected per-key count and cent total of everything it has drawn.
    ``stream`` selects one of several independent streams of a seed."""

    def __init__(self, seed: int, n_keys: int, skew: float, stream: int = 0):
        self.rng = np.random.default_rng([seed, 7, stream])
        w = 1.0 / np.arange(1, n_keys + 1) ** skew
        self.cdf = np.cumsum(w) / w.sum()
        # rank -> key id, shuffled so hot keys are spread over the id space
        self.key_of_rank = self.rng.permutation(n_keys).astype(np.int64)
        self.count = np.zeros(n_keys, np.int64)
        self.cents = np.zeros(n_keys, np.int64)

    def batch(self, n: int, created_us: int) -> pa.Table:
        ranks = np.minimum(np.searchsorted(self.cdf, self.rng.random(n)), len(self.cdf) - 1)
        keys = self.key_of_rank[ranks]
        cents = self.rng.integers(1, 50001, n)
        np.add.at(self.count, keys, 1)
        np.add.at(self.cents, keys, cents)
        return pa.table({
            "user_id": pa.array(keys, pa.int64()),
            "value": pa.array(cents / 100.0, pa.float64()),
            "created_us": pa.array(np.full(n, created_us), pa.int64()),
        })

    def expected(self) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
        """(keys, n_events, total_cents) of every key drawn so far."""
        keys = np.flatnonzero(self.count)
        return keys, self.count[keys], self.cents[keys]


def write_file(tbl: pa.Table, dir_: str, name: str) -> None:
    """Atomic publish: the file source ignores dot-files, so write one
    and rename it into place."""
    tmp = os.path.join(dir_, f".{name}.tmp")
    pq.write_table(tbl, tmp)
    os.rename(tmp, os.path.join(dir_, name))
