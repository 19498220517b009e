"""Seeded input tables for the benchmark.

``fixture/`` holds the engine's own test tables ``events``, ``documents``
and ``embeddings`` at scale factor 0.01 (10000, 500 and 500 rows; the other
tables of the star schema are not read by the benchmarked queries). A run
keeps about 90% of the rows of each table, chosen by a hash of the seed and
the row's primary id, and writes them with pyarrow, so column names, parquet
types and schema metadata are the fixture's. The library reads only the
derived directory (``sources.tables.load_table``).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow.parquet as pq

FIXTURE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixture")
PRIMARY_ID = {"events": "event_id", "documents": "doc_id", "embeddings": "vec_id"}
KEEP_PERCENT = 90

_M64 = np.uint64(0xFFFFFFFFFFFFFFFF)


def mix64(x: np.ndarray) -> np.ndarray:
    """SplitMix64 finaliser: a fixed, platform-independent 64-bit hash."""
    x = x.astype(np.uint64)
    with np.errstate(over="ignore"):
        x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return (x ^ (x >> np.uint64(31))) & _M64


def keep_mask(seed: int, ids: np.ndarray) -> np.ndarray:
    """Rows kept for ``seed``: ``hash(seed, id) mod 100 < KEEP_PERCENT``."""
    with np.errstate(over="ignore"):
        key = mix64(np.full(ids.shape, seed, dtype=np.uint64)) ^ ids.astype(np.uint64)
    return (mix64(key) % np.uint64(100)) < np.uint64(KEEP_PERCENT)


def write_tables(out_dir: str, seed: int, tables) -> dict[str, int]:
    """Write the seeded subset of each fixture table in ``tables`` as
    ``<out_dir>/<name>.parquet``; returns the rows written per table."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name in tables:
        t = pq.read_table(os.path.join(FIXTURE_DIR, f"{name}.parquet"))
        t = t.filter(keep_mask(seed, t.column(PRIMARY_ID[name]).to_numpy()))
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
