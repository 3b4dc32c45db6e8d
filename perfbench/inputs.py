"""Benchmark inputs, made from the seed.

- ``write_events``: the simulated stream (the ``events`` table schema),
  fully generated from the seed.
- ``split_ids`` / ``slice_frame``: the admit and serve batches, a seeded
  partition of the committed ``documents`` / ``embeddings`` tables.
- ``FIXTURE``: the committed copy of the library's sf0.01 fixture tables,
  read by the admit batches and the registry entries (the registry's
  expected result hashes are computed from these exact files).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

N_USERS = 1500
EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])


def write_events(out_dir: str, seed: int, n: int, n_shards: int = 8) -> dict[str, str]:
    """Write ``{out_dir}/events.parquet`` with ``n`` events and return the
    per-shard tail sequence a complete drain must checkpoint (shard =
    ``user_id % n_shards``, sequence = zero-padded ``event_id``, the
    library's record model)."""
    rng = np.random.default_rng([seed, 1])
    span_us = 30 * 86400 * 10**6
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, span_us, n)).astype(
        "timedelta64[us]"
    )
    user = rng.integers(0, N_USERS, n).astype(np.int64)
    table = pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": user,
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": np.round(rng.uniform(0, 125, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(table, os.path.join(out_dir, "events.parquet"))
    eid = np.arange(n, dtype=np.int64)
    return {
        f"shardId-{s:012d}": f"{int(eid[user % n_shards == s].max()):012d}"
        for s in range(n_shards)
        if (user % n_shards == s).any()
    }


def _mix(ids: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 of (id, seed): the slice-membership hash."""
    with np.errstate(over="ignore"):
        z = ids.astype(np.uint64) + np.uint64(seed) * np.uint64(0x9E3779B97F4A7C15)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _slice_of(ids: np.ndarray, seed: int, n_slices: int) -> np.ndarray:
    """Slice index per id: ids dealt round-robin in the order of their
    (id, seed) hash, so membership follows the seed while every slice has
    the same size (within one). Admit cost barely depends on batch size,
    so equal sizes keep rows per second comparable across seeds."""
    out = np.empty(len(ids), dtype=np.int64)
    out[np.argsort(_mix(ids, seed), kind="stable")] = np.arange(len(ids)) % n_slices
    return out


ID_COLUMNS = {"documents": "doc_id", "embeddings": "vec_id"}


def split_ids(seed: int, n_slices: int) -> dict[str, list[list[int]]]:
    """table → the ids of each of ``n_slices`` seeded slices (see
    ``_slice_of``) of the fixture's ``documents`` and ``embeddings``."""
    out = {}
    for table, col in ID_COLUMNS.items():
        ids = pq.read_table(os.path.join(FIXTURE, f"{table}.parquet"), columns=[col]).column(col).to_numpy()
        of = _slice_of(ids, seed, n_slices)
        out[table] = [[int(i) for i in ids[of == g]] for g in range(n_slices)]
    return out


def slice_frame(spark, table: str, ids: list[int]):
    """One slice as an admit batch: the fixture table filtered to ``ids``
    (a filtered view of the whole table, the batch shape of the
    repository's jobs-per-admit record, ``tools/admit_jobs.py``)."""
    from pyspark.sql import functions as F

    from kinesis_iterator_spark.tables import load_table

    return load_table(spark, FIXTURE, table).filter(F.col(ID_COLUMNS[table]).isin(ids))
