"""Seeded synthetic inputs for the benchmark.

Writes the two tables the workloads read, ``orders`` and ``events``, one
parquet file each, at a given scale factor. Row counts, key ranges, value
domains and column types follow the repository's reference test tables
(``events.ts`` is TIMESTAMP NANOS on disk, as there), so the registry
entries run unchanged on the output; the values come only from ``seed``.
The same (sf, seed) always yields identical tables.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("orders", "events")

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _choice(rng, values, n) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(rng.integers(0, len(values), n), pa.int32()), pa.array(values)
    ).cast(pa.string())


def orders(sf: float, seed: int) -> pa.Table:
    rng = np.random.default_rng([seed, 0])
    n = max(int(1_500_000 * sf), 10)
    first, last = np.datetime64("1995-01-01", "D"), np.datetime64("2001-08-01", "D")
    days = rng.integers(0, int((last - first).astype(int)) + 1, n)
    return pa.table({
        "o_orderkey": np.arange(n, dtype=np.int64),
        "o_custkey": rng.integers(0, max(int(150_000 * sf), 10), n),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], n),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n), 2),
        "o_orderdate": (first + days).astype("datetime64[us]"),
        "o_orderpriority": _choice(rng, _PRIORITIES, n),
    })


def events(sf: float, seed: int) -> pa.Table:
    return events_table(np.random.default_rng([seed, 1]),
                        max(int(1_000_000 * sf), 10), max(int(15_000 * sf), 10))


def events_table(rng, n: int, n_users: int, first_id: int = 0) -> pa.Table:
    """Event-stream rows with increasing ids and timestamps (TIMESTAMP
    NANOS on disk, as the reference stream table has)."""
    start = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
        "ts": pa.array(ts.astype("datetime64[ns]")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _choice(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table to ``out_dir/<name>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, make in (("orders", orders), ("events", events)):
        pq.write_table(make(sf, seed), os.path.join(out_dir, f"{name}.parquet"),
                       compression="snappy")
