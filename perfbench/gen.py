"""Seeded input generator for the live workload.

The generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and writes parquet with a fixed writer configuration, so the
same seed gives byte-identical files.

``tick_events`` makes one small ``events`` file per generator tick
(schema ``EVENTS_SCHEMA``, the layout of the catalog's ``events``
table), with Zipf-skewed user keys and every event stamped with its
scheduled creation time. Ticks are scheduled in order and the events of
a tick are in stamp order, so the stated out-of-order share is zero.

Timestamps are written as naive ``timestamp[us]``. Spark's file stream
reads that as ``TIMESTAMP_NTZ``, which ``withWatermark`` rejects, so the
files must be read through ``sources.catalog.load_table``/``load_stream``
(which normalise it to a session-TZ timestamp), never with a bare
``spark.read.parquet``.

The batch workload generates nothing: it reads the repository's fixed
sf0.01 test tables, copied under ``perfbench/fixtures/sf0.01``.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")

EVENTS_SCHEMA = pa.schema([
    ("event_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("user_id", pa.int64()),
    ("event_type", pa.string()),
    ("value", pa.float64()),
    ("props", pa.string()),
])


def write_parquet(table: pa.Table, path: str) -> None:
    """Write with a pinned configuration: same table, same bytes."""
    pq.write_table(table, path, compression="snappy", use_dictionary=True,
                   write_statistics=True, store_schema=False)


def key_order(rng: np.random.Generator, n_keys: int) -> np.ndarray:
    """Key ids 0..n_keys-1 in popularity order: the first is the hottest.
    Drawn once per run, so the hottest key is not always id 0."""
    return rng.permutation(n_keys).astype(np.int64)


def zipf_keys(rng: np.random.Generator, n: int, keys: np.ndarray,
              exponent: float) -> np.ndarray:
    """n draws from `keys` (see ``key_order``); the key at rank r is drawn
    with P ~ 1 / r**exponent."""
    weights = 1.0 / np.arange(1, len(keys) + 1, dtype=np.float64) ** exponent
    return keys[rng.choice(len(keys), size=n, p=weights / weights.sum())]


def tick_events(rng: np.random.Generator, first_id: int, n: int,
                tick_start_us: int, tick_us: int, keys: np.ndarray,
                zipf_exponent: float) -> pa.Table:
    """One live tick: n events evenly scheduled across [tick_start,
    tick_start + tick), each stamped with its scheduled time."""
    ts = tick_start_us + (np.arange(n, dtype=np.int64) * tick_us) // max(n, 1)
    users = zipf_keys(rng, n, keys, zipf_exponent)
    types = rng.integers(0, len(EVENT_TYPES), n)
    value = np.round(rng.uniform(0.0, 560.0, n), 2)
    props_k = rng.integers(0, 100, n)
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(users, pa.int64()),
        "event_type": pa.array(np.asarray(EVENT_TYPES, dtype=object)[types], pa.string()),
        "value": pa.array(value, pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in props_k.tolist()], pa.string()),
    }, schema=EVENTS_SCHEMA)


def out_of_order_share(ts_us: np.ndarray) -> float:
    """Share of events whose timestamp is below the running maximum of
    the events before them."""
    if len(ts_us) < 2:
        return 0.0
    running = np.maximum.accumulate(ts_us)
    return float(np.mean(ts_us[1:] < running[:-1]))
