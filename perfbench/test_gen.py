"""Tests for the benchmark's seeded input generator.

    python3 -m pytest perfbench/test_gen.py -q

Run from the repository root. No Spark session is started.
"""

from __future__ import annotations

import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from kafka_streams_app_spark.sources.catalog import TABLES  # noqa: E402
from perfbench import gen, workloads  # noqa: E402

TICK_US = int(workloads.LIVE_TICK_S * 1e6)
PER_TICK = int(workloads.LIVE_RATE * workloads.LIVE_TICK_S)


def _ticks(seed: int, n_ticks: int) -> list[pa.Table]:
    """The live workload's ticks for `seed`, stamped from time 0."""
    rng = np.random.default_rng(seed)
    users = gen.key_order(rng, workloads.LIVE_USERS)
    return [gen.tick_events(rng, k * PER_TICK, PER_TICK, k * TICK_US, TICK_US,
                            users, workloads.ZIPF_EXPONENT)
            for k in range(n_ticks)]


def _digest(path) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_identical_files(tmp_path):
    for run in ("a", "b"):
        for k, t in enumerate(_ticks(5, 3)):
            gen.write_parquet(t, str(tmp_path / f"{run}-{k}.parquet"))
    for k in range(3):
        assert _digest(tmp_path / f"a-{k}.parquet") == _digest(tmp_path / f"b-{k}.parquet")
    gen.write_parquet(_ticks(6, 1)[0], str(tmp_path / "c-0.parquet"))
    assert _digest(tmp_path / "a-0.parquet") != _digest(tmp_path / "c-0.parquet")


def test_schema_matches_catalog_and_fixture(tmp_path):
    path = str(tmp_path / "events.parquet")
    gen.write_parquet(_ticks(1, 1)[0], path)
    schema = pq.read_schema(path)
    fixture = pq.read_schema(os.path.join(workloads.FIXTURES, "events.parquet"))
    assert schema.names == fixture.names == gen.EVENTS_SCHEMA.names
    assert [f.type for f in schema] == [f.type for f in fixture]
    for col in TABLES["events"]:
        assert pa.types.is_timestamp(schema.field(col).type), col


def test_stated_out_of_order_share_holds():
    # the live generator states a zero share: every tick follows the one
    # before it and is stamped in schedule order
    ts = pa.concat_tables(_ticks(2, 20)).column("ts").cast(pa.int64()).to_numpy()
    assert gen.out_of_order_share(ts) == 0.0
    assert gen.out_of_order_share(np.array([0, 5, 3, 6, 1])) == 0.5


def test_key_skew_follows_zipf():
    n_keys, exponent = workloads.LIVE_USERS, workloads.ZIPF_EXPONENT
    users = pa.concat_tables(_ticks(3, 60)).column("user_id").to_numpy()
    counts = np.sort(np.bincount(users, minlength=n_keys))[::-1]
    weights = 1.0 / np.arange(1, n_keys + 1) ** exponent
    weights /= weights.sum()
    top = n_keys // 100
    expected = weights[:top].sum()
    observed = counts[:top].sum() / counts.sum()
    assert abs(observed - expected) < 0.1 * expected, (observed, expected)
    assert counts[0] > 20 * np.median(counts)  # one hot key, a long tail


def test_tick_events_are_stamped_on_schedule():
    t = gen.tick_events(np.random.default_rng(4), 100, 1000, 1_000_000, 500_000,
                        np.arange(2000), 1.1)
    ts = t.column("ts").cast(pa.int64()).to_numpy()
    assert t.column("event_id").to_pylist() == list(range(100, 1100))
    assert ts.min() == 1_000_000 and ts.max() < 1_500_000
    assert np.all(np.diff(ts) > 0)
