"""Pins for streaming/harness.py's session hygiene: the shuffle-
partition pin leaves the session as it found it, and a parquet-sink
replay reports an unreadable output instead of "no new rows"."""

from __future__ import annotations

import os

import pytest

from kafka_streams_app_spark.streaming.harness import (
    STREAM_PARTITIONS,
    MicroBatchReplay,
    stream_shuffle_partitions,
)

_KEY = "spark.sql.shuffle.partitions"


@pytest.mark.parametrize("prior", [None, "3"], ids=["unset", "set"])
def test_stream_shuffle_partitions_leaves_the_session_as_found(spark, prior):
    s = spark.newSession()
    if prior is None:
        s.conf.unset(_KEY)
    else:
        s.conf.set(_KEY, prior)
    assert s.conf.get(_KEY, None) == prior
    with stream_shuffle_partitions(s):
        assert s.conf.get(_KEY) == str(STREAM_PARTITIONS)
    assert s.conf.get(_KEY, None) == prior


def test_parquet_drain_raises_on_unreadable_output(spark):
    with MicroBatchReplay(spark, "k long, v long", lambda src: src,
                          "append", sink="parquet") as r:
        assert r.drain() == []  # nothing emitted yet
        r.pipe([(1, 10), (2, 20)])
        assert sorted(tuple(x) for x in r.drain()) == [(1, 10), (2, 20)]
        with open(os.path.join(r._out_dir, "part-99999-garbage.parquet"),
                  "wb") as f:
            f.write(b"not a parquet file")
        with pytest.raises(Exception):
            r.drain()
