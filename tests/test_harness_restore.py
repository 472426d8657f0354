"""Pins for streaming/harness.py's session hygiene and restarts: the
shuffle-partition pin and the result sink leave the session as they
found it, and a micro-batch that Spark runs again replaces its output."""

from __future__ import annotations

import os
from datetime import datetime

import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark.operators.aggregations import count_per_key
from kafka_streams_app_spark.streaming.harness import (
    STREAM_PARTITIONS,
    MicroBatchReplay,
    run_available_now,
    stream_shuffle_partitions,
)

_KEY = "spark.sql.shuffle.partitions"
_T = datetime(2024, 1, 1)


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


def _delete_commit(checkpoint: str, batch_id: int) -> None:
    """Forget that `batch_id` committed, as a crash between its sink
    write and its commit would: Spark runs it again on restart."""
    for name in (str(batch_id), f".{batch_id}.crc"):
        os.remove(os.path.join(checkpoint, "commits", name))


def test_replayed_batch_replaces_its_rows(spark):
    """A micro-batch that Spark runs again after a restart replaces the
    rows it emitted the first time; the output holds each row once."""
    with MicroBatchReplay(spark, "word string, ts timestamp",
                          lambda src: count_per_key(src, ["word"]),
                          "update") as r:
        r.pipe([("hello", _T)])
        r.pipe([("world", _T)])
        assert sorted(tuple(x) for x in r.drain()) == [("hello", 1), ("world", 1)]
        r.query.stop()
        _delete_commit(r._checkpoint, 1)
        r.restart()
        r.query.processAllAvailable()
        assert r.query.recentProgress[0]["batchId"] == 1
        assert sorted(tuple(x) for x in r.table().collect()) == [
            ("hello", 1), ("world", 1)]
        assert r.drain() == []


def test_harness_registers_no_table(spark, tmp_path):
    """run_available_now and a MicroBatchReplay run leave the session's
    catalog as they found it: a gate that runs every streaming entry in
    one session accumulates nothing there."""
    def tables():
        return sorted(t.name for t in spark.catalog.listTables())

    before = tables()
    src = str(tmp_path / "src")
    spark.range(20).select((F.col("id") % 3).alias("k")).write.parquet(src)
    stream = spark.readStream.schema("k long").parquet(src).groupBy("k").count()
    assert run_available_now(spark, stream, "complete").count() == 3
    assert tables() == before
    with MicroBatchReplay(spark, "k long", lambda src: src) as r:
        r.pipe([(1,), (2,)])
        assert len(r.drain()) == 2
    assert tables() == before
