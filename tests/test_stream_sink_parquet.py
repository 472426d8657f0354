"""Parquet foreachBatch sink == memory sink for run_available_now.

The big-SF gate runbook sets SPARK_GRAFT_STREAM_SINK=parquet so
streaming-entry results are written by executors and read back as a
distributed scan (driver-flat verification). This pins that the two
sink paths produce the same multiset of rows for every output mode the
registry uses (append / update / complete), including the empty-input
shape the parquet path special-cases.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark.streaming.harness import run_available_now


def _with_sink(monkeypatch, sink):
    if sink is None:
        monkeypatch.delenv("SPARK_GRAFT_STREAM_SINK", raising=False)
    else:
        monkeypatch.setenv("SPARK_GRAFT_STREAM_SINK", sink)


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _source(spark, tmp_path, n=200):
    import uuid

    src = str(tmp_path / f"src_{uuid.uuid4().hex[:8]}")
    spark.range(n).select(
        F.col("id"),
        (F.col("id") % 7).alias("k"),
        F.timestamp_seconds(F.lit(1_700_000_000) + F.col("id")).alias("ts"),
    ).write.parquet(src)
    return spark.readStream.schema("id long, k long, ts timestamp").parquet(src)


@pytest.mark.parametrize(
    "mode,build",
    [
        ("append", lambda s: s.withWatermark("ts", "0 seconds")
            .groupBy(F.window("ts", "10 seconds"), "k").count()
            .select("k", F.col("window.start").alias("ws"), "count")),
        ("update", lambda s: s.withWatermark("ts", "0 seconds")
            .groupBy("k").count()),
        ("complete", lambda s: s.groupBy("k").count()),
    ],
)
def test_parquet_sink_matches_memory(spark, tmp_path, monkeypatch, mode, build):
    import uuid

    out_by_sink = {}
    for sink in ("memory", "parquet"):
        _with_sink(monkeypatch, sink)
        stream = build(_source(spark, tmp_path))
        name = f"sink_eq_{mode}_{sink}_{uuid.uuid4().hex[:8]}"
        out_by_sink[sink] = _rows(run_available_now(spark, stream, name, mode))
    assert out_by_sink["memory"] == out_by_sink["parquet"]
    assert sum(out_by_sink["parquet"].values()) > 0


def test_parquet_sink_empty_input(spark, tmp_path, monkeypatch):
    import uuid

    _with_sink(monkeypatch, "parquet")
    src = str(tmp_path / "empty_src")
    os.makedirs(src, exist_ok=True)
    stream = (
        spark.readStream.schema("id long, ts timestamp").parquet(src)
        .withWatermark("ts", "0 seconds")
        .groupBy("id").count()
    )
    out = run_available_now(
        spark, stream, f"sink_eq_empty_{uuid.uuid4().hex[:8]}", "update"
    )
    assert out.count() == 0
    assert out.columns == ["id", "count"]


def test_replay_table_before_first_emitted_row(spark):
    """MicroBatchReplay(sink="parquet").table() before any batch has
    emitted a row: an empty frame with the query's schema, not a
    schema-inference failure on the empty output directory."""
    from kafka_streams_app_spark.streaming.harness import MicroBatchReplay

    with MicroBatchReplay(
        spark, "id long, v long",
        lambda src: src.filter(F.col("v") > 0).select("id", "v"),
        sink="parquet",
    ) as r:
        assert r.table().collect() == []
        r.pipe([(1, 0)])  # filtered out: the batch emits nothing
        t = r.table()
        assert t.collect() == [] and t.columns == ["id", "v"]
        r.pipe([(2, 5)])
        assert [tuple(x) for x in r.table().collect()] == [(2, 5)]
