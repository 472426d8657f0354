"""run_available_now == the same aggregation run as a batch.

Every streaming registry entry is evaluated through run_available_now,
whose one sink (streaming/harness.py:KeptBatches) keeps each micro-batch
in Spark's block manager and returns their union. This pins that union
against the batch result of the same aggregation over the same source
for every output mode the registry uses (append / update / complete),
over a source read one file per micro-batch, plus the empty-input
shape.
"""

from __future__ import annotations

import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark.streaming.harness import (
    MicroBatchReplay,
    run_available_now,
)

T0 = 1_700_000_000
N_FILES, PER_FILE = 4, 50
SCHEMA = "id long, k long, ts timestamp"


def _rows(df):
    return Counter(tuple(r) for r in df.collect())


def _source_dir(spark, tmp_path):
    """N_FILES parquet files in event-time order, one per micro-batch."""
    src = str(tmp_path / "src")
    for f in range(N_FILES):
        spark.range(f * PER_FILE, (f + 1) * PER_FILE).select(
            F.col("id"),
            (F.col("id") % 7).alias("k"),
            F.timestamp_seconds(F.lit(T0) + F.col("id")).alias("ts"),
        ).coalesce(1).write.mode("append").parquet(src)
    return src


def _windowed(df):
    return (df.groupBy(F.window("ts", "10 seconds"), "k").count()
            .select("k", F.col("window.start").alias("ws"), "count"))


def _closed(df):
    """Windows that end at or before the last event time: the ones an
    append-mode query emits by the final watermark (delay 0)."""
    last = F.timestamp_seconds(F.lit(T0 + N_FILES * PER_FILE - 1))
    return df.filter(F.col("ws") + F.expr("INTERVAL 10 SECONDS") <= last)


@pytest.mark.parametrize("mode", ["append", "update", "complete"])
def test_run_available_now_matches_batch(spark, tmp_path, mode):
    src = _source_dir(spark, tmp_path)
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    batch = spark.read.schema(SCHEMA).parquet(src)
    if mode == "append":
        out = run_available_now(
            spark, _windowed(stream.withWatermark("ts", "0 seconds")), mode)
        want = _rows(_closed(_windowed(batch)))
        got = _rows(out)
    else:
        agg = stream.withWatermark("ts", "0 seconds") if mode == "update" else stream
        out = run_available_now(spark, agg.groupBy("k").count(), mode)
        want = _rows(batch.groupBy("k").count())
        if mode == "update":
            # one row per key per micro-batch that touched it; the last
            # (largest) running count is the batch count
            assert sum(_rows(out).values()) > len(want)
            got = Counter((k, c) for k, c in out.groupBy("k").agg(
                F.max("count")).collect())
        else:
            got = _rows(out)
    assert got == want
    assert sum(want.values()) > 0


def test_run_available_now_empty_input(spark, tmp_path):
    src = str(tmp_path / "empty_src")
    os.makedirs(src, exist_ok=True)
    stream = (
        spark.readStream.schema("id long, ts timestamp").parquet(src)
        .withWatermark("ts", "0 seconds")
        .groupBy("id").count()
    )
    out = run_available_now(spark, stream, "update")
    assert out.count() == 0
    assert out.columns == ["id", "count"]


def test_replay_table_before_first_emitted_row(spark):
    """MicroBatchReplay.table() before any batch has emitted a row: an
    empty frame with the query's schema."""
    with MicroBatchReplay(
        spark, "id long, v long",
        lambda src: src.filter(F.col("v") > 0).select("id", "v"),
    ) as r:
        assert r.table().collect() == []
        r.pipe([(1, 0)])  # filtered out: the batch emits nothing
        t = r.table()
        assert t.collect() == [] and t.columns == ["id", "v"]
        r.pipe([(2, 5)])
        assert [tuple(x) for x in r.table().collect()] == [(2, 5)]
