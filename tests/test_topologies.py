"""End-to-end pins for the reference application topologies
(kafka_streams_app_spark/topologies.py) — the compositions a reference
user would actually run."""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

import pytest

from kafka_streams_app_spark import topologies as T
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay

T0 = datetime(2024, 5, 3, 9, 30, 0, tzinfo=timezone.utc)


def ts(s: float) -> datetime:
    return T0 + timedelta(seconds=s)


def rows(df, *cols):
    return {tuple(r) for r in df.select(*cols).collect()}


def test_pipe_and_line_split(spark):
    df = spark.createDataFrame(
        [("k", "Hello Kafka Streams")], "key string, line string"
    )
    assert T.pipe(df).collect() == df.collect()
    words = rows(T.line_split(df), "word")
    # LineSplit does not lowercase (WordCount does)
    assert words == {("Hello",), ("Kafka",), ("Streams",)}


def test_word_count(spark):
    df = spark.createDataFrame(
        [("a", "Hello hello world"), ("b", "world!")], "key string, line string"
    )
    assert rows(T.word_count(df), "word", "cnt") == {
        ("hello", 2), ("world", 2),
    }


def test_windowed_grouping_select_key(spark):
    df = spark.createDataFrame(
        [("hmida", ts(0)), ("hmida", ts(1)), ("lambda", ts(11))],
        "k string, ts timestamp",
    )
    t0s = int(T0.timestamp())
    out = rows(T.windowed_grouping(df, "k", "ts", 10), "key", "cnt")
    assert out == {(f"hmida-{t0s}", 2), (f"lambda-{t0s + 10}", 1)}


@pytest.mark.parametrize("grace_s", [0, 60])
def test_windowed_grouping_grace_admits_late_record(spark, grace_s):
    """WindowedGrouping.scala:25-37,44: a record later than its window's
    end still counts while stream time minus the grace (`lateness`) has
    not passed that end. Stream time reaches t0+12, so a record at t0+9
    is late for [t0, t0+10): with a 60s grace the window's count is
    updated to 2, with zero grace the record is dropped."""
    t0s = int(T0.timestamp())
    with MicroBatchReplay(
        spark, "k string, ts timestamp",
        lambda src: T.windowed_grouping(src, "k", "ts", 10, grace_s=grace_s),
        output_mode="update",
    ) as r:
        r.pipe([("a", ts(0)), ("a", ts(12))])
        r.drain()
        r.pipe([("a", ts(9))])
        late = {tuple(x) for x in r.drain()}
    assert late == ({(f"a-{t0s}", 2)} if grace_s else set())


def test_windowed_group_at_close(spark):
    df = spark.createDataFrame(
        [("key1", ts(0)), ("key1", ts(2)), ("key1", ts(11))],
        "k string, ts timestamp",
    )
    t0s = int(T0.timestamp())
    out = rows(T.windowed_group_at_close(df, "k", "ts", 10), "key", "cnt")
    # only [t0, t0+10) has closed (stream time t0+11); key = "{start}-{key}"
    assert out == {(f"{t0s}-key1", 2)}


def test_windowed_join_concat(spark):
    l = spark.createDataFrame(
        [("key1", "A", ts(0))], "k string, value string, ts timestamp"
    )
    r = spark.createDataFrame(
        [("key1", "B", ts(3)), ("key1", "C", ts(30))],
        "k string, value string, ts timestamp",
    )
    out = rows(T.windowed_join(l, r, "k", "ts", 10), "key", "value")
    assert out == {("key1", "AB")}  # C is outside the ±10s window


def test_foreign_join_end_state(spark):
    product = spark.createDataFrame(
        [("3 bands", "adidas", "3 bands", False, 0)],
        "key string, merchant string, name string, is_delete boolean, seq int",
    )
    merchant = spark.createDataFrame(
        [("adidas", 3, False, 0), ("puma", 4, False, 1)],
        "key string, rank int, is_delete boolean, seq int",
    )
    assert rows(T.foreign_join(product, merchant), "key", "rank") == {
        ("3 bands", 3),
    }
