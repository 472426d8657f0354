"""Incremental (micro-batch) pin tests for the streaming runtime (M3).

These replay the reference's timestamped sequences through real
Structured Streaming queries via MicroBatchReplay and assert per-batch
emissions — the incremental behaviors the batch tests can't pin
(emit-on-close timing, update-mode changelogs, late-data drop,
streaming dedup, stream-stream joins).
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone

from pyspark.sql import functions as F

from kafka_streams_app_spark.operators import aggregations as A
from kafka_streams_app_spark.operators import joins
from kafka_streams_app_spark.streaming import windows as W
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay

T0 = datetime(2024, 5, 3, 9, 30, 0, tzinfo=timezone.utc)


def ts(seconds: float) -> datetime:
    return T0 + timedelta(seconds=seconds)


T0S = int(T0.timestamp())
EV = "key string, value int, ts timestamp"


# --- W5/W6: emit-on-window-close (TopologiesTest.scala:294-313) -----------

def test_emit_on_close_append_mode(spark):
    """Records at +0,+2,+4 emit NOTHING until stream time (watermark)
    passes the window end; the +11 record closes [t0,t0+10) -> one final
    count of 3 is emitted; +100 closes [t0+10,t0+20)."""
    with MicroBatchReplay(
        spark, EV,
        lambda src: A.windowed_count(src, "ts", ["key"], 10),
        output_mode="append",
    ) as r:
        r.pipe([("key1", 1, ts(0)), ("key1", 2, ts(2)), ("key1", 3, ts(4))])
        assert r.drain() == []  # window still open: suppressed
        r.pipe([("key1", 1, ts(11)), ("key1", 2, ts(15))])
        emitted = {tuple(x) for x in r.drain()}
        assert emitted == {(T0S, "key1", 3)}  # exactly one final emission
        r.pipe([("key1", 1, ts(100))])
        emitted = {tuple(x) for x in r.drain()}
        assert emitted == {(T0S + 10, "key1", 2)}


# --- W7: emit-on-update (WindowedGrouping.scala:59, commit interval 0) ----

def test_emit_on_update_update_mode(spark):
    """UPDATE mode emits the refreshed window count every micro-batch —
    the reference's default emit-on-update with commit interval 0."""
    with MicroBatchReplay(
        spark, EV,
        lambda src: A.windowed_count(src, "ts", ["key"], 10),
        output_mode="update",
    ) as r:
        r.pipe([("key1", 1, ts(0))])
        assert {tuple(x) for x in r.drain()} == {(T0S, "key1", 1)}
        r.pipe([("key1", 1, ts(2))])
        assert {tuple(x) for x in r.drain()} == {(T0S, "key1", 2)}
        r.pipe([("key2", 1, ts(3))])  # other key: key1's window not re-emitted
        assert {tuple(x) for x in r.drain()} == {(T0S, "key2", 1)}


# --- W1/W2: zero-grace late-data drop vs grace admitting late rows --------

def test_late_data_dropped_zero_grace(spark):
    """Zero grace: once the watermark passed a window's end, a late
    record for it is dropped (WindowedGrouping.scala:20-23)."""
    with MicroBatchReplay(
        spark, EV,
        lambda src: A.windowed_count(src, "ts", ["key"], 10),
        output_mode="append",
    ) as r:
        r.pipe([("key1", 1, ts(0))])
        r.pipe([("key1", 1, ts(12))])   # watermark -> 12, closes [t0,t0+10)
        assert {tuple(x) for x in r.drain()} == {(T0S, "key1", 1)}
        r.pipe([("key1", 9, ts(9))])    # late for the closed window: dropped
        r.pipe([("key1", 1, ts(25))])   # closes [t0+10,t0+20)
        emitted = {tuple(x) for x in r.drain()}
        assert (T0S, "key1", 2) not in emitted  # late row did NOT resurrect it
        assert (T0S + 10, "key1", 1) in emitted


def test_late_data_admitted_within_grace(spark):
    """Grace 60s: the same late record IS admitted because the watermark
    (stream time - grace) has not passed the window end yet
    (WindowedGrouping.scala:25-37)."""
    with MicroBatchReplay(
        spark, EV,
        lambda src: A.windowed_count(src, "ts", ["key"], 10, grace_s=60),
        output_mode="append",
    ) as r:
        r.pipe([("key1", 1, ts(0))])
        r.pipe([("key1", 1, ts(12))])
        r.pipe([("key1", 9, ts(9))])    # late but within grace: admitted
        r.pipe([("key1", 1, ts(85))])   # watermark 85-60=25 > 10: close w0
        emitted = {tuple(x) for x in r.drain()}
        assert (T0S, "key1", 2) in emitted  # late row counted


# --- W4 streaming session windows (TopologiesTest.scala:75-98) ------------

def test_session_windows_streaming(spark):
    data1 = [("foo", 3, ts(0)), ("bar", 1, ts(0)), ("foo", 2, ts(1)),
             ("bar", 1, ts(1)), ("bar", 1, ts(2))]
    data2 = [("foo", 3, ts(4)), ("bar", 1, ts(4)), ("bar", 1, ts(5))]
    with MicroBatchReplay(
        spark, EV,
        lambda src: A.session_count(src, "ts", ["key"], 2),
        output_mode="append",
    ) as r:
        r.pipe(data1)
        r.pipe(data2)
        r.pipe([("zzz", 1, ts(1000))])  # advance watermark: close all
        emitted = {tuple(x) for x in r.drain()}
        # same merged sessions as the batch twin (inclusive gap bound)
        assert emitted == {
            ("foo", T0S, 2), ("foo", T0S + 4, 1), ("bar", T0S, 5),
        }


# --- A1 continuous count changelog (WordCount update stream) --------------

def test_count_changelog_update_mode(spark):
    with MicroBatchReplay(
        spark, "word string, ts timestamp",
        lambda src: A.count_per_key(src, ["word"]),
        output_mode="update",
    ) as r:
        r.pipe([("hello", ts(0)), ("world", ts(0))])
        assert {tuple(x) for x in r.drain()} == {("hello", 1), ("world", 1)}
        r.pipe([("hello", ts(1))])
        assert {tuple(x) for x in r.drain()} == {("hello", 2)}  # changelog row


# --- streaming dedup within watermark --------------------------------------

def test_dedup_within_watermark(spark):
    with MicroBatchReplay(
        spark, EV,
        lambda src: W.dedup_stream(src, ["key"], "ts", 60).select("key", "value"),
        output_mode="append",
    ) as r:
        r.pipe([("a", 1, ts(0)), ("a", 2, ts(1)), ("b", 1, ts(1))])
        assert sorted(tuple(x) for x in r.drain()) == [("a", 1), ("b", 1)]
        r.pipe([("a", 3, ts(5))])  # still within horizon: dropped
        assert r.drain() == []


# --- J1/J2 stream-stream windowed joins (TopologiesTest.scala:255-292) ----

def test_stream_stream_inner_join(spark):
    """Self-join shaped: two records 1s apart within ±2s -> 4 pairs
    including self-pairs (TopologiesTest.scala:255-270)."""
    left_rows = [("key1", "fk1", ts(0)), ("key1", "fk1", ts(1))]

    def build(src):
        l = src.select(F.col("key").alias("l_key"), F.col("value").alias("l_v"),
                       F.col("ts").alias("l_ts"))
        r_ = src.select(F.col("key").alias("r_key"), F.col("value").alias("r_v"),
                        F.col("ts").alias("r_ts"))
        return joins.interval_join(
            l, r_, [("l_key", "r_key")], "l_ts", "r_ts", 2, 2
        ).select("l_key", "l_v", "r_v")

    with MicroBatchReplay(
        spark, "key string, value string, ts timestamp", build, "append"
    ) as r:
        r.pipe(left_rows)
        r.query.processAllAvailable()
        emitted = [tuple(x) for x in r.drain()]
        assert len(emitted) == 4
        assert set(emitted) == {("key1", "fk1", "fk1")}


def test_stream_stream_left_join_null_key(spark):
    """Left windowed join: matched rows emit immediately; the unmatched
    (here: null-key) left row emits with a null right side only after
    the watermark expires its join window (TopologiesTest.scala:272-292)."""
    def build(src):
        l = src.filter(F.col("value") != "m").select(
            F.col("key").alias("l_key"), F.col("ts").alias("l_ts"))
        r_ = src.filter(F.col("value") == "m").select(
            F.col("key").alias("r_key"), F.col("value").alias("r_v"),
            F.col("ts").alias("r_ts"))
        return joins.interval_join(
            l, r_, [("l_key", "r_key")], "l_ts", "r_ts", 10, 10, how="left",
        ).select("l_key", "r_v")

    with MicroBatchReplay(
        spark, "key string, value string, ts timestamp", build, "append"
    ) as r:
        r.pipe([("key1", "m", ts(0)), ("key1", "p", ts(0)), (None, "p", ts(0))])
        matched = {tuple(x) for x in r.drain()}
        assert ("key1", "m") in matched        # inner match emits promptly
        # The global watermark is the MIN over both sides, so BOTH inputs
        # must advance before the join window expires — the same
        # both-topics-must-advance behavior the reference documents for
        # Kafka's per-topic stream time (WindowedJoin.scala:14-22).
        # Null-side rows then emit on state eviction in the next batch.
        r.pipe([("zzz", "p", ts(1000)), ("zzz", "m", ts(1000))])
        r.pipe([("zzz", "p", ts(2000)), ("zzz", "m", ts(2000))])
        late = {tuple(x) for x in r.drain()}
        assert (None, None) in late            # null key never joins


# --- streaming windowed distinct count (two-stateful-operator chain) -------

def test_windowed_distinct_count_stream_cross_batch(spark):
    """The dedup stage must collapse a repeat (key, value) WITHIN a
    window even when the duplicate arrives in a LATER micro-batch
    (state carried between batches), while the same value in the NEXT
    window counts again. Append emission: a window's row appears only
    once the watermark (max event time, grace 0) passes its end."""
    with MicroBatchReplay(
        spark, EV,
        lambda src: W.windowed_distinct_count_stream(
            src, "ts", ["key"], "value", 10, grace_s=0
        ),
        output_mode="append",
    ) as r:
        # window [0,10): key a values 1,1 -> distinct 1; key b value 7
        r.pipe([("a", 1, ts(0)), ("b", 7, ts(1))])
        assert r.drain() == []  # watermark still inside the window
        r.pipe([("a", 1, ts(3))])  # cross-batch duplicate, same window
        assert r.drain() == []
        # window [10,20): a sees value 1 AGAIN (new window -> counts)
        # and value 2; advancing stream time to 25 closes BOTH [0,10)
        # and [10,20)
        r.pipe([("a", 1, ts(12)), ("a", 2, ts(13)), ("a", 9, ts(25))])
        rows = {tuple(x) for x in r.drain()}
        assert rows == {
            (T0S, "a", 1),
            (T0S, "b", 1),
            (T0S + 10, "a", 2),
        }


# --- checkpoint crash-recovery (r11 continuation) ---------------------------

def test_count_state_survives_restart(spark):
    """Kill the query mid-stream and resume from the checkpoint: the
    running count continues from 1 (state restored) and the already-
    processed file is NOT re-read (a reprocess would emit ('hello', 2)
    from batch 1's data alone, or worse, double-count to 3)."""
    with MicroBatchReplay(
        spark, "word string, ts timestamp",
        lambda src: A.count_per_key(src, ["word"]),
        output_mode="update",
    ) as r:
        r.pipe([("hello", ts(0))])
        assert {tuple(x) for x in r.drain()} == {("hello", 1)}
        r.restart()
        r.pipe([("hello", ts(1)), ("world", ts(1))])
        assert {tuple(x) for x in r.drain()} == {("hello", 2), ("world", 1)}


def test_windowed_distinct_dedup_state_survives_restart(spark):
    """The two-stateful-operator chain recovers BOTH stores: a
    duplicate of a pre-restart record is still collapsed by the
    recovered dedup state, and the recovered window state closes with
    the right distinct count."""
    with MicroBatchReplay(
        spark, EV,
        lambda src: W.windowed_distinct_count_stream(
            src, "ts", ["key"], "value", 10, grace_s=0
        ),
        output_mode="append",
    ) as r:
        r.pipe([("a", 1, ts(0)), ("a", 2, ts(1))])
        assert r.drain() == []
        r.restart()
        # value 1 again post-restart: recovered dedup state drops it;
        # ts(25) closes window [0,10)
        r.pipe([("a", 1, ts(3)), ("a", 9, ts(25))])
        assert {tuple(x) for x in r.drain()} == {(T0S, "a", 2)}


# --- streaming session assembly (r11 continuation) ---------------------------

def test_assemble_sessions_stream_merge_and_close(spark):
    """A session merges across micro-batches (state carry), emits its
    ordered sequence only once the watermark passes last+gap, and a
    later same-key session starts fresh."""
    with MicroBatchReplay(
        spark, EV,
        lambda src: A.assemble_sessions(src, "ts", ["key"], 2, "value"),
        output_mode="append",
    ) as r:
        r.pipe([("a", 2, ts(0))])
        assert r.drain() == []                        # session still open
        r.pipe([("a", 1, ts(2))])                     # merges (<= gap)
        assert r.drain() == []
        r.pipe([("a", 9, ts(10))])                    # gap 8s: closes it
        rows = {
            (x["key"], x["session_start_s"], x["n_events"], x["sequence"])
            for x in r.drain()
        }
        assert rows == {("a", T0S, 2, "2>1")}         # ts order, not value
