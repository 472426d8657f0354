"""W8: per-topic stream-time windowed join
(streaming/windowed_join_ktime.py).

Pins the reference's worked example VERBATIM
(/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedJoin.scala:14-22)
— the behavior Spark's global watermark cannot express: a late record
still joins while its PARTNER topic's stream time lags — plus
randomized equivalence against an independent pure-python simulator
and multi-batch state carry through the TWS runtime.
"""

from __future__ import annotations

import random

import pytest

from kafka_streams_app_spark.streaming.windowed_join_ktime import (
    windowed_join_per_topic_time,
)

L_SCHEMA = "key string, ts_s long, seq long, v long"
R_SCHEMA = "key string, ts_s long, seq long, v long"


def run_batch(spark, l_rows, r_rows, before=10, after=10, n_buckets=1):
    left = spark.createDataFrame(l_rows, L_SCHEMA)
    right = spark.createDataFrame(r_rows, R_SCHEMA)
    out = windowed_join_per_topic_time(
        left, right, key="key", ts="ts_s", seq="seq",
        left_payload=["v"], right_payload=["v"],
        before_s=before, after_s=after, n_buckets=n_buckets,
    )
    return sorted(tuple(r) for r in out.collect())


def simulate(l_rows, r_rows, before=10, after=10):
    """Independent reference: replay arrival order with per-side stream
    time + store-expiry semantics (WindowedJoin.scala:14-22 model)."""
    ret = before + after
    recs = sorted(
        [("l", k, t, s, v) for k, t, s, v in l_rows]
        + [("r", k, t, s, v) for k, t, s, v in r_rows],
        key=lambda x: x[3],
    )
    st = {"l": None, "r": None}
    buf = {"l": {}, "r": {}}  # side -> key -> [(seq, ts, v)]
    out = []
    for side, k, t, s, v in recs:
        st[side] = t if st[side] is None else max(st[side], t)
        other = "r" if side == "l" else "l"
        lo, hi = (t - before, t + after) if side == "l" else (t - after, t + before)
        for oseq, ots, ov in buf[other].get(k, []):
            if st[other] is not None and ots < st[other] - ret:
                continue
            if lo <= ots <= hi:
                if side == "l":
                    out.append((k, v, ov, t, ots, s, oseq))
                else:
                    out.append((k, ov, v, ots, t, oseq, s))
        if t >= st[side] - ret:
            buf[side].setdefault(k, []).append((s, t, v))
    return sorted(out)


def test_reference_worked_example(spark):
    """WindowedJoin.scala:14-22, literally: before=after=10, one key.
    input2's t=30 advances ONLY input2's stream time, so the late t=8
    record still joins input1's t=1 (input1's stream time is 1), while
    input2's own t=1 record was already expired for future joins."""
    l_rows = [("k", 1, 1, 100)]
    r_rows = [("k", 1, 2, 200), ("k", 30, 3, 230), ("k", 8, 4, 208)]
    got = run_batch(spark, l_rows, r_rows)
    assert got == sorted([
        ("k", 100, 200, 1, 1, 1, 2),   # the in-window pair
        ("k", 100, 208, 1, 8, 1, 4),   # the LATE join Spark's global
                                        # watermark would drop
    ])
    # and the same sequence is what the simulator says
    assert got == simulate(l_rows, r_rows)


def test_expired_partner_does_not_join(spark):
    """After input1's stream time advances past retention, its old
    record no longer joins (the 'windows do close' half of the
    reference conclusion)."""
    l_rows = [("k", 1, 1, 100), ("k", 40, 3, 140)]
    r_rows = [("k", 8, 4, 208)]  # arrives after l's stream time hit 40
    got = run_batch(spark, l_rows, r_rows)
    # l@1 is expired (1 < 40-20); l@40 out of window (|8-40|>10)
    assert got == []


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_matches_python_reference_random(spark, seed):
    rng = random.Random(2026_0814 + seed)
    keys = ["a", "b", "c"]
    l_rows, r_rows = [], []
    for seq in range(160):
        k = rng.choice(keys)
        t = rng.randrange(0, 120)
        if rng.random() < 0.5:
            l_rows.append((k, t, seq, 1000 + seq))
        else:
            r_rows.append((k, t, seq, 2000 + seq))
    assert run_batch(spark, l_rows, r_rows) == simulate(l_rows, r_rows)


def test_bucket_count_invariant_same_key(spark):
    """All records on one key land in one bucket regardless of
    n_buckets, so the output must not depend on it (per-bucket stream
    time == per-partition stream time in Kafka; a single key never
    splits across partitions)."""
    rng = random.Random(7)
    l_rows = [("k", rng.randrange(0, 60), s, s) for s in range(0, 60, 2)]
    r_rows = [("k", rng.randrange(0, 60), s, s) for s in range(1, 60, 2)]
    assert (run_batch(spark, l_rows, r_rows, n_buckets=1)
            == run_batch(spark, l_rows, r_rows, n_buckets=8))


def test_streaming_multibatch_state_carry(spark):
    """The worked example split across FOUR micro-batches through the
    TWS runtime: stream times and window stores must carry across
    batches (state, not within-batch context)."""
    from kafka_streams_app_spark.streaming.harness import MicroBatchReplay
    from kafka_streams_app_spark.streaming.windowed_join_ktime import (
        windowed_join_per_topic_time,
    )

    schema = "side string, key string, ts_s long, seq long, v long"

    def build(src):
        from pyspark.sql import functions as F

        left = src.filter(F.col("side") == "l").select("key", "ts_s", "seq", "v")
        right = src.filter(F.col("side") == "r").select("key", "ts_s", "seq", "v")
        return windowed_join_per_topic_time(
            left, right, key="key", ts="ts_s", seq="seq",
            left_payload=["v"], right_payload=["v"],
            before_s=10, after_s=10, n_buckets=1,
        )

    with MicroBatchReplay(spark, schema, build, "update") as replay:
        def drained():
            return [tuple(r) for r in replay.drain()]

        replay.pipe([("l", "k", 1, 1, 100)])
        assert drained() == []
        replay.pipe([("r", "k", 1, 2, 200)])
        assert drained() == [("k", 100, 200, 1, 1, 1, 2)]
        replay.pipe([("r", "k", 30, 3, 230)])
        assert drained() == []
        replay.pipe([("r", "k", 8, 4, 208)])  # late, still joins
        assert drained() == [("k", 100, 208, 1, 8, 1, 4)]
