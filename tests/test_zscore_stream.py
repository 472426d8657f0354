"""Incremental running z-score pins (streaming/zscore.py): exact
integer scores, cross-micro-batch state carry, and stream==batch-replay
equivalence."""

from __future__ import annotations

from kafka_streams_app_spark.sources.catalog import load_table
from kafka_streams_app_spark.streaming import zscore as SZ
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay

SCHEMA = "k string, seq long, v double"


def _build(z):
    return lambda src: SZ.zscore_running(
        SZ.with_micro_units(src, "v"), ["k"], "seq", "v", z=z
    )


def test_running_zscore_hand_computed_across_batches(spark):
    """Values 10,10,10,10 then 30: the first batch is constant history
    (D=0, nothing emitted); the 30 in a LATER micro-batch must be
    judged against the carried state — n=5, mean=14, sigma=8, z=2
    exactly, so zsq_e6 == 4_000_000 at threshold z>=2."""
    with MicroBatchReplay(spark, SCHEMA, _build((2, 1)), "update") as r:
        r.pipe([("k", i, 10.0) for i in range(4)])
        assert r.drain() == []
        r.pipe([("k", 4, 30.0)])
        got = [tuple(x) for x in r.drain()]
        assert got == [("k", 4, 30.0, 5, 4_000_000)]


def test_running_zscore_in_batch_order_and_isolation(spark):
    """Within one micro-batch records are judged in seq order against
    the running (inclusive) moments; other keys' moments are isolated."""
    with MicroBatchReplay(spark, SCHEMA, _build((2, 1)), "update") as r:
        r.pipe(
            [("k", i, 10.0) for i in range(4)]
            + [("k", 4, 30.0)]
            + [("x", 10, 1000.0), ("x", 11, 1000.0)]  # constant -> silent
        )
        got = sorted(tuple(x) for x in r.drain())
        assert got == [("k", 4, 30.0, 5, 4_000_000)]


def test_stream_equals_grouped_replay_on_events(spark):
    ev = SZ.with_micro_units(
        load_table(spark, "/root/testdata/sf0.001", "events").select(
            "event_type", "event_id", "value"
        ),
        "value",
    )
    batch = sorted(
        tuple(r)
        for r in SZ.zscore_running(
            ev, ["event_type"], "event_id", "value", z=(5, 2)
        ).collect()
    )
    rows = [
        (r["event_type"], r["event_id"], r["value"])
        for r in ev.select("event_type", "event_id", "value")
        .orderBy("event_id")
        .collect()
    ]
    with MicroBatchReplay(
        spark,
        "event_type string, event_id long, value double",
        lambda src: SZ.zscore_running(
            SZ.with_micro_units(src, "value"),
            ["event_type"], "event_id", "value", z=(5, 2),
        ),
        "update",
    ) as r:
        # two micro-batches split mid-stream: equivalence additionally
        # proves the moments survive the state store round trip
        half = len(rows) // 2
        r.pipe(rows[:half])
        r.pipe(rows[half:])
        stream = sorted(tuple(x) for x in r.drain())
    assert batch == stream
    assert len(batch) > 0
