"""Incremental trailing-n rolling average pins (streaming/rolling.py):
ring carry across micro-batches and stream==grouped-replay equivalence."""

from __future__ import annotations

from kafka_streams_app_spark.sources.catalog import load_table
from kafka_streams_app_spark.streaming import rolling as SR
from kafka_streams_app_spark.streaming import zscore as SZ
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay

SCHEMA = "k string, seq long, v double"


def _build(n):
    return lambda src: SR.rolling_avg(
        SZ.with_micro_units(src, "v"), ["k"], "seq", "v", n=n
    )


def test_ring_carries_across_micro_batches(spark):
    """Trailing-3 over values 1..5 split into two batches: the frame at
    seq=4 must reach back into batch 1 ([2,3,4] -> 3.0) and at seq=5 the
    oldest batch-1 value must have been evicted ([3,4,5] -> 4.0)."""
    with MicroBatchReplay(spark, SCHEMA, _build(3), "update") as r:
        r.pipe([("k", i, float(i)) for i in (1, 2, 3)])
        assert [tuple(x) for x in r.drain()] == [
            ("k", 1, 1.0, 1, 1.0),
            ("k", 2, 2.0, 2, 1.5),
            ("k", 3, 3.0, 3, 2.0),
        ]
        r.pipe([("k", 4, 4.0), ("k", 5, 5.0)])
        assert [tuple(x) for x in r.drain()] == [
            ("k", 4, 4.0, 3, 3.0),
            ("k", 5, 5.0, 3, 4.0),
        ]


def test_stream_equals_grouped_replay_and_batch_window(spark):
    """Stream output == grouped-replay output == the batch
    analytics.rolling_stats window result on the same events slice."""
    from pyspark.sql import functions as F

    from kafka_streams_app_spark.operators import analytics

    base = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id", "value"
    )
    ev = SZ.with_micro_units(base, "value")
    replay = sorted(
        tuple(r)
        for r in SR.rolling_avg(
            ev, ["user_id"], "event_id", "value", n=10
        ).collect()
    )
    batch = sorted(
        tuple(r)
        for r in analytics.rolling_stats(
            base, "user_id", ["event_id"], "value", n=10
        )
        .select(
            "user_id", "event_id", "value",
            F.col("roll_n").alias("roll_n"), "roll_avg",
        )
        .collect()
    )
    assert replay == batch
    rows = [
        (r["user_id"], r["event_id"], r["value"])
        for r in base.orderBy("event_id").collect()
    ]
    with MicroBatchReplay(
        spark,
        "user_id long, event_id long, value double",
        lambda src: SR.rolling_avg(
            SZ.with_micro_units(src, "value"),
            ["user_id"], "event_id", "value", n=10,
        ),
        "update",
    ) as r:
        half = len(rows) // 2
        r.pipe(rows[:half])
        r.pipe(rows[half:])
        stream = sorted(tuple(x) for x in r.drain())
    assert stream == batch
    assert len(batch) > 0


def test_time_ring_carries_and_evicts_across_micro_batches(spark):
    """Trailing-100s frame over two batches: the frame at t=150 must
    reach back into batch 1 (t=60 inside (50,150]), t=0 must have aged
    out, and a same-second later peer is NOT visible to the earlier
    record (the incremental peer-cut contract)."""
    schema = "k string, seq long, ts_s long, v double"

    def build(src):
        return SR.rolling_time_avg(
            SZ.with_micro_units(src, "v"), ["k"], "seq", "ts_s", "v",
            horizon_s=100,
        )

    with MicroBatchReplay(spark, schema, build, "update") as r:
        r.pipe([("k", 1, 0, 10.0), ("k", 2, 60, 20.0)])
        got1 = {x["seq"]: (x["win_n"], x["win_sum"]) for x in r.drain()}
        assert got1[1] == (1, 10.0)
        assert got1[2] == (2, 30.0)
        # batch 2: same-second peers at 150 (seq 3 then 4) + t=170
        r.pipe([("k", 3, 150, 30.0), ("k", 4, 150, 40.0), ("k", 5, 170, 50.0)])
        got2 = {x["seq"]: (x["win_n"], x["win_sum"]) for x in r.drain()}
        # t=150: frame (50,150] — 60 in, 0 out; seq 3 does NOT see seq 4
        assert got2[3] == (2, 50.0)
        assert got2[4] == (3, 90.0)
        # t=170: frame (70,170] — both 0 and 60 now aged out
        assert got2[5] == (3, 120.0)


def test_time_stream_equals_grouped_replay_on_events(spark):
    """Stream (two batches) == grouped replay on the real events slice."""
    from pyspark.sql import functions as F

    base = load_table(spark, "/root/testdata/sf0.001", "events").select(
        "user_id", "event_id",
        F.unix_seconds(F.col("ts").cast("timestamp")).alias("ts_s"),
        "value",
    )
    ev = SZ.with_micro_units(base, "value")
    replay = sorted(
        tuple(r)
        for r in SR.rolling_time_avg(
            ev, ["user_id"], "event_id", "ts_s", "value", horizon_s=300
        ).collect()
    )
    assert len(replay) > 0
    rows = [
        (r["user_id"], r["event_id"], r["ts_s"], r["value"])
        for r in base.orderBy("ts_s", "event_id").collect()
    ]
    with MicroBatchReplay(
        spark,
        "user_id long, event_id long, ts_s long, value double",
        lambda src: SR.rolling_time_avg(
            SZ.with_micro_units(src, "value"),
            ["user_id"], "event_id", "ts_s", "value", horizon_s=300,
        ),
        "update",
    ) as r:
        half = len(rows) // 2
        r.pipe(rows[:half])
        r.pipe(rows[half:])
        stream = sorted(tuple(x) for x in r.drain())
    assert stream == replay


def test_time_late_row_corrects_already_emitted_frames(spark):
    """r12 ADVICE (rolling.py out-of-order): a row arriving in a LATER
    micro-batch with a SMALLER ts must (a) get the frame at its own
    event-time position, and (b) trigger corrected re-emissions for
    already-emitted rows whose frame should include it. Last-wins per
    seq (= the max-win_n row, frames only grow) equals the in-order
    result."""
    schema = "k string, seq long, ts_s long, v double"

    def build(src):
        return SR.rolling_time_avg(
            SZ.with_micro_units(src, "v"), ["k"], "seq", "ts_s", "v",
            horizon_s=100, lateness_s=100,
        )

    with MicroBatchReplay(spark, schema, build, "update") as r:
        r.pipe([("k", 1, 0, 10.0), ("k", 3, 60, 30.0), ("k", 4, 120, 40.0)])
        r.drain()
        # late: ts=50 lands between seq 1 and seq 3 (70s behind max 120)
        r.pipe([("k", 2, 50, 20.0)])
        got = {x["seq"]: (x["win_n"], x["win_sum"]) for x in r.drain()}
    # the late row's own frame: (−50,50] -> {10,20}
    assert got[2] == (2, 30.0)
    # corrected frames: seq 3 (−40,60] now {10,20,30}; seq 4 (20,120]
    # now {20,30,40}
    assert got[3] == (3, 60.0)
    assert got[4] == (3, 90.0)


def test_time_out_of_order_stream_converges_to_batch(spark):
    """Shuffled multi-batch arrival within lateness_s: last-wins
    (max win_n per seq) == the event-order grouped replay on the same
    rows — the full changelog-convergence contract."""
    rows = [
        ("k", 5, 90, 50.0), ("k", 1, 10, 10.0), ("k", 7, 130, 70.0),
        ("k", 3, 40, 30.0), ("k", 2, 30, 20.0), ("k", 6, 100, 60.0),
        ("k", 4, 40, 40.0),
    ]
    schema = "k string, seq long, ts_s long, v double"
    batch_src = spark.createDataFrame(
        sorted(rows, key=lambda t: (t[2], t[1])), schema
    )
    expected = {
        r["seq"]: (r["win_n"], r["win_sum"], r["win_avg"])
        for r in SR.rolling_time_avg(
            SZ.with_micro_units(batch_src, "v"), ["k"], "seq", "ts_s", "v",
            horizon_s=50, lateness_s=200,
        ).collect()
    }

    def build(src):
        return SR.rolling_time_avg(
            SZ.with_micro_units(src, "v"), ["k"], "seq", "ts_s", "v",
            horizon_s=50, lateness_s=200,
        )

    with MicroBatchReplay(spark, schema, build, "update") as r:
        r.pipe(rows[:3])
        r.pipe(rows[3:5])
        r.pipe(rows[5:])
        drained = r.drain()
    last = {}
    for x in drained:
        cur = last.get(x["seq"])
        if cur is None or x["win_n"] > cur[0]:
            last[x["seq"]] = (x["win_n"], x["win_sum"], x["win_avg"])
    assert last == expected


def test_time_beyond_lateness_fails_fast(spark):
    """on_late='fail' (opt-in strict mode): a row later than
    lateness_s must kill the query loudly (its frame may be evicted —
    silent corruption is the r12 ADVICE bug)."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    schema = "k string, seq long, ts_s long, v double"

    def build(src):
        return SR.rolling_time_avg(
            SZ.with_micro_units(src, "v"), ["k"], "seq", "ts_s", "v",
            horizon_s=10, lateness_s=0, on_late="fail",
        )

    with MicroBatchReplay(spark, schema, build, "update") as r:
        r.pipe([("k", 1, 1000, 1.0)])
        with pytest.raises(StreamingQueryException, match="beyond"):
            r.pipe([("k", 2, 999, 2.0)])


def test_time_beyond_lateness_dead_letters_by_default(spark):
    """Default on_late='dead_letter' (r13 verdict ask #6): a
    beyond-bound row is NOT inserted (no silent mis-framing) and is
    emitted as a countable win_n = -1 marker row; in-bound rows stay
    exact as if the dropped row never arrived."""
    schema = "k string, seq long, ts_s long, v double"

    def build(src):
        return SR.rolling_time_avg(
            SZ.with_micro_units(src, "v"), ["k"], "seq", "ts_s", "v",
            horizon_s=10, lateness_s=0,
        )

    with MicroBatchReplay(spark, schema, build, "update") as r:
        r.pipe([("k", 1, 1000, 1.0)])
        r.drain()
        # 999 < max_ts 1000 - lateness 0: dead-lettered, not fatal
        r.pipe([("k", 2, 999, 2.0), ("k", 3, 1005, 3.0)])
        got = {x["seq"]: (x["win_n"], x["win_sum"]) for x in r.drain()}
    assert got[2] == (-1, None)
    # seq 3's frame (995,1005] = {1000, 1005} — the dropped row is
    # absent, the in-bound rows unaffected
    assert got[3] == (2, 4.0)


def test_time_ring_state_survives_restart(spark):
    """The r13 ring state blob ("maxts|t:q:u:vhex,...") must round-trip
    through a checkpoint: frames spanning the restart include
    pre-restart entries, the lateness guard's max_ts comes back (a
    beyond-lateness row still fails fast after recovery), and a late
    row arriving after the restart corrects a pre-restart emission."""
    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    schema = "k string, seq long, ts_s long, v double"

    def build(src):
        return SR.rolling_time_avg(
            SZ.with_micro_units(src, "v"), ["k"], "seq", "ts_s", "v",
            horizon_s=100, lateness_s=50, on_late="fail",
        )

    with MicroBatchReplay(spark, schema, build, "update", sink="parquet") as r:
        r.pipe([("k", 1, 0, 10.0), ("k", 3, 60, 30.0)])
        got1 = {x["seq"]: (x["win_n"], x["win_sum"]) for x in r.drain()}
        assert got1[3] == (2, 40.0)
        r.restart()
        # frame spanning the restart: (20,120] includes the
        # pre-restart t=60 entry but not t=0
        r.pipe([("k", 4, 120, 40.0)])
        got2 = {x["seq"]: (x["win_n"], x["win_sum"]) for x in r.drain()}
        assert got2[4] == (2, 70.0)
        # late row within lateness (120-80=40 <= 50): lands between
        # seq 3 and seq 4, corrects seq 4's frame ((20,120] gains it)
        r.pipe([("k", 2, 80, 20.0)])
        got3 = {x["seq"]: (x["win_n"], x["win_sum"]) for x in r.drain()}
        assert got3[2] == (3, 60.0)   # frame (−20,80]: {0,60,80}
        assert got3[4] == (3, 90.0)   # corrected re-emission
        # max_ts recovered: beyond-lateness arrival still fails fast
        with pytest.raises(StreamingQueryException, match="beyond"):
            r.pipe([("k", 5, 10, 1.0)])


def test_time_legacy_state_blob_named_error():
    """A pre-r13 checkpoint blob ('t:u,...' with no 'maxts|' head, or
    2-field ring entries) must raise a DESCRIPTIVE incompatibility
    error naming the fix, not an opaque int() ValueError (r13
    ADVICE)."""
    import pandas as pd
    import pytest

    from kafka_streams_app_spark.streaming.rolling import _TimeRollingAvg

    class _FakeState:
        def __init__(self, blob):
            self.v = (blob,)

        def exists(self):
            return True

        def get(self):
            return self.v

        def update(self, t):
            self.v = t

    pdf = pd.DataFrame(
        {"k": ["k"], "ts_s": [10], "seq": [1], "v": [1.0],
         "zu": [1_000_000]}
    )
    for blob in ("10:1000000,20:2000000", "99|10:1000000,20:2000000"):
        proc = _TimeRollingAvg(["k"], "seq", "ts_s", "v", 100, 0)
        proc.state = _FakeState(blob)
        with pytest.raises(ValueError, match="incompatible state format"):
            list(proc.handleInputRows(("k",), iter([pdf]), None))
