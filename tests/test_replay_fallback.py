"""Grouped-replay (applyInArrow, no-TWS) pins.

The stateful registry entries over snapshot tables run grouped replay
in every session (streaming/replay.py); these tests assert the batch
replay of the SAME state machines emits the identical changelog the TWS
incremental operators produce for the same input — including the
tombstone lifecycles from TopologiesTest.scala:219-239 and the FK-join
re-subscription edge cases from TopologiesTest.scala:100-217 — and pin
which path each builder plans for a batch vs a streaming input.
"""

from __future__ import annotations

import pytest

from kafka_streams_app_spark.streaming import dedup_candidates as DC
from kafka_streams_app_spark.streaming import rolling as SR
from kafka_streams_app_spark.streaming import sample as SSample
from kafka_streams_app_spark.streaming import zscore as SZ
from kafka_streams_app_spark.streaming.fk_join import (
    fk_instructions,
    fk_join_changelog,
)
from kafka_streams_app_spark.streaming.ktable import ktable_changelog
from kafka_streams_app_spark.streaming.pk_join import pk_join
from kafka_streams_app_spark.streaming.stream_table import stream_table_join
from kafka_streams_app_spark.streaming.windowed_join_ktime import (
    windowed_join_per_topic_time,
)

KT_SCHEMA = "key string, merchant string, name string, is_delete boolean, seq long"


def test_batch_ktable_matches_tws_lifecycle(spark):
    rows = [
        ("3 bands", "adidas", "3 bands", False, 0),   # first insert
        ("3 bands", None, "3 bands", False, 1),       # update to null-FK value
        ("3 bands", None, None, True, 2),             # tombstone
        ("3 bands", None, None, True, 3),             # delete of absent: suppressed
        ("b", "m3", "y", False, 6),                   # unrelated key
    ]
    df = spark.createDataFrame(rows, KT_SCHEMA)
    out = ktable_changelog(df, ["key"], "seq", ["merchant", "name"], "is_delete")
    assert {tuple(r) for r in out.collect()} == {
        ("3 bands", "upsert", False, None, None, "adidas", "3 bands", 0),
        ("3 bands", "upsert", True, "adidas", "3 bands", None, "3 bands", 1),
        ("3 bands", "delete", True, None, "3 bands", None, None, 2),
        ("b", "upsert", False, None, None, "m3", "y", 6),
    }


def test_batch_pk_join_right_tombstone_downgrade(spark):
    """Left-join right-side tombstone downgrades to (l, null) — the
    reference's KTable-KTable tombstone end state
    (TopologiesTest.scala:234-238)."""
    left = spark.createDataFrame(
        [("k1", "lv1", 1, False)], "key string, lv string, seq long, dele boolean"
    )
    right = spark.createDataFrame(
        [("k1", "rv1", 2, False), ("k1", None, 3, True)],
        "key string, rv string, seq long, dele boolean",
    )
    out = pk_join(
        left, right, key="key", left_payload=["lv"], right_payload=["rv"],
        left_tombstone="dele", right_tombstone="dele", how="left",
    )
    rows = sorted((tuple(r) for r in out.collect()), key=lambda t: t[-1])
    assert [r[:-1] for r in rows] == [
        ("k1", "upsert", "lv1", None),   # left arrives, right absent
        ("k1", "upsert", "lv1", "rv1"),  # right arrives
        ("k1", "upsert", "lv1", None),   # right tombstone downgrades
    ]


def test_batch_fk_join_two_stage_resubscription(spark):
    """FK change re-routes the subscription; delete emits exactly ONE
    retraction (fixing TopologiesTest.scala:116-131's documented bug)."""
    left = spark.createDataFrame(
        [
            ("p1", "adidas", "three stripes", 1, False),
            ("p1", "nike", "three stripes", 3, False),   # FK move
            ("p1", None, None, 4, True),                 # delete
        ],
        "pk string, fk string, value string, seq long, dele boolean",
    )
    right = spark.createDataFrame(
        [("adidas", "DE", 2, False), ("nike", "US", 2, False)],
        "rk string, rvalue string, seq long, dele boolean",
    )
    changelog = ktable_changelog(left, ["pk"], "seq", ["fk", "value"], "dele")
    instr = fk_instructions(changelog, "pk", "fk", ["fk", "value"], "seq")
    out = fk_join_changelog(
        instr, right, right_key="rk", right_payload=["rvalue"], right_seq="seq",
        right_tombstone="dele", left_value_cols=["value"], how="inner",
    )
    rows = sorted((tuple(r) for r in out.collect()), key=lambda t: (t[-2], t[-1]))
    assert [r[:-2] for r in rows] == [
        ("p1", "upsert", "three stripes", "DE"),  # sub(adidas) joins
        ("p1", "delete", None, None),             # unsub_move(adidas)
        ("p1", "upsert", "three stripes", "US"),  # sub(nike) joins
        ("p1", "delete", None, None),             # delete: ONE retraction
    ]


def test_batch_stream_table_join_arrival_time_semantics(spark):
    """J4 incremental: a stream record sees the table value current at
    its arrival — later table updates do NOT retro-enrich, a tombstone
    clears the value (left -> null; inner -> dropped), and a table
    update at exactly the stream record's seq IS visible."""
    from kafka_streams_app_spark.streaming.stream_table import (
        stream_table_join,
    )

    stream = spark.createDataFrame(
        [("k", 100, 1), ("k", 200, 3), ("k", 300, 5), ("k", 400, 6)],
        "key string, sv long, seq long",
    )
    table = spark.createDataFrame(
        [("k", "t1", 2, False), ("k", "t2", 3, False), ("k", None, 4, True)],
        "key string, tv string, seq long, dele boolean",
    )
    kwargs = dict(key="key", stream_payload=["sv"], table_payload=["tv"])
    left = {
        (r["sv"], r["tv"])
        for r in stream_table_join(
            stream, table, how="left", table_tombstone="dele", **kwargs
        ).collect()
    }
    # sv=100 before any table value; sv=200 at the same seq as t2 (visible);
    # sv=300/400 after the tombstone
    assert left == {(100, None), (200, "t2"), (300, None), (400, None)}
    inner = {
        (r["sv"], r["tv"])
        for r in stream_table_join(
            stream, table, how="inner", table_tombstone="dele", **kwargs
        ).collect()
    }
    assert inner == {(200, "t2")}


_PROVIDER = "spark.sql.streaming.stateStore.providerClass"


def _fk_join_on(src):
    changelog_schema = ktable_changelog(
        src("pk string, fk string, value string, seq long"),
        ["pk"], "seq", ["fk", "value"],
    ).schema
    instr = fk_instructions(
        src(changelog_schema), "pk", "fk", ["fk", "value"], "seq"
    )
    return fk_join_changelog(
        instr, src("rk string, rvalue string, seq long"), right_key="rk",
        right_payload=["rvalue"], right_seq="seq", right_tombstone=None,
        left_value_cols=["value"],
    )


_MICRO = "k string, seq long, ts_s long, value double"

# builder name -> plan over inputs from src(schema)
_BUILDERS = {
    "ktable_changelog": lambda src: ktable_changelog(
        src("key string, v string, seq long"), ["key"], "seq", ["v"]
    ),
    "pk_join": lambda src: pk_join(
        src("key string, lv string, seq long"),
        src("key string, rv string, seq long"),
        key="key", left_payload=["lv"], right_payload=["rv"],
    ),
    "fk_join_changelog": _fk_join_on,
    "winnow_candidates": lambda src: DC.winnow_candidates(
        src("doc_id long, text string"), "text", "doc_id"
    ),
    "rolling_avg": lambda src: SR.rolling_avg(
        SZ.with_micro_units(src(_MICRO), "value"), ["k"], "seq", "value"
    ),
    "rolling_time_avg": lambda src: SR.rolling_time_avg(
        SZ.with_micro_units(src(_MICRO), "value"),
        ["k"], "seq", "ts_s", "value",
    ),
    "sample_topk": lambda src: SSample.sample_topk(
        src("source string, doc_id long"), "source", "doc_id"
    ),
    "stream_table_join": lambda src: stream_table_join(
        src("key string, sv long, seq long"),
        src("key string, tv string, seq long"),
        key="key", stream_payload=["sv"], table_payload=["tv"],
    ),
    "windowed_join_per_topic_time": lambda src: windowed_join_per_topic_time(
        src("key string, ts long, seq long, lv long"),
        src("key string, ts long, seq long, rv long"),
        key="key", ts="ts", seq="seq", left_payload=["lv"],
        right_payload=["rv"], before_s=1, after_s=1,
    ),
    "zscore_running": lambda src: SZ.zscore_running(
        SZ.with_micro_units(src(_MICRO), "value"), ["k"], "seq", "value"
    ),
}


def _analyzed(df) -> str:
    return df._jdf.queryExecution().analyzed().toString()


@pytest.mark.parametrize("name", sorted(_BUILDERS))
def test_builder_dispatches_on_input_kind(spark, tmp_path, name):
    """replay.run_stateful is the one TWS-or-replay choice: a batch
    input plans grouped replay (applyInArrow = FlatMapGroupsInArrow),
    a readStream input plans transformWithStateInPandas on the RocksDB
    state store. Plans only — nothing executes. (pyspark 4.1 names the
    TWS logical node TransformWithStateInPySpark, 4.0
    TransformWithStateInPandas; the prefix covers both.)"""
    build = _BUILDERS[name]
    batch_plan = _analyzed(build(lambda sch: spark.createDataFrame([], sch)))
    assert "FlatMapGroupsInArrow" in batch_plan
    assert "TransformWithStateIn" not in batch_plan

    def stream_src(sch):
        return spark.readStream.schema(sch).parquet(str(tmp_path))

    before = spark.conf.get(_PROVIDER, None)
    spark.conf.unset(_PROVIDER)
    try:
        stream_plan = _analyzed(build(stream_src))
        assert "TransformWithStateIn" in stream_plan
        assert "FlatMapGroupsInArrow" not in stream_plan
        assert spark.conf.get(_PROVIDER, None) == (
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider"
        )
    finally:
        if before is None:
            spark.conf.unset(_PROVIDER)
        else:
            spark.conf.set(_PROVIDER, before)
