"""Incremental FK-join edge-case pins (M4) — the 7 reference scenarios
replayed through the one-query streaming pipeline (FKJoinReplay),
asserting per-pipe join-changelog emissions.

The reference documents Kafka's own bugs in these scenarios
(TopologiesTest.scala:100-217 comments, InnerFKJoinTest.scala:11-24);
we pin the CORRECT behaviors (exactly one retraction, no spurious
null events) and note each fix inline.

Changelog rows are (pk, action, name, r_rank): left payload column
`name`, right payload column `rank` (the reference's ProductValue /
merchant-rank shape).
"""

from __future__ import annotations

import pytest

from kafka_streams_app_spark.streaming.fk_join import FKJoinReplay

LEFT = "pk string, fk string, name string, is_delete boolean, seq long"
RIGHT = "rk string, rank int, is_delete boolean, seq long"


def make(spark, how: str, n_buckets: int = 16) -> FKJoinReplay:
    return FKJoinReplay(
        spark, LEFT, RIGHT,
        pk="pk", fk="fk", left_payload=["fk", "name"], left_tombstone="is_delete",
        right_key="rk", right_payload=["rank"], right_tombstone="is_delete",
        how=how, n_buckets=n_buckets,
    )


@pytest.fixture(scope="module", params=[4], ids=["bucketed"])
def left_pipeline(request, spark):
    with make(spark, "left", request.param) as p:
        yield p


def test_left_join_lifecycle(spark, left_pipeline):
    """TopologiesTest.scala:100-131 (1st + 2nd bug) as one lifecycle:
    subscribe-before-right, right arrival, FK->null, delete."""
    p = left_pipeline
    # left row before its merchant exists: left join emits (pk, null)
    p.pipe_left([("3 bands", "adidas", "3 bands", False)])
    assert p.drain() == [("3 bands", "upsert", "3 bands", None)]
    # right arrives: join row updates to rank 3
    p.pipe_right([("adidas", 3, False)])
    assert p.drain() == [("3 bands", "upsert", "3 bands", 3)]
    # unrelated right key: nothing emitted
    p.pipe_right([("puma", 4, False)])
    assert p.drain() == []
    # 1st bug scenario: FK -> null. Correct: ONE upsert with null right
    # (Kafka additionally emitted a wrong null-FK event).
    p.pipe_left([("3 bands", None, "3 bands", False)])
    assert p.drain() == [("3 bands", "upsert", "3 bands", None)]
    # 2nd bug scenario: delete the left row. Correct: ONE delete
    # (Kafka emitted the deletion twice).
    p.pipe_left([("3 bands", None, None, True)])
    assert p.drain() == [("3 bands", "delete", None, None)]
    # deleting again: nothing (no resident state)
    p.pipe_left([("3 bands", None, None, True)])
    assert p.drain() == []


@pytest.fixture(scope="module", params=[4], ids=["bucketed"])
def inner_pipeline(request, spark):
    with make(spark, "inner", request.param) as p:
        yield p


def test_inner_join_lifecycle(spark, inner_pipeline):
    """TopologiesTest.scala:133-217 + InnerFKJoinTest.scala:11-24 inner
    scenarios chained on distinct pks."""
    p = inner_pipeline

    # InnerFKJoinTest: right first, then null-FK left, then real FK
    p.pipe_right([("fk", 1, False)])
    assert p.drain() == []
    p.pipe_left([("pk1", None, "pk1", False)])
    assert p.drain() == []                       # null FK: no inner output
    p.pipe_left([("pk1", "fk", "pk1", False)])
    assert p.drain() == [("pk1", "upsert", "pk1", 1)]

    # "inner incoherent behavior" (:133-148): FK -> nonexistent. Correct:
    # exactly ONE retraction, identical to the FK->null transition
    # (Kafka emits a null-unset for nonexistent but nothing for null).
    p.pipe_left([("pk1", "ghost", "pk1", False)])
    assert p.drain() == [("pk1", "delete", None, None)]
    # and FK -> null from the unmatched state: nothing further to retract
    p.pipe_left([("pk1", None, "pk1", False)])
    assert p.drain() == []

    # ":165-181 INNER 2nd bug bis": matched row, then FK -> null
    p.pipe_left([("pk2", "fk", "pk2", False)])
    assert p.drain() == [("pk2", "upsert", "pk2", 1)]
    p.pipe_left([("pk2", None, "pk2", False)])
    assert p.drain() == [("pk2", "delete", None, None)]

    # ":183-199 INNER 3rd bug": left updated twice, right side for its FK
    # absent: nothing emitted either time (Kafka emitted a spurious null)
    p.pipe_left([("pk3", "nofk", "pk3", False)])
    p.pipe_left([("pk3", "nofk", "pk3", False)])
    assert p.drain() == []

    # ":201-217 INNER 4th bug": matched fk1 -> unmatched fk2: one delete
    p.pipe_left([("pk4", "fk", "pk4", False)])
    assert p.drain() == [("pk4", "upsert", "pk4", 1)]
    p.pipe_left([("pk4", "fk2", "pk4", False)])
    assert p.drain() == [("pk4", "delete", None, None)]
    # late right arrival for fk2 joins the moved subscription
    p.pipe_right([("fk2", 9, False)])
    assert p.drain() == [("pk4", "upsert", "pk4", 9)]


@pytest.mark.parametrize("n_buckets", [4])
def test_inner_right_delete_retracts_all_subscribers(spark, n_buckets):
    """Right-side tombstone retracts every subscribed pk exactly once;
    re-insert re-emits (N:1 fan-out through the subscription store).
    This exercises the per-batch subscription-map scan (fks with
    right-side records) AND the same-batch overlay."""
    with make(spark, "inner", n_buckets) as p:
        p.pipe_right([("m1", 7, False)])
        p.pipe_left([("a", "m1", "a", False)])
        p.pipe_left([("b", "m1", "b", False)])
        assert p.drain() == [("a", "upsert", "a", 7), ("b", "upsert", "b", 7)]
        p.pipe_right([("m1", None, True)])
        assert sorted(p.drain()) == [
            ("a", "delete", None, None), ("b", "delete", None, None),
        ]
        p.pipe_right([("m1", 8, False)])
        assert sorted(p.drain()) == [
            ("a", "upsert", "a", 8), ("b", "upsert", "b", 8),
        ]


@pytest.mark.parametrize("n_buckets", [4])
def test_right_update_fans_out_left_mode(spark, n_buckets):
    """Left mode: right value update re-emits all subscribers; right
    delete downgrades them to (pk, null) instead of deleting."""
    with make(spark, "left", n_buckets) as p:
        p.pipe_left([("x", "m", "x", False)])
        assert p.drain() == [("x", "upsert", "x", None)]
        p.pipe_right([("m", 1, False)])
        assert p.drain() == [("x", "upsert", "x", 1)]
        p.pipe_right([("m", 2, False)])
        assert p.drain() == [("x", "upsert", "x", 2)]
        p.pipe_right([("m", None, True)])
        assert p.drain() == [("x", "upsert", "x", None)]


BIG = (1 << 62) + 12345  # corrupted by any float64 round-trip
LEFT_BIG = "pk string, fk string, big long, is_delete boolean, seq long"
RIGHT_BIG = "rk string, rrank long, is_delete boolean, seq long"


@pytest.mark.parametrize("n_buckets", [4])
def test_fk_join_int64_payload_precision(spark, n_buckets):
    """The join-stage union ALWAYS carries nulls in the other side's
    columns, so int64 payloads reach pandas nullable; without the
    extension-dtype pin they arrive float64 and values above 2^53
    silently round (same class as the r5 bucketed-ktable ADVICE bug)."""
    with FKJoinReplay(
        spark, LEFT_BIG, RIGHT_BIG,
        pk="pk", fk="fk", left_payload=["fk", "big"],
        left_tombstone="is_delete", right_key="rk", right_payload=["rrank"],
        right_tombstone="is_delete", how="inner", n_buckets=n_buckets,
    ) as p:
        p.pipe_left([("p1", "m", BIG, False)])
        p.pipe_right([("m", BIG + 7, False)])
        assert p.drain() == [("p1", "upsert", BIG, BIG + 7)]
        # carried subscription + right state round-trip exactly too
        p.pipe_right([("m", BIG + 8, False)])
        assert p.drain() == [("p1", "upsert", BIG, BIG + 8)]


@pytest.mark.parametrize("seed", [0, 1, 2])
@pytest.mark.parametrize("how", ["inner", "left"])
@pytest.mark.parametrize("with_mutations", [False, True])
def test_fk_bucketed_equals_perfk_random(spark, how, with_mutations, seed):
    """Randomized instruction/right streams: the join changelog must
    not depend on the bucket count — one bucket holding every fk
    (n_buckets=1) emits EXACTLY what four buckets emit.
    with_mutations adds unsubs and right deletes; every batch takes
    the one vectorized kernel (pinned against the per-record reference
    machine in tests/test_fk_fast_batch.py). Few fks and many pks make
    the fan-out dense (every right row re-emits many subscribers) —
    the kernel's hard case."""
    import random

    from kafka_streams_app_spark.streaming.fk_join import (
        fk_join_changelog,
    )

    rng = random.Random(814 + seed * 7 + (1 if with_mutations else 0))
    instr, right = [], []
    subscribed: dict = {}
    for seq in range(240):
        if rng.random() < 0.55:
            pk = f"p{rng.randrange(20)}"
            fk = f"f{rng.randrange(6)}"
            r = rng.random()
            if with_mutations and r < 0.15 and pk in subscribed:
                kind = "unsub_move" if r < 0.075 else "unsub_delete"
                instr.append((subscribed.pop(pk), kind, pk, None, seq, 0))
            else:
                prev = subscribed.get(pk)
                if prev is not None and prev != fk:
                    instr.append((prev, "unsub_move", pk, None, seq, 0))
                instr.append((fk, "sub", pk, f"n{seq}", seq, 1))
                subscribed[pk] = fk
        else:
            right.append((f"f{rng.randrange(6)}", rng.randrange(100),
                          with_mutations and rng.random() < 0.1, seq))
    instr_df = spark.createDataFrame(
        instr, "fk string, kind string, pk string, name string, seq long, minor int")
    right_df = spark.createDataFrame(
        right, "rk string, rank int, is_delete boolean, seq long")

    def run(n_buckets):
        out = fk_join_changelog(
            instr_df, right_df, right_key="rk", right_payload=["rank"],
            right_seq="seq", right_tombstone="is_delete",
            left_value_cols=["name"], how=how, n_buckets=n_buckets,
        )
        return sorted((tuple(r) for r in out.collect()), key=repr)

    assert run(1) == run(4)


def test_fk_bucketed_multibatch_state_carry_random(spark):
    """Randomized MULTI-BATCH run through the full streaming pipeline:
    each pipe is its own micro-batch, so the bucketed kernel must
    join against STATE carried from earlier batches (snapshot overlay,
    right-value MapState) — not just within-batch context. The same
    pipe sequence through one bucket and through four must drain
    identically."""
    import random

    def run(n_buckets):
        rng = random.Random(20260814)
        drained = []
        with make(spark, "left", n_buckets) as p:
            for _ in range(12):
                if rng.random() < 0.5:
                    p.pipe_left([
                        (f"p{rng.randrange(6)}", f"f{rng.randrange(3)}",
                         f"n{rng.randrange(50)}", False)
                        for _ in range(rng.randrange(1, 4))
                    ])
                else:
                    p.pipe_right([
                        (f"f{rng.randrange(3)}", rng.randrange(100), False)
                        for _ in range(rng.randrange(1, 3))
                    ])
                drained.append(sorted(p.drain(), key=repr))
        return drained

    assert run(1) == run(4)


def test_registry_fk_pipeline_is_one_streaming_query(spark, monkeypatch):
    """s_fk_join_incremental chains ktable_changelog -> fk_instructions
    -> fk_join_changelog in ONE streaming query: exactly one query
    starts, its plan holds both TWS operators, and no intermediate
    changelog directory is made on the way."""
    import os
    import tempfile

    from pyspark.sql.streaming import StreamingQueryListener

    import __spark_entry__ as registry
    from kafka_streams_app_spark.streaming.replay import tws_available

    if not tws_available(spark):
        pytest.skip("TWS protobuf unavailable in this session")

    class Started(StreamingQueryListener):
        # onQueryStarted runs before start() returns, so the query is
        # still active and the count is final when the entry returns
        def __init__(self) -> None:
            self.queries = []

        def onQueryStarted(self, event) -> None:
            self.queries.append(spark.streams.get(str(event.id)))

        def onQueryProgress(self, event) -> None:
            pass

        def onQueryTerminated(self, event) -> None:
            pass

    made: list[str] = []
    real_mkdtemp = tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        path = real_mkdtemp(*args, **kwargs)
        made.append(os.path.basename(path))
        return path

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    started = Started()
    spark.streams.addListener(started)
    try:
        out = registry.queries()["s_fk_join_incremental"](
            spark, registry.SF0001
        )
        assert out.count() > 0
    finally:
        spark.streams.removeListener(started)
    assert len(started.queries) == 1
    plan = started.queries[0]._jsq.explainInternal(False)
    assert plan.count("TransformWithStateInPySpark ") == 2
    assert made and not [d for d in made if d.startswith("fk_inter_")]
