"""Incremental KTable (latest-per-key changelog) pins — M4 part 1.

Replays the reference's table-changelog sequences
(TopologiesTest.scala:219-239 piping updates and tombstones) through
ktable_changelog and asserts the emitted changelog rows.

Run through the bucketed MapState layout (n_buckets=4): the changelog
contract must hold across micro-batches (state carry-in/out) and
through tombstones.
"""

from __future__ import annotations

import pytest

from kafka_streams_app_spark.streaming.harness import MicroBatchReplay
from kafka_streams_app_spark.streaming.ktable import ktable_changelog

SCHEMA = "key string, merchant string, name string, is_delete boolean, seq long"


def _replay(spark, n_buckets):
    return MicroBatchReplay(
        spark, SCHEMA,
        lambda src: ktable_changelog(
            src, ["key"], "seq", ["merchant", "name"], "is_delete",
            n_buckets=n_buckets,
        ),
        "update",
    )


@pytest.mark.parametrize("n_buckets", [4])
def test_ktable_changelog_lifecycle(spark, n_buckets):
    with _replay(spark, n_buckets) as r:
        # first insert: upsert with old_present=False
        r.pipe([("3 bands", "adidas", "3 bands", False, 0)])
        assert [tuple(x) for x in r.drain()] == [
            ("3 bands", "upsert", False, None, None, "adidas", "3 bands", 0)
        ]
        # update to a null-FK value: old side carries the prior value
        r.pipe([("3 bands", None, "3 bands", False, 1)])
        assert [tuple(x) for x in r.drain()] == [
            ("3 bands", "upsert", True, "adidas", "3 bands", None, "3 bands", 1)
        ]
        # tombstone: delete carrying the retracted value
        r.pipe([("3 bands", None, None, True, 2)])
        assert [tuple(x) for x in r.drain()] == [
            ("3 bands", "delete", True, None, "3 bands", None, None, 2)
        ]
        # delete of an absent key: suppressed (Kafka null->null)
        r.pipe([("3 bands", None, None, True, 3)])
        assert r.drain() == []


@pytest.mark.parametrize("n_buckets", [4])
def test_ktable_changelog_in_batch_ordering(spark, n_buckets):
    """Two updates to one key inside a single micro-batch emit two
    changelog rows in seq order (commit-interval-0 semantics); an
    unrelated key in the same batch emits independently."""
    with _replay(spark, n_buckets) as r:
        r.pipe([
            ("a", "m1", "x", False, 4),
            ("a", "m2", "x", False, 5),
            ("b", "m3", "y", False, 6),
        ])
        rows = {tuple(x) for x in r.drain()}
        assert rows == {
            ("a", "upsert", False, None, None, "m1", "x", 4),
            ("a", "upsert", True, "m1", "x", "m2", "x", 5),
            ("b", "upsert", False, None, None, "m3", "y", 6),
        }


@pytest.mark.parametrize("n_buckets", [4])
def test_ktable_upserts_across_batches_mixed_keys(spark, n_buckets):
    """All-upsert batches through the vectorized bucketed transition with
    several keys sharing buckets: carry-in state from a prior batch
    must populate old_* on each key's first row of the next batch."""
    with _replay(spark, n_buckets) as r:
        r.pipe([
            ("k1", "a", "p", False, 0),
            ("k2", "b", "q", False, 1),
            ("k1", "c", "p", False, 2),
        ])
        assert {tuple(x) for x in r.drain()} == {
            ("k1", "upsert", False, None, None, "a", "p", 0),
            ("k2", "upsert", False, None, None, "b", "q", 1),
            ("k1", "upsert", True, "a", "p", "c", "p", 2),
        }
        r.pipe([
            ("k2", "d", "q", False, 3),
            ("k3", "e", "r", False, 4),
        ])
        assert {tuple(x) for x in r.drain()} == {
            ("k2", "upsert", True, "b", "q", "d", "q", 3),
            ("k3", "upsert", False, None, None, "e", "r", 4),
        }


BIG = (1 << 62) + 12345  # above 2^53: corrupted by any float64 round-trip


@pytest.mark.parametrize("n_buckets", [4])
def test_ktable_int64_payload_precision(spark, n_buckets):
    """int64 payloads above 2^53 must round-trip exactly through the
    changelog old/new columns AND through state carry across batches.
    The bucketed mode's groupby().shift(1) previously upcast int64
    through float64 (ADVICE r5), silently corrupting such values."""
    with MicroBatchReplay(
        spark, "key bigint, big bigint, is_delete boolean, seq bigint",
        lambda src: ktable_changelog(
            src, ["key"], "seq", ["big"], "is_delete", n_buckets=n_buckets,
        ),
        "update",
    ) as r:
        r.pipe([(1, BIG, False, 0), (1, BIG + 1, False, 1)])
        assert [tuple(x) for x in r.drain()] == [
            (1, "upsert", False, None, BIG, 0),
            (1, "upsert", True, BIG, BIG + 1, 1),
        ]
        # carry-in from state (protobuf round-trip), exact
        r.pipe([(1, BIG + 2, False, 2)])
        assert [tuple(x) for x in r.drain()] == [
            (1, "upsert", True, BIG + 1, BIG + 2, 2),
        ]


def test_ktable_null_mixed_int64_exact_batch_and_stream(spark):
    """A NULL-MIXED int64 payload batch would cross Arrow as float64
    through pyspark's own converter, rounding values >= 2^53. Both paths
    cross through _pdnorm.arrow_table_to_pandas instead, so the default
    ktable_changelog must return BIG exactly: grouped replay over a
    batch frame, and TWS over micro-batches with state carry-in."""
    schema = "key bigint, big bigint, is_delete boolean, seq bigint"
    # key 1's own rows mix the null in, whatever the bucket of key 2
    rows = [(1, BIG, False, 0), (1, None, False, 1), (1, BIG + 1, False, 2),
            (2, None, False, 3)]
    want = [
        (1, "upsert", False, None, BIG, 0),
        (1, "upsert", True, BIG, None, 1),
        (1, "upsert", True, None, BIG + 1, 2),
        (2, "upsert", False, None, None, 3),
    ]
    out = ktable_changelog(
        spark.createDataFrame(rows, schema), ["key"], "seq", ["big"],
        "is_delete",
    )
    by_seq = lambda rows: sorted((tuple(x) for x in rows), key=lambda t: t[-1])
    assert by_seq(out.collect()) == want
    with MicroBatchReplay(
        spark, schema,
        lambda src: ktable_changelog(
            src, ["key"], "seq", ["big"], "is_delete", n_buckets=4,
        ),
        "update",
    ) as r:
        # one batch: a null payload row + BIG rows => null-mixed column
        r.pipe(rows)
        assert by_seq(r.drain()) == want
        # state carry stays exact across batches
        r.pipe([(1, None, False, 4)])
        assert [tuple(x) for x in r.drain()] == [
            (1, "upsert", True, BIG + 1, None, 4),
        ]


def test_ktable_decimal_payload_carried_from_state(spark):
    """A DecimalType payload read back from TWS state is the old value
    of the key's next update: the carry-in must keep it a Decimal, not
    turn it into an int or a null (the batch path never reads state)."""
    from decimal import Decimal

    with MicroBatchReplay(
        spark, "key bigint, amt decimal(10,2), is_delete boolean, seq bigint",
        lambda src: ktable_changelog(
            src, ["key"], "seq", ["amt"], "is_delete", n_buckets=4,
        ),
        "update",
    ) as r:
        r.pipe([(1, Decimal("1.50"), False, 0)])
        assert [tuple(x) for x in r.drain()] == [
            (1, "upsert", False, None, Decimal("1.50"), 0),
        ]
        r.pipe([(1, Decimal("2.75"), False, 1)])
        assert [tuple(x) for x in r.drain()] == [
            (1, "upsert", True, Decimal("1.50"), Decimal("2.75"), 1),
        ]


@pytest.mark.parametrize("n_buckets", [4])
def test_ktable_null_key_records_dropped(spark, n_buckets):
    """Kafka Streams ignores records with a null key for all KTable
    operations — and dropping them is also what keeps TWS group keys
    exact: pyspark's worker-side group split reads keys from the
    pandas-converted batch, where one null in an int64 key column
    upcasts the whole column to float64, corrupting every key in the
    batch above 2^53 (observed: BIG grouped under BIG&~511). Both
    modes must drop the null-key row and keep BIG exact."""
    with MicroBatchReplay(
        spark, "key bigint, v string, is_delete boolean, seq bigint",
        lambda src: ktable_changelog(
            src, ["key"], "seq", ["v"], "is_delete", n_buckets=n_buckets,
        ),
        "update",
    ) as r:
        r.pipe([(BIG, "a", False, 0), (None, "n1", False, 1)])
        assert [tuple(x) for x in r.drain()] == [
            (BIG, "upsert", False, None, "a", 0),
        ]
        # second batch: BIG must hit its carried state, null still dropped
        r.pipe([(BIG, "b", False, 2), (None, "n2", False, 3)])
        assert [tuple(x) for x in r.drain()] == [
            (BIG, "upsert", True, "a", "b", 2),
        ]


# --- incremental SCD2 (r12) ---------------------------------------------------

def test_changelog_to_intervals_cross_batch_and_tombstone(spark):
    """Interval events across micro-batch boundaries: a version opened
    in batch 1 is closed in batch 2; a tombstone closes only; the
    reduced (latest per (key, valid_from)) table equals the batch
    table_history on the same records."""
    from pyspark.sql import functions as F

    from kafka_streams_app_spark.operators.ktable import table_history
    from kafka_streams_app_spark.streaming.ktable import (
        changelog_to_intervals,
        ktable_changelog,
    )

    schema = "key string, name string, is_delete boolean, seq long"
    payload = ["name", "seq"]

    def build(src):
        ch = ktable_changelog(src, ["key"], "seq", payload, "is_delete")
        return changelog_to_intervals(ch, ["key"], "seq", payload)

    with MicroBatchReplay(spark, schema, build, "update") as r:
        r.pipe([("a", "v1", False, 1), ("b", "w1", False, 2)])
        got1 = {tuple(x) for x in r.drain()}
        # two OPENs, no closes yet (x carries payload name, seq twice:
        # once as payload, once as valid_from)
        assert got1 == {
            ("a", "v1", 1, 1, None),
            ("b", "w1", 2, 2, None),
        }
        # batch 2: a updates (closes v1, opens v2), b deleted (close only)
        r.pipe([("a", "v2", False, 3), ("b", None, True, 4)])
        got2 = {tuple(x) for x in r.drain()}
        assert got2 == {
            ("a", "v1", 1, 1, 3),   # CLOSE of v1 (state from batch 1)
            ("a", "v2", 3, 3, None),
            ("b", "w1", 2, 2, 4),   # tombstone closes, opens nothing
        }
        # batch 3: b resurrects
        r.pipe([("b", "w2", False, 5)])
        assert {tuple(x) for x in r.drain()} == {("b", "w2", 5, 5, None)}

        # reduce ALL emitted events -> must equal batch table_history
        rows = [("a", "v1", False, 1), ("b", "w1", False, 2),
                ("a", "v2", False, 3), ("b", None, True, 4),
                ("b", "w2", False, 5)]
        batch = {
            (r2["key"], r2["name"], r2["valid_from"], r2["valid_to"])
            for r2 in table_history(
                spark.createDataFrame(rows, schema), ["key"], "seq",
                ["name"], tombstone=F.col("is_delete"),
            ).collect()
        }
        all_events = got1 | got2 | {("b", "w2", 5, 5, None)}
        reduced = {}
        for k, name, _seqpay, vf, vt in all_events:
            cur = reduced.get((k, name, vf))
            reduced[(k, name, vf)] = vt if vt is not None else (
                cur if cur is not None else None)
        stream_final = {(k, n, vf, vt) for (k, n, vf), vt in reduced.items()}
        assert stream_final == batch
