"""Incremental KTable-KTable PK join pins (emission tuples compared
without the trailing _seq order tag) — the reference's tombstone
sequence (TopologiesTest.scala:219-239) replayed per micro-batch with
asserted changelog emissions, plus the inner-mode retraction."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark.streaming.harness import MicroBatchReplay
from kafka_streams_app_spark.streaming.pk_join import pk_join

# one physical source carrying both changelogs, split by `side`
SCHEMA = ("key string, side string, merchant string, name string, rank int, "
          "is_delete boolean, seq long")


def build(how: str, n_buckets: int = 16):
    def _build(src):
        left = src.filter(F.col("side") == "l").select(
            "key", "merchant", "name", "is_delete", "seq"
        )
        right = src.filter(F.col("side") == "r").select(
            "key", "rank", "is_delete", "seq"
        )
        return pk_join(
            left, right,
            key="key", left_payload=["merchant", "name"], right_payload=["rank"],
            left_tombstone="is_delete", right_tombstone="is_delete", how=how,
            n_buckets=n_buckets,
        )
    return _build


def l_row(key, merchant, name, seq, delete=False):
    return (key, "l", merchant, name, None, delete, seq)


def r_row(key, rank, seq, delete=False):
    return (key, "r", None, None, rank, delete, seq)


@pytest.mark.parametrize("n_buckets", [4])
def test_ktable_ktable_left_join_incremental(spark, n_buckets):
    """TopologiesTest.scala:219-239 piped batch-by-batch."""
    with MicroBatchReplay(spark, SCHEMA, build("left", n_buckets), "update") as p:
        p.pipe([r_row("key1", 3, 0)])
        assert p.drain() == []                       # left absent: nothing
        p.pipe([l_row("key1", "fk1", "pk1", 1)])
        assert [tuple(x)[:-1] for x in p.drain()] == [
            ("key1", "upsert", "fk1", "pk1", 3)]
        p.pipe([l_row("key1", "fk1", "pk1", 2)])     # refresh emits again
        assert [tuple(x)[:-1] for x in p.drain()] == [
            ("key1", "upsert", "fk1", "pk1", 3)]
        p.pipe([r_row("key1", None, 3, delete=True)])
        # right tombstone under LEFT join: downgrade, not delete
        assert [tuple(x)[:-1] for x in p.drain()] == [
            ("key1", "upsert", "fk1", "pk1", None)]
        p.pipe([r_row("key2", None, 4, delete=True)])
        assert p.drain() == []                       # delete of absent: no-op


@pytest.mark.parametrize("n_buckets", [4])
def test_ktable_ktable_inner_join_incremental(spark, n_buckets):
    with MicroBatchReplay(spark, SCHEMA, build("inner", n_buckets), "update") as p:
        p.pipe([l_row("k", "m", "p", 0)])
        assert p.drain() == []                       # inner: no right yet
        p.pipe([r_row("k", 7, 1)])
        assert [tuple(x)[:-1] for x in p.drain()] == [("k", "upsert", "m", "p", 7)]
        p.pipe([r_row("k", None, 2, delete=True)])
        assert [tuple(x)[:-1] for x in p.drain()] == [
            ("k", "delete", None, None, None)]       # exactly ONE retraction
        p.pipe([l_row("k", None, None, 3, delete=True)])
        assert p.drain() == []                       # join row already gone


BIG_SCHEMA = "key string, side string, big long, rank long, is_delete boolean, seq long"
BIG = (1 << 62) + 12345  # corrupted by any float64 round-trip


@pytest.mark.parametrize("n_buckets", [4])
def test_pk_join_int64_payload_precision(spark, n_buckets):
    """The union-tagged input ALWAYS carries nulls in the other side's
    columns, so an int64 payload column reaches pandas nullable; without
    the extension-dtype pin it arrives float64 and values above 2^53
    silently round (same class as the r5 bucketed-ktable ADVICE bug)."""
    def _build(src):
        left = src.filter(F.col("side") == "l").select(
            "key", "big", "is_delete", "seq")
        right = src.filter(F.col("side") == "r").select(
            "key", "rank", "is_delete", "seq")
        return pk_join(
            left, right, key="key", left_payload=["big"],
            right_payload=["rank"], left_tombstone="is_delete",
            right_tombstone="is_delete", how="inner", n_buckets=n_buckets,
        )

    with MicroBatchReplay(spark, BIG_SCHEMA, _build, "update") as p:
        # one batch, both sides: forces null-mixed int64 columns
        p.pipe([
            ("k1", "l", BIG, None, False, 1),
            ("k1", "r", None, BIG + 7, False, 2),
        ])
        assert [tuple(x)[:-1] for x in p.drain()] == [
            ("k1", "upsert", BIG, BIG + 7)]
        # carried state round-trips exactly too
        p.pipe([("k1", "r", None, BIG + 8, False, 3)])
        assert [tuple(x)[:-1] for x in p.drain()] == [
            ("k1", "upsert", BIG, BIG + 8)]


@pytest.mark.parametrize("how", ["inner", "left"])
@pytest.mark.parametrize("with_deletes", [False, True])
def test_pk_join_bucketed_equals_perkey_random(spark, how, with_deletes):
    """Randomized interleavings: the join changelog must not depend on
    the bucket count — one bucket holding every key (n_buckets=1)
    emits EXACTLY what four buckets emit, through the one vectorized
    pointer-ffill transition, with and without tombstones. 200
    records, 12 keys, both sides interleaved. The transition itself is
    pinned against the per-record reference machine in
    tests/test_pk_fast_batch.py."""
    import random

    from kafka_streams_app_spark.streaming.pk_join import pk_join

    rng = random.Random(20260814 + (1 if with_deletes else 0))
    rows = []
    for seq in range(200):
        k = f"k{rng.randrange(12)}"
        if rng.random() < 0.5:
            rows.append((k, "l", f"m{rng.randrange(5)}", f"n{seq}", None,
                         with_deletes and rng.random() < 0.15, seq))
        else:
            rows.append((k, "r", None, None, rng.randrange(100),
                         with_deletes and rng.random() < 0.15, seq))
    src = spark.createDataFrame(rows, SCHEMA)
    left = src.filter(F.col("side") == "l").select(
        "key", "merchant", "name", "is_delete", "seq")
    right = src.filter(F.col("side") == "r").select(
        "key", "rank", "is_delete", "seq")

    def run(n_buckets):
        out = pk_join(
            left, right, key="key", left_payload=["merchant", "name"],
            right_payload=["rank"], left_tombstone="is_delete",
            right_tombstone="is_delete", how=how, n_buckets=n_buckets,
        )
        return sorted((tuple(r) for r in out.collect()), key=repr)

    assert run(1) == run(4)
