"""Randomized equivalence pin for the vectorized PK-join transition.

_PKJoinProcessorBucketed.handleInputRows (per-key pointer forward-fill
over the seq-sorted bucket frame, tombstones included) must emit
EXACTLY the rows of the per-record _pk_apply machine
(tests/keyed_reference.py), and leave EXACTLY the same left/right
MapState behind — across random multi-batch histories in which every
batch may carry left and right deletes, in both join modes. Pure Python
(state shims from streaming/replay.py), no Spark session.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from keyed_reference import arrow_frame, pk_reference
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_app_spark.streaming._pdnorm import pynative
from kafka_streams_app_spark.streaming.pk_join import _PKJoinProcessorBucketed
from kafka_streams_app_spark.streaming.replay import _HandleShim

LEFT_COLS = ["merchant", "name"]
RIGHT_COLS = ["rank", "big"]
BIG = 2**53 + 1  # not representable as float64
KEY_SCHEMA = StructType([StructField("key", StringType(), True)])
LEFT_SCHEMA = StructType(
    [StructField("merchant", StringType(), True),
     StructField("name", StringType(), True)]
)
RIGHT_SCHEMA = StructType(
    [StructField("rank", IntegerType(), True),
     StructField("big", LongType(), True)]
)
OUT_SCHEMA = StructType(
    [StructField("key", StringType(), True),
     StructField("action", StringType(), False)]
    + LEFT_SCHEMA.fields + RIGHT_SCHEMA.fields
    + [StructField("_seq", LongType(), True)]
)
# the union-tagged bucket frame as it crosses Arrow: `big` null-mixed
# int64 above 2^53, `rank` null-mixed int32
ARROW_SCHEMA = pa.schema([
    ("key", pa.string()), ("side", pa.string()),
    ("merchant", pa.string()), ("name", pa.string()),
    ("rank", pa.int32()), ("big", pa.int64()),
    ("seq", pa.int64()), ("is_delete", pa.bool_()),
])


def _mk(how: str) -> _PKJoinProcessorBucketed:
    p = _PKJoinProcessorBucketed(
        "key", KEY_SCHEMA, LEFT_COLS, RIGHT_COLS, LEFT_SCHEMA, RIGHT_SCHEMA,
        OUT_SCHEMA, how,
    )
    p.init(_HandleShim())
    return p


def _random_batch(rng: random.Random, seq0: int, n: int, p_delete: float):
    """n union-tagged rows over 12 keys in SHUFFLED arrival order (the
    processor sorts by seq); both sides interleave."""
    rows = []
    for seq in range(seq0, seq0 + n):
        k = f"k{rng.randrange(12)}"
        dele = rng.random() < p_delete
        if rng.random() < 0.5:
            rows.append((k, "l", f"m{rng.randrange(5)}",
                         None if rng.random() < 0.1 else f"n{seq}",
                         None, None, seq, dele))
        else:
            rank = None if rng.random() < 0.1 else rng.randrange(100)
            big = BIG + rng.randrange(1000)
            rows.append((k, "r", None, None, rank, big, seq, dele))
    rng.shuffle(rows)
    return arrow_frame(pa.Table.from_pylist(
        [dict(zip(ARROW_SCHEMA.names, r)) for r in rows], schema=ARROW_SCHEMA
    ))


def _rows_of(frames) -> list[tuple]:
    """Canonically SORTED emission rows: the reference emits per-key
    blocks while the kernel emits seq order; the row multiset is the
    contract (each row carries its _seq order tag)."""
    out = [
        tuple(pynative(v) for v in t)
        for f in frames
        for t in f.itertuples(index=False)
    ]
    return sorted(out, key=lambda r: [(v is None, v) for v in r])


def _delete_shapes(pdf, present: dict) -> set[str]:
    """Which delete shapes one batch exercises, from the INPUT rows and
    the per-side presence carried into the batch (updates `present`):
    a delete of a present side, and a SUPPRESSED delete of an absent
    one (Kafka null->null)."""
    shapes: set[str] = set()
    for r in pdf.sort_values("seq").itertuples(index=False):
        side = present.setdefault(r.side, set())
        if r.is_delete:
            shapes.add("delete" if r.key in side else "suppressed_delete")
            side.discard(r.key)
        else:
            side.add(r.key)
    return shapes


@pytest.mark.parametrize("how", ["inner", "left"])
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_fast_path_equals_per_record(how: str, seed: int) -> None:
    rng = random.Random(2026_10_17 + seed)
    fast, slow = _mk(how), _mk(how)
    seq0 = 1
    present: dict = {}
    shapes: set[str] = set()
    for batch in range(8):
        # every batch may carry tombstones on both sides; the next
        # batch starts from the state (including removed keys) it left
        n = rng.randrange(1, 60)
        pdf = _random_batch(rng, seq0, n, p_delete=0.25)
        seq0 += n
        shapes |= _delete_shapes(pdf, present)
        got = _rows_of(fast.handleInputRows(("bkt",), iter([pdf.copy()]), None))
        want = _rows_of(pk_reference(slow, pdf.copy()))
        assert got == want, f"batch {batch}: emission mismatch"
        assert dict(fast.left.iterator()) == dict(slow.left.iterator())
        assert dict(fast.right.iterator()) == dict(slow.right.iterator())
    # deletes were exercised, including at least one suppressed delete
    assert shapes == {"delete", "suppressed_delete"}
    # the null-mixed long survives both paths exactly
    assert all(v[1] > 2**53 for v in dict(fast.right.iterator()).values())
