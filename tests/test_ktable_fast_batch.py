"""Randomized equivalence pin for the vectorized KTable transition.

_LatestPerKeyBucketed.handleInputRows (per-key shift over the seq-sorted
bucket frame, tombstones included) must emit EXACTLY the rows of the
per-record _changelog_for_key machine (tests/keyed_reference.py) and
leave EXACTLY the same MapState behind — across random multi-batch
histories in which every batch may carry deletes. Pure Python (state
shims from streaming/replay.py), no Spark session.
"""

from __future__ import annotations

import random

import pyarrow as pa
import pytest
from keyed_reference import arrow_frame, ktable_reference
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_app_spark.streaming._pdnorm import pynative
from kafka_streams_app_spark.streaming.ktable import _LatestPerKeyBucketed
from kafka_streams_app_spark.streaming.replay import _HandleShim

KEYS = ["k", "part"]
# seq rides in the payload too, like the s_table_history entry
PAYLOAD = ["name", "big", "qty", "score", "seq"]
BIG = 2**53 + 1  # not representable as float64
KEY_SCHEMA = StructType(
    [StructField("k", StringType(), True), StructField("part", IntegerType(), True)]
)
STATE_SCHEMA = StructType(
    [StructField("name", StringType(), True),
     StructField("big", LongType(), True),
     StructField("qty", IntegerType(), True),
     StructField("score", DoubleType(), True),
     StructField("seq", LongType(), True)]
)
OUT_COLUMNS = (
    KEYS + ["action", "old_present"]
    + [f"old_{c}" for c in PAYLOAD] + [f"new_{c}" for c in PAYLOAD] + ["seq"]
)
# the bucket frame as it crosses Arrow: `big` null-mixed int64 above
# 2^53, `qty` null-mixed int32, the tombstone flag nullable
ARROW_SCHEMA = pa.schema([
    ("k", pa.string()), ("part", pa.int32()),
    ("name", pa.string()), ("big", pa.int64()),
    ("qty", pa.int32()), ("score", pa.float64()), ("seq", pa.int64()),
    ("is_delete", pa.bool_()), ("_kt_bucket", pa.int32()),
])


def _mk(tombstone_col: str | None = "is_delete") -> _LatestPerKeyBucketed:
    p = _LatestPerKeyBucketed(
        KEYS, "seq", PAYLOAD, tombstone_col, KEY_SCHEMA, STATE_SCHEMA,
        OUT_COLUMNS,
    )
    p.init(_HandleShim())
    return p


def _row(k: str, part: int, seq: int, dele: bool | None, rng: random.Random):
    return {
        "k": k, "part": part,
        "name": None if rng.random() < 0.1 else f"n{seq}",
        "big": None if rng.random() < 0.1 else BIG + rng.randrange(1000),
        "qty": None if rng.random() < 0.2 else rng.randrange(100),
        "score": None if rng.random() < 0.2 else rng.random(),
        "seq": seq, "is_delete": dele, "_kt_bucket": 3,
    }


def _frame(rows: list[dict], rng: random.Random | None = None):
    """Arrow crossing of the rows, in SHUFFLED arrival order (the
    processor sorts by seq)."""
    rows = list(rows)
    if rng is not None:
        rng.shuffle(rows)
    return arrow_frame(pa.Table.from_pylist(rows, schema=ARROW_SCHEMA))


def _random_batch(rng: random.Random, seq0: int, n: int, p_delete: float):
    """n rows over 8 logical keys. The tombstone flag is null now and
    then, which reads as an upsert."""
    rows = []
    for seq in range(seq0, seq0 + n):
        r = rng.random()
        dele = True if r < p_delete else (None if r > 0.95 else False)
        rows.append(_row(f"k{rng.randrange(4)}", rng.randrange(2), seq, dele, rng))
    return rows


def _rows_of(frames) -> list[tuple]:
    """Canonically SORTED emission rows: the reference emits per-key
    blocks while the kernel emits seq order; the row multiset is the
    contract (each row carries its seq order tag)."""
    out = [
        tuple(pynative(v) for v in t)
        for f in frames
        for t in f.itertuples(index=False)
    ]
    return sorted(out, key=lambda r: [(v is None, v) for v in r])


def _step(fast, slow, pdf) -> list[tuple]:
    got = _rows_of(fast.handleInputRows(("bkt",), iter([pdf.copy()]), None))
    want = _rows_of(ktable_reference(slow, pdf.copy()))
    assert got == want, "emission mismatch"
    assert dict(fast.state.iterator()) == dict(slow.state.iterator())
    return got


def _per_key_shapes(rows: list[dict], present: set) -> set[str]:
    """Which tombstone shapes one batch exercises, from the INPUT rows
    and the presence carried into the batch (updates `present`)."""
    shapes: set[str] = set()
    last: dict = {}
    for r in sorted(rows, key=lambda r: r["seq"]):
        key = (r["k"], r["part"])
        dele = bool(r["is_delete"])
        if dele and key not in present:
            shapes.add("delete_of_absent")
        prev = last.get(key)
        if prev is not None and not prev and dele:
            shapes.add("upsert_then_delete")
        if prev and not dele:
            shapes.add("delete_then_upsert")
        last[key] = dele
        if dele:
            present.discard(key)
        else:
            present.add(key)
    return shapes


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_kernel_equals_per_record(seed: int) -> None:
    rng = random.Random(2026_10_17 + seed)
    fast, slow = _mk(), _mk()
    seq0 = 1
    present: set = set()
    shapes: set[str] = set()
    for _batch in range(8):
        n = rng.randrange(1, 40)
        rows = _random_batch(rng, seq0, n, p_delete=0.3)
        seq0 += n
        shapes |= _per_key_shapes(rows, present)
        _step(fast, slow, _frame(rows, rng))
    assert shapes == {"delete_of_absent", "upsert_then_delete", "delete_then_upsert"}
    # the null-mixed long survives exactly
    bigs = [v[1] for v in dict(fast.state.iterator()).values()]
    assert all(b is None or b > 2**53 for b in bigs) and any(bigs)


def test_kernel_without_tombstone_column() -> None:
    rng = random.Random(7)
    fast, slow = _mk(None), _mk(None)
    seq0 = 1
    for _batch in range(4):
        rows = _random_batch(rng, seq0, 30, p_delete=0.3)
        seq0 += 30
        got = _step(fast, slow, _frame(rows, rng))
        assert {r[2] for r in got} == {"upsert"}


def test_directed_tombstone_shapes() -> None:
    """Delete of an absent key, upsert -> delete and delete -> upsert
    in one batch, then a delete of carried state in the next."""
    rng = random.Random(11)
    fast, slow = _mk(), _mk()
    b1 = [
        _row("a", 0, 1, True, rng),    # delete of absent: nothing
        _row("a", 0, 2, False, rng),   # first insert
        _row("a", 0, 3, True, rng),    # upsert -> delete: retracts seq 2
        _row("a", 0, 4, True, rng),    # delete of absent again: nothing
        _row("a", 0, 5, False, rng),   # delete -> upsert: old is null
        _row("b", 1, 6, False, rng),
    ]
    got = _step(fast, slow, _frame(b1))
    # (keys, action, old_present, old_name .. old_seq, ...): 4 rows
    assert [(r[2], r[3], r[8]) for r in sorted(got, key=lambda r: r[-1])] == [
        ("upsert", False, None),
        ("delete", True, 2),
        ("upsert", False, None),
        ("upsert", False, None),
    ]
    b2 = [_row("a", 0, 7, True, rng), _row("b", 1, 8, True, rng),
          _row("b", 1, 9, True, rng)]
    got = _step(fast, slow, _frame(b2))
    assert sorted((r[0], r[2], r[8]) for r in got) == [
        ("a", "delete", 5), ("b", "delete", 6)
    ]
    assert dict(fast.state.iterator()) == {}
