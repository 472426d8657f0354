"""Randomized equivalence pin for the vectorized FK-join kernel.

_fk_fast_batch (interval-based numpy kernel: sub / unsub_move /
unsub_delete / right upserts and right deletes) must emit EXACTLY the
rows of the per-record _fk_apply machine (tests/keyed_reference.py),
and leave EXACTLY the same subscription/right state behind — across
random multi-batch histories with right deletes (back-to-back ones
included) and both join modes. Pure Python (state shims from
streaming/replay.py), no Spark session.

compact_rights=True (the declared s_fk_* entries' opt-in) is pinned
against an INDEPENDENT reference: the per-record machine's emissions
minus the fan-outs of right upserts that are not their fk's last
EFFECTIVE right row (identified by the input rows and the carried
right presence alone — the kernel's code is not consulted; right
deletes are never compacted away), plus the two
properties the entry contract rests on: every dropped row is
superseded by a kept later emission for its pk, and the
latest-per-(pk) reduction of the full multi-batch changelog is
IDENTICAL with and without compaction.
"""

from __future__ import annotations

import random

import pandas as pd
import pyarrow as pa
import pytest
from keyed_reference import arrow_frame, fk_reference
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_app_spark.streaming.fk_join import (
    KIND_RIGHT,
    KIND_SUB,
    KIND_UNSUB_DELETE,
    KIND_UNSUB_MOVE,
    _FKJoinProcessorBucketed,
    pynative,
)
from kafka_streams_app_spark.streaming.replay import _HandleShim

LEFT_COLS = ["value"]
RIGHT_COLS = ["r_rvalue"]
SUB_SCHEMA = StructType([StructField("value", LongType(), True)])
RIGHT_SCHEMA = StructType([StructField("rvalue", LongType(), True)])
FK_SCHEMA = StructType([StructField("fk", StringType(), True)])
FKPK_SCHEMA = StructType(
    [StructField("fk", StringType(), True), StructField("pk", LongType(), True)]
)
OUT_SCHEMA = StructType(
    [
        StructField("pk", LongType(), True),
        StructField("action", StringType(), False),
        StructField("value", LongType(), True),
        StructField("r_rvalue", LongType(), True),
        StructField("_seq", LongType(), True),
        StructField("_minor", LongType(), True),
    ]
)

ARROW_SCHEMA = pa.schema([
    ("fk", pa.string()), ("kind", pa.string()), ("pk", pa.int64()),
    ("value", pa.int64()), ("seq", pa.int64()), ("minor", pa.int64()),
    ("r_rvalue", pa.int64()), ("right_is_delete", pa.bool_()),
])


def _mk_bucketed(
    how: str, compact_rights: bool = False
) -> _FKJoinProcessorBucketed:
    p = _FKJoinProcessorBucketed(
        LEFT_COLS, RIGHT_COLS, SUB_SCHEMA, RIGHT_SCHEMA, OUT_SCHEMA, how,
        FK_SCHEMA, FKPK_SCHEMA, compact_rights=compact_rights,
    )
    p.init(_HandleShim())
    return p


def _right_rows(rng: random.Random, fk, seq: int) -> list[tuple]:
    """One right upsert, or one right delete, or two back-to-back right
    deletes of the same fk. A delete row carries a stale right payload
    now and then: the kernel must null it, never emit it."""
    r = rng.random()
    if r < 0.6:
        return [(fk, KIND_RIGHT, None, None, seq, 2, rng.randrange(1000), False)]
    stale = rng.randrange(1000) if rng.random() < 0.5 else None
    dele = (fk, KIND_RIGHT, None, None, seq, 2, stale, True)
    if r < 0.85:
        return [dele]
    return [dele, (fk, KIND_RIGHT, None, None, seq + 1, 2, None, True)]


def _random_batch(rng: random.Random, seq0: int, fks, pks, n: int):
    """One batch of (fk, kind, pk, value, seq, minor, r_rvalue,
    right_is_delete) rows: subs, both unsub kinds, right upserts and
    right deletes."""
    rows = []
    for _ in range(n):
        seq = seq0 + len(rows)  # one seq per row
        fk = rng.choice(fks)
        r = rng.random()
        if r < 0.35:
            rows.extend(_right_rows(rng, fk, seq))
        elif r < 0.7:
            rows.append((fk, KIND_SUB, rng.choice(pks),
                         rng.randrange(1000), seq, 1, None, False))
        elif r < 0.88:
            rows.append((fk, KIND_UNSUB_MOVE, rng.choice(pks), None,
                         seq, 0, None, False))
        else:
            rows.append((fk, KIND_UNSUB_DELETE, rng.choice(pks), None,
                         seq, 0, None, False))
    return rows


def _to_pdf(rows) -> pd.DataFrame:
    """The union-tagged bucket frame as it crosses Arrow: pk, value and
    r_rvalue are null-mixed longs by construction."""
    return arrow_frame(pa.Table.from_pylist(
        [dict(zip(ARROW_SCHEMA.names, r)) for r in rows], schema=ARROW_SCHEMA
    ))


def _rows_of(frames) -> list[tuple]:
    """Canonically SORTED emission rows: the per-record reference
    emits per-fk blocks (groupby order) while the kernel emits global
    (row position, dict position) order — the row MULTISET is the
    contract (downstream reductions key on (_seq, _minor); the frame
    order of a micro-batch is not observable through Spark), so the
    equivalence pin compares sorted rows."""
    out = []
    for f in frames:
        if f is None:
            continue
        for t in f.itertuples(index=False):
            out.append(tuple(pynative(v) for v in t))
    return sorted(out, key=lambda r: [(v is None, v) for v in r])


@pytest.mark.parametrize("how", ["inner", "left"])
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_kernel_equals_per_record_bucketed(how: str, seed: int) -> None:
    rng = random.Random(2026_08_18 + seed)
    fks = ["a", "b", "c"]
    pks = list(range(1, 9))
    fast = _mk_bucketed(how)
    slow = _mk_bucketed(how)
    seq0 = 1
    for _batch in range(6):
        rows = _random_batch(rng, seq0, fks, pks, rng.randrange(1, 40))
        seq0 += len(rows)
        pdf = _to_pdf(rows)
        got = _rows_of(fast.handleInputRows(("bkt",), iter([pdf.copy()]), None))
        want = _rows_of(fk_reference(slow, pdf))
        assert got == want, f"batch {_batch}: emission mismatch"
        # state must match exactly between batches (carry-in parity)
        assert dict(fast.subs.iterator()) == dict(slow.subs.iterator())
        assert dict(fast.right.iterator()) == dict(slow.right.iterator())


def _random_instr_batch(rng: random.Random, seq0: int, fks, pks,
                        subscribed: dict, n: int):
    """One batch honoring fk_instructions' INVARIANT: an unsub_move is
    always immediately followed by its paired sub at the SAME seq
    (minor 0 then 1) — the shape every declared entry's instruction
    stream has, and the precondition of compact_rights' supersession
    property in LEFT mode (an orphan unsub_move emits no row there, so
    a dropped earlier fan-out would have no kept superseder; the
    unconstrained generator above exposed exactly that)."""
    rows = []
    seq = seq0
    for _ in range(n):
        r = rng.random()
        if r < 0.35:
            rights = _right_rows(rng, rng.choice(fks), seq)
            rows.extend(rights)
            seq += len(rights) - 1
        else:
            pk = rng.choice(pks)
            cur = subscribed.get(pk)
            if cur is None or r < 0.6:
                fk = rng.choice(fks)
                if cur is not None and cur != fk:
                    rows.append((cur, KIND_UNSUB_MOVE, pk, None, seq, 0,
                                 None, False))
                rows.append((fk, KIND_SUB, pk, rng.randrange(1000), seq, 1,
                             None, False))
                subscribed[pk] = fk
            else:
                rows.append((cur, KIND_UNSUB_DELETE, pk, None, seq, 0,
                             None, False))
                subscribed.pop(pk)
        seq += 1
    return rows, seq


def _nonfinal_right_tags(rows, r_present: dict) -> set[tuple]:
    """(seq, minor) tags of every right UPSERT that is NOT its fk's
    last EFFECTIVE right row in the batch — computed from the INPUT
    rows and the right presence carried into the batch (`r_present`:
    fk -> bool, updated here), never from the kernel. A right row is
    effective iff it is an upsert or deletes a present right value;
    right deletes are never compacted away. Tags are unique
    per input row (the generator's seq strictly increases), and
    sub(minor 1)/unsub(minor 0) emissions can never collide with a
    right row's (seq, 2) tag."""
    last_eff: dict = {}
    rights = [r for r in rows if r[1] == KIND_RIGHT]
    for r in rights:
        fk, dele = r[0], r[7]
        if not dele or r_present.get(fk, False):
            last_eff[fk] = r[4]
        r_present[fk] = not dele
    return {
        (r[4], r[5]) for r in rights if not r[7] and last_eff[r[0]] != r[4]
    }


@pytest.mark.parametrize("how", ["inner", "left"])
@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_compact_rights_contract(how: str, seed: int) -> None:
    """compact_rights=True vs the independent compaction of the
    per-record reference (drop the fan-outs of right upserts that are
    not their fk's last effective right row), plus
    the supersession property and latest-per-pk invariance that make
    compaction invisible to the declared s_fk_* entries' reduction."""
    rng = random.Random(2026_08_18 + 77 * seed)
    fks = ["a", "b", "c"]
    pks = list(range(1, 9))
    fast = _mk_bucketed(how, compact_rights=True)
    slow = _mk_bucketed(how)
    seq0 = 1
    subscribed: dict = {}
    r_present: dict = {}
    all_got: list[tuple] = []
    all_want_full: list[tuple] = []
    for _batch in range(6):
        rows, seq0 = _random_instr_batch(
            rng, seq0, fks, pks, subscribed, rng.randrange(1, 40))
        pdf = _to_pdf(rows)
        got = _rows_of(fast.handleInputRows(("bkt",), iter([pdf.copy()]), None))
        want_full = _rows_of(fk_reference(slow, pdf))
        dropped_tags = _nonfinal_right_tags(rows, r_present)
        # OUT_SCHEMA: (pk, action, value, r_rvalue, _seq, _minor)
        want = [r for r in want_full if (r[4], r[5]) not in dropped_tags]
        assert got == want, f"batch {_batch}: compacted emission mismatch"
        # supersession: every dropped row has a KEPT later emission for
        # the same pk (strictly greater (seq, minor) order tag)
        kept_latest: dict = {}
        for r in want:
            pk = r[0]
            tag = (r[4], r[5])
            if pk not in kept_latest or tag > kept_latest[pk]:
                kept_latest[pk] = tag
        for r in want_full:
            if (r[4], r[5]) in dropped_tags:
                assert r[0] in kept_latest and kept_latest[r[0]] > (r[4], r[5]), (
                    f"batch {_batch}: dropped row {r} not superseded"
                )
        # state parity: compaction must not touch state writes
        assert dict(fast.subs.iterator()) == dict(slow.subs.iterator())
        assert dict(fast.right.iterator()) == dict(slow.right.iterator())
        all_got.extend(got)
        all_want_full.extend(want_full)
    # the declared entries' reduction: latest row per pk over the FULL
    # multi-batch changelog is identical with and without compaction
    def latest_per_pk(rows_out):
        latest: dict = {}
        for r in rows_out:
            tag = (r[4], r[5])
            if r[0] not in latest or tag > latest[r[0]][0]:
                latest[r[0]] = (tag, r)
        return {pk: v[1] for pk, v in latest.items()}

    assert latest_per_pk(all_got) == latest_per_pk(all_want_full)


def test_kernel_emits_unsub_deletes_inner() -> None:
    """Directed: sub -> right -> unsub_move must emit the retraction
    (inner mode) — the r15 fast path could not see this shape at all."""
    proc = _mk_bucketed("inner")
    rows = [
        ("a", KIND_SUB, 1, 10, 1, 1, None, False),
        ("a", KIND_RIGHT, None, None, 2, 2, 77, False),
        ("a", KIND_UNSUB_MOVE, 1, None, 3, 0, None, False),
    ]
    got = _rows_of(proc.handleInputRows(("b",), iter([_to_pdf(rows)]), None))
    assert got == sorted(
        [
            (1, "upsert", 10, 77, 2, 2),   # fan-out on the right upsert
            (1, "delete", None, None, 3, 0),
        ],
        key=lambda r: [(v is None, v) for v in r],
    )
    assert dict(proc.subs.iterator()) == {}


def _run(how: str, batches, compact_rights: bool = True) -> list[list[tuple]]:
    """Per-batch sorted emissions of a compact_rights processor, each
    batch also checked against the per-record reference's state."""
    proc = _mk_bucketed(how, compact_rights=compact_rights)
    ref = _mk_bucketed(how)
    out = []
    for rows in batches:
        out.append(_rows_of(
            proc.handleInputRows(("b",), iter([_to_pdf(rows)]), None)))
        fk_reference(ref, _to_pdf(rows))
        assert dict(proc.subs.iterator()) == dict(ref.subs.iterator())
        assert dict(proc.right.iterator()) == dict(ref.right.iterator())
    return out


@pytest.mark.parametrize("how", ["inner", "left"])
def test_compact_keeps_retraction_of_upsert_delete_delete(how: str) -> None:
    """R upsert -> R delete -> R delete in one batch: the first delete
    is the fk's last EFFECTIVE right row, so its fan-out survives
    compaction (the trailing delete of an absent value emits nothing
    and must not supersede it)."""
    sub = [("a", KIND_SUB, 1, 10, 1, 1, None, False)]
    rights = [
        ("a", KIND_RIGHT, None, None, 2, 2, 77, False),
        ("a", KIND_RIGHT, None, None, 3, 2, 77, True),
        ("a", KIND_RIGHT, None, None, 4, 2, None, True),
    ]
    _, got = _run(how, [sub, rights])
    if how == "inner":
        assert got == [(1, "delete", None, None, 3, 2)]
    else:
        assert got == [(1, "upsert", 10, None, 3, 2)]


@pytest.mark.parametrize("how", ["inner", "left"])
def test_compact_sub_after_right_delete(how: str) -> None:
    """A sub that lands after a right delete joins nulls in left mode
    and emits nothing in inner mode — within one batch, and when the
    deleted right value was carried in from an earlier batch."""
    same_batch = [
        ("a", KIND_RIGHT, None, None, 1, 2, 77, False),
        ("a", KIND_RIGHT, None, None, 2, 2, None, True),
        ("a", KIND_SUB, 1, 10, 3, 1, None, False),
    ]
    carried = [
        [("b", KIND_RIGHT, None, None, 4, 2, 88, False)],
        [("b", KIND_RIGHT, None, None, 5, 2, 88, True),
         ("b", KIND_SUB, 2, 20, 6, 1, None, False)],
    ]
    want = {"inner": [], "left": [(1, "upsert", 10, None, 3, 1)]}[how]
    assert _run(how, [same_batch]) == [want]
    want = {"inner": [], "left": [(2, "upsert", 20, None, 6, 1)]}[how]
    assert _run(how, carried)[1] == want


def test_compact_keeps_delete_fanout_of_unsubscribed_pk() -> None:
    """sub -> R delete -> unsub -> R upsert, inner mode: the unsub is
    silent (right absent) and the final upsert no longer reaches the
    pk, so the delete's fan-out is the pk's only retraction — it must
    survive compaction although the delete is not the fk's last
    effective right row."""
    batches = [
        [("a", KIND_RIGHT, None, None, 1, 2, 77, False)],
        [("a", KIND_SUB, 1, 10, 2, 1, None, False),
         ("a", KIND_RIGHT, None, None, 3, 2, None, True),
         ("a", KIND_UNSUB_DELETE, 1, None, 4, 0, None, False),
         ("a", KIND_RIGHT, None, None, 5, 2, 78, False)],
    ]
    assert _run("inner", batches)[1] == sorted(
        [(1, "upsert", 10, 77, 2, 1), (1, "delete", None, None, 3, 2)],
        key=lambda r: [(v is None, v) for v in r],
    )
