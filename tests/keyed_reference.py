"""Per-record reference state machines for the keyed stateful operators.

The package runs ONE vectorized transition per bucket batch in
`_LatestPerKeyBucketed` (streaming/ktable.py), `_PKJoinProcessorBucketed`
(streaming/pk_join.py) and `_FKJoinProcessorBucketed`
(streaming/fk_join.py), tombstones included. The machines below are the
semantics those kernels must reproduce, written one record at a time:

- `_changelog_for_key`: latest-per-key changelog of ONE logical key;
- `_pk_apply`: PK-join transition of ONE logical key;
- `_fk_apply` over a `_SubsView`: FK-join transition of ONE fk.

`ktable_reference`, `pk_reference` and `fk_reference` drive them per
key over a processor's own state (the in-memory shims of
streaming/replay.py's `_HandleShim`), after the same sort + normalize
step its handleInputRows takes. The randomized tests feed one
processor to the kernel and a twin to the reference and compare the
emitted rows and the state after every batch; `arrow_frame` builds
their input frames the way the operators receive them.

Test helper only: no `test_` prefix, so pytest does not collect it.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer

from kafka_streams_app_spark.streaming._pdnorm import (
    arrow_table_to_pandas,
    normalize_nullable,
    pykey,
    pynative,
)
from kafka_streams_app_spark.streaming.fk_join import (
    KIND_RIGHT,
    KIND_SUB,
    KIND_UNSUB_DELETE,
)



def arrow_frame(table: pa.Table) -> pd.DataFrame:
    """A bucket batch as a stateful operator's handleInputRows receives
    it: through the exact crossing, with pyspark's converter for every
    other column."""
    return arrow_table_to_pandas(
        table,
        ArrowStreamPandasUDFSerializer(
            "UTC", False, True, arrow_cast=True
        ).arrow_to_pandas,
    )

def _changelog_for_key(
    key: tuple,
    seqs: list,
    pay: list[list],
    tombs: list[bool] | None,
    cur: tuple | None,
    keys: list[str],
    payload: list[str],
    seq_col: str,
    out_columns: list[str],
) -> tuple[pd.DataFrame | None, tuple | None]:
    """Latest-per-key state transition for ONE logical key's in-order
    records: returns (changelog frame or None, new state or None). The
    reference `_LatestPerKeyBucketed`'s kernel is pinned against."""
    if tombs is None or not any(tombs):
        # Fast path (every record an upsert — the overwhelmingly
        # common shape): each row's old payload is the previous
        # row's new payload, i.e. a shift-by-one with the carried
        # state in slot 0. Column-wise list slicing instead of a
        # per-row Python loop — measured ~3x on the throughput
        # smoke (tools/stream_throughput.py, ktable_latest_tws).
        n = len(seqs)
        cols: dict[str, list] = {}
        for i, k in enumerate(keys):
            cols[k] = [key[i]] * n
        cols["action"] = ["upsert"] * n
        cols["old_present"] = [cur is not None] + [True] * (n - 1)
        for j, c in enumerate(payload):
            # dtype=object: pandas would infer a [None, int...] list as
            # float64 (NaN-fill), silently rounding int64 payloads above
            # 2^53; object columns reach Arrow losslessly
            cols[f"old_{c}"] = pd.Series(
                [cur[j] if cur is not None else None] + pay[j][:-1], dtype=object
            )
            cols[f"new_{c}"] = pay[j]
        cols[seq_col] = seqs
        return pd.DataFrame(cols, columns=out_columns), tuple(p[-1] for p in pay)
    nulls = (None,) * len(payload)
    out: list[tuple] = []
    for i, seq in enumerate(seqs):
        old_present = cur is not None
        old = cur if old_present else nulls
        if tombs[i]:
            if old_present:  # delete of absent key: suppressed
                out.append(key + ("delete", True) + old + nulls + (seq,))
                cur = None
        else:
            new = tuple(p[i] for p in pay)
            out.append(key + ("upsert", old_present) + old + new + (seq,))
            cur = new
    # dtype=object: see fast path — mixed None/int64 columns must not
    # pass through float64 inference
    frame = (
        pd.DataFrame(out, columns=out_columns, dtype=object) if out else None
    )
    return frame, cur


def _pk_apply(
    records: list[dict],
    key: tuple,
    l_present: bool,
    l_val: tuple,
    r_present: bool,
    r_val: tuple,
    left_cols: list[str],
    right_cols: list[str],
    left_join: bool,
) -> tuple[list[tuple], bool, tuple, bool, tuple]:
    """PK-join state transition for ONE logical key's in-order records.

    Returns (output rows, new left/right state). The reference
    `_PKJoinProcessorBucketed`'s kernel is pinned against.
    """
    l_nulls = (None,) * len(left_cols)
    r_nulls = (None,) * len(right_cols)
    out: list[tuple] = []

    for rec in records:
        om = (pynative(rec["seq"]),)  # emission order tag
        if rec["side"] == "l":
            if pynative(rec["is_delete"]):
                if l_present:
                    had = l_present and (left_join or r_present)
                    l_present, l_val = False, ()
                    if had:
                        out.append(key + ("delete",) + l_nulls + r_nulls + om)
            else:
                l_present = True
                l_val = pykey(rec[c] for c in left_cols)
                if left_join or r_present:
                    out.append(
                        key + ("upsert",) + l_val
                        + (r_val if r_present else r_nulls) + om
                    )
        else:  # right side
            if pynative(rec["is_delete"]):
                if r_present:
                    r_present, r_val = False, ()
                    if l_present:
                        out.append(
                            (key + ("upsert",) + l_val + r_nulls if left_join
                             else key + ("delete",) + l_nulls + r_nulls) + om
                        )
            else:
                r_present = True
                r_val = pykey(rec[c] for c in right_cols)
                if l_present:
                    out.append(key + ("upsert",) + l_val + r_val + om)
    return out, l_present, l_val, r_present, r_val


class _SubsView:
    """Current subscription view for ONE fk during a batch: a pre-batch
    snapshot (or a point-lookup fallback when no snapshot was taken)
    overlaid with this batch's mutations.

    Why an overlay: state writes made earlier in a batch are not
    guaranteed visible to MapState.iterator()/containsKey() within the
    same batch, so a same-batch sub followed by a right update would
    miss the fan-out without it. The caller mirrors `touched` to the
    real state after the transition.
    """

    def __init__(self, snapshot: dict | None, contains_fn=None) -> None:
        self._snap = snapshot        # pre-batch {pk: left payload}
        self._contains = contains_fn  # pre-batch point membership
        self.touched: dict = {}       # pk -> payload | None (= removed)

    def set(self, pk, pay: tuple) -> None:
        self.touched[pk] = pay

    def remove(self, pk) -> None:
        self.touched[pk] = None

    def contains(self, pk) -> bool:
        if pk in self.touched:
            return self.touched[pk] is not None
        if self._snap is not None:
            return pk in self._snap
        return bool(self._contains(pk))

    def items(self):
        """Full current view — fan-out on right-side records. Only legal
        when a snapshot was taken (the bucketed processor guarantees one
        for every fk with right-side records in the batch)."""
        cur = dict(self._snap)
        for pk, pay in self.touched.items():
            if pay is None:
                cur.pop(pk, None)
            else:
                cur[pk] = pay
        return cur.items()


def _fk_apply(
    records: list[dict],
    r_present: bool,
    r_val: tuple,
    subs: _SubsView,
    left_cols: list[str],
    right_cols: list[str],
    left_join: bool,
) -> tuple[list[tuple], bool, tuple]:
    """FK-join state transition for ONE fk's in-order records. Returns
    (output rows, new right state); subscription mutations accumulate
    in `subs.touched`. The reference the vectorized _fk_fast_batch
    kernel is pinned against."""
    r_nulls = (None,) * len(right_cols)
    l_nulls = (None,) * len(left_cols)
    out: list[tuple] = []

    for rec in records:
        kind, pk = rec["kind"], pynative(rec["pk"])
        om = (pynative(rec["seq"]), pynative(rec["minor"]))  # order tag
        if kind == KIND_RIGHT:
            if pynative(rec["right_is_delete"]):
                if r_present:
                    r_present, r_val = False, ()
                    for spk, spay in subs.items():
                        out.append(
                            ((spk, "upsert") + spay + r_nulls if left_join
                             else (spk, "delete") + l_nulls + r_nulls) + om
                        )
            else:
                r_present = True
                r_val = pykey(rec[c] for c in right_cols)
                for spk, spay in subs.items():
                    out.append((spk, "upsert") + spay + r_val + om)
        elif kind == KIND_SUB:
            pay = pykey(rec[c] for c in left_cols)
            subs.set(pk, pay)
            if left_join:
                out.append(
                    (pk, "upsert") + pay + (r_val if r_present else r_nulls) + om
                )
            elif r_present:
                out.append((pk, "upsert") + pay + r_val + om)
        else:  # unsub_move / unsub_delete
            if subs.contains(pk):
                subs.remove(pk)
                if left_join:
                    if kind == KIND_UNSUB_DELETE:
                        out.append((pk, "delete") + l_nulls + r_nulls + om)
                    # unsub_move: the paired sub's upsert supersedes
                elif r_present:
                    # a join row existed for this pk iff right present
                    out.append((pk, "delete") + l_nulls + r_nulls + om)
    return out, r_present, r_val



def ktable_reference(proc, pdf: pd.DataFrame) -> list[pd.DataFrame]:
    """One bucket batch through `_changelog_for_key`, per logical key in
    first-seen order, on `proc.state` (a `_LatestPerKeyBucketed`)."""
    pdf = proc._normalize_pdf(
        pdf.sort_values(proc.seq_col, kind="stable").reset_index(drop=True)
    )
    frames: list[pd.DataFrame] = []
    # groupby preserves within-group row order, so each logical key
    # still sees its records in global seq order.
    for ukey, grp in pdf.groupby(proc.keys, sort=False, dropna=False):
        if not isinstance(ukey, tuple):
            ukey = (ukey,)
        ukey = pykey(ukey)
        cur = proc.state.getValue(ukey)
        cur = tuple(cur) if cur is not None else None
        seqs = grp[proc.seq_col].tolist()
        pay = [grp[c].tolist() for c in proc.payload]
        tombs = (
            # a null flag (pd.NA in a nullable column) reads as upsert
            grp[proc.tombstone_col].to_numpy(dtype=bool, na_value=False).tolist()
            if proc.tombstone_col is not None else None
        )
        frame, new_cur = _changelog_for_key(
            ukey, seqs, pay, tombs, cur,
            proc.keys, proc.payload, proc.seq_col, proc.out_columns,
        )
        if new_cur is None:
            if cur is not None:
                proc.state.removeKey(ukey)
        else:
            proc.state.updateValue(ukey, pykey(new_cur))
        if frame is not None:
            frames.append(frame)
    return frames


def pk_reference(proc, pdf: pd.DataFrame) -> list[pd.DataFrame]:
    """One bucket batch through `_pk_apply`, per logical key, on
    `proc.left` / `proc.right` (a `_PKJoinProcessorBucketed`)."""
    pdf = normalize_nullable(
        pdf.sort_values("seq", kind="stable").reset_index(drop=True),
        proc._norm_fields,
    )
    out: list[tuple] = []
    left_join = proc.how == "left"
    for ukey, grp in pdf.groupby(proc.key_col, sort=False, dropna=False):
        ukey = pykey((ukey,))
        l_val0 = proc.left.getValue(ukey)
        r_val0 = proc.right.getValue(ukey)
        rows_out, l_present, l_val, r_present, r_val = _pk_apply(
            grp.to_dict("records"), ukey,
            l_val0 is not None, tuple(l_val0) if l_val0 is not None else (),
            r_val0 is not None, tuple(r_val0) if r_val0 is not None else (),
            proc.left_cols, proc.right_cols, left_join,
        )
        out.extend(rows_out)
        for state, present, val, was in (
            (proc.left, l_present, l_val, l_val0),
            (proc.right, r_present, r_val, r_val0),
        ):
            if present:
                state.updateValue(ukey, pykey(val))
            elif was is not None:
                state.removeKey(ukey)
    if not out:
        return []
    return [pd.DataFrame(out, columns=proc.out_columns, dtype=object)]


def fk_reference(proc, pdf: pd.DataFrame) -> list[pd.DataFrame]:
    """One bucket batch through `_fk_apply`, per fk, on `proc.right` /
    `proc.subs` (a `_FKJoinProcessorBucketed`). Takes the same
    subscription snapshot as the processor: one pass over the
    subscription map, kept only for fks with right rows in the batch."""
    pdf = normalize_nullable(
        pdf.sort_values(["seq", "minor"], kind="stable")
        .reset_index(drop=True),
        proc._norm_fields,
    )
    fks_right = {
        pynative(v) for v in pdf.loc[pdf["kind"] == KIND_RIGHT, "fk"].unique()
    }
    snapshots: dict = {fk: {} for fk in fks_right}
    if fks_right:
        for k, v in proc.subs.iterator():
            if k[0] in snapshots:
                snapshots[k[0]][k[1]] = tuple(v)
    out: list[tuple] = []
    left_join = proc.how == "left"
    # groupby preserves within-group row order: per-fk seq order
    for ufk, grp in pdf.groupby("fk", sort=False, dropna=False):
        ufk = pynative(ufk)
        r_val0 = proc.right.getValue((ufk,))
        subs = _SubsView(
            snapshots.get(ufk),
            lambda pk, _fk=ufk: proc.subs.containsKey((_fk, pk)),
        )
        rows_out, r_present, r_val = _fk_apply(
            grp.to_dict("records"),
            r_val0 is not None, tuple(r_val0) if r_val0 is not None else (),
            subs, proc.left_cols, proc.right_cols, left_join,
        )
        out.extend(rows_out)
        for pk, pay in subs.touched.items():
            if pay is None:
                proc.subs.removeKey((ufk, pk))
            else:
                proc.subs.updateValue((ufk, pk), pay)
        if r_present:
            proc.right.updateValue((ufk,), pykey(r_val))
        elif r_val0 is not None:
            proc.right.removeKey((ufk,))
    if not out:
        return []
    return [pd.DataFrame(out, columns=proc.out_columns, dtype=object)]
