"""Incremental KTable-KTable foreign-key join with re-subscription
(SURVEY.md §7.1 M4 — the hardest operator).

Reference: leftTable.join(rightTable, fkExtractor, joiner)
(/root/reference/src/main/scala/com/ayoubom/kafka/apps/ForeignJoin.scala:37-42).
Kafka implements this with internal subscription/response topics: the
left side publishes (fk -> pk) subscriptions, partitioned BY FK so each
right-side task can answer lookups locally; an FK change re-routes the
subscription. This module mirrors that architecture Spark-first, as one
topology:

  left raw changelog
    -> ktable_changelog (keyed by pk; emits old_fk/new_fk)
    -> fk_instructions (stateless flatMap: sub/unsub per FK change)
    -> union with tagged right changelog
    -> groupBy(hash bucket of fk) + transformWithStateInPandas
       state per fk: right value + subscription map {pk -> left payload}
    -> join changelog (pk, action, left payload, right value)

The shuffle by fk bucket IS Kafka's subscription topic. On a stream the
whole chain is ONE query: both TWS operators (timeMode="None") run in
Update mode, so one checkpoint holds both stages' state and every
source's offsets (see FKJoinReplay). On batch inputs the same chain
runs as grouped replays.

Correct (bug-free) semantics pinned by tests/test_fk_join_stream.py,
fixing the reference's documented upstream bugs
(TopologiesTest.scala:101,117,134 comments):
- delete of a joined left row emits exactly ONE retraction (not two);
- FK change to nonexistent/null emits one retraction, no spurious row;
- inner join emits nothing for unmatched subscribes.
"""

from __future__ import annotations

import shutil
import tempfile
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import StringType, StructField, StructType

from kafka_streams_app_spark.streaming._pdnorm import (
    normalize_nullable,
    pykey,
    pynative,
)
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay
from kafka_streams_app_spark.streaming.ktable import ktable_changelog
from kafka_streams_app_spark.streaming.replay import run_stateful

KIND_SUB = "sub"
KIND_UNSUB_MOVE = "unsub_move"      # FK changed: leave the old FK group
KIND_UNSUB_DELETE = "unsub_delete"  # left row deleted
KIND_RIGHT = "right"


def fk_instructions(
    left_view: DataFrame, pk: str, fk: str, payload: list[str], seq_col: str
) -> DataFrame:
    """Stateless flatMap of the left view changelog into subscription
    instructions partitioned by FK (Kafka's subscription topic records).

    One changelog row yields:
    - upsert, FK unchanged (or first insert): [sub(new_fk)]
    - upsert, FK changed: [unsub_move(old_fk), sub(new_fk)]
    - delete: [unsub_delete(old_fk)]
    `minor` orders unsub before sub at equal seq.
    """
    val_cols = [c for c in payload if c != fk]
    old_fk, new_fk = F.col(f"old_{fk}"), F.col(f"new_{fk}")
    fk_changed = F.col("old_present") & ~old_fk.eqNullSafe(new_fk)

    def instr(kind: str, fk_col, minor: int, with_payload: bool):
        return F.struct(
            fk_col.alias("fk"),
            F.lit(kind).alias("kind"),
            F.col(pk).alias("pk"),
            *[
                (F.col(f"new_{c}") if with_payload else F.lit(None).cast(
                    left_view.schema[f"new_{c}"].dataType)).alias(c)
                for c in val_cols
            ],
            F.col(seq_col).alias("seq"),
            F.lit(minor).alias("minor"),
        )

    sub = instr(KIND_SUB, new_fk, 1, True)
    unsub_move = instr(KIND_UNSUB_MOVE, old_fk, 0, False)
    unsub_delete = instr(KIND_UNSUB_DELETE, old_fk, 0, False)

    arr = (
        F.when(F.col("action") == "delete", F.array(unsub_delete))
        .when(fk_changed, F.array(unsub_move, sub))
        .otherwise(F.array(sub))
    )
    return left_view.select(F.explode(arr).alias("i")).select("i.*")


def _fk_fast_batch(
    pdf: pd.DataFrame,
    snapshots: dict,
    r_state_of,
    pre_member,
    left_cols: list[str],
    right_cols: list[str],
    out_types: dict,
    out_columns: list[str],
    left_join: bool,
    compact_rights: bool = False,
):
    """Vectorized FK-join transition for ONE seq-sorted bucket batch of
    any shape: sub / unsub_move / unsub_delete / right upserts / right
    deletes. The per-record reference machine it is pinned against
    lives in tests/keyed_reference.py.

    r16: the r15 fast path only covered all-sub batches, so ANY batch
    carrying an FK change (unsub_move) fell back to per-record Python —
    at the sf0.1 gate shape (5 fks x 1500 pks x 200k instructions) that
    meant ~30M output tuples appended one by one (~20 s of the 41 s
    entry wall). This kernel vectorizes the mixed sub/unsub case with
    PRESENCE INTERVALS instead of the old (rows x pks) fan-out matrix:

    - per (fk, pk), the in-batch events (sub=+, unsub=-) split the
      batch into presence intervals: [sub row, next event row) with
      that sub's payload, plus [batch start, first event row) when the
      pk was subscribed pre-batch (snapshot payload). Presence after an
      event is simply (event is sub); an unsub is EFFECTIVE iff the
      previous event of the same pk is a sub, or there is none and the
      pk was a pre-batch member.
    - fan-out pairs = for each interval, the right rows of that fk
      whose row position falls inside it — two np.searchsorted calls
      per fk and one range-expansion; transient memory is O(events +
      live pairs), never rows x pks (the old dense matrix would be
      ~70 GB at the x10 smoke shape).
    - right presence at a row: the last right row at or before it is
      an upsert (the carried state when there is none). A right row is
      EFFECTIVE iff it is an upsert or deletes a present right value;
      only effective right rows fan out. A right delete fans out a null
      right payload: an upsert with the left payload in left mode, an
      all-null delete in inner mode.
    - sub emissions read that presence (a sub after a right delete
      joins nulls in left mode and emits nothing in inner mode);
      effective unsubs emit their delete rows (inner: iff the right
      side is present at that row; left: only unsub_delete).

    Emission order matches the per-record machine: rows sort by
    (triggering row position, subscription-dict position); the
    subscription-dict position list is snapshot keys first (dict
    order), then in-batch subs in first-seen order — an unsub claims
    no position (an effective unsub of a non-snapshot pk cannot exist
    when a snapshot was taken, and fks without a snapshot have no
    right rows, so no fan-out reads the order).

    All output columns are built as native (kind, values, mask)
    triples (see _pdnorm.dense_input) — the 30M-row crossing stays
    vectorized on both sides.

    compact_rights (OPT-IN, default False — emissions then match the
    per-record machine row for row): within one batch, a right UPSERT
    fans out only if it is the fk's last EFFECTIVE right row (R_n);
    every effective right delete still fans out. Sub/unsub emissions
    and all state writes are untouched, and each sub still joins the
    latest right row AT ITS OWN POSITION (rptr scans every right row).
    This is Kafka Streams' KTable cache / commit-interval semantics
    (R_1..R_n compact to R_n within an interval) and matches Spark's
    update-mode contract (latest state per key per trigger). The
    reduced end state is provably unchanged — every dropped fan-out
    row (pk, R_i) at position p_i (R_i an upsert) is superseded by a
    kept emission for the same pk at a strictly later position:
      * if pk's presence interval covers R_n: the kept fan-out
        (pk, R_n), p_n > p_i (a trailing delete of an absent right
        value emits nothing, so it is never R_n);
      * else the interval ended at an (effective) unsub at p_u > p_i.
        If the last effective right row in (p_i, p_u) is a delete,
        its kept fan-out supersedes. Otherwise the right side is
        present at p_u, and the unsub emits a delete (inner mode /
        unsub_delete in left mode) or — left-mode unsub_move — is
        immediately followed by its paired sub at the same seq with a
        higher minor (fk_instructions always emits the pair), which
        re-emits the pk.
      Compacting deletes too would break the inner-mode case: sub,
      R delete, unsub, R upsert leaves the unsub silent (right absent)
      and R_n outside pk's interval, so the sub's upsert would be the
      pk's latest row instead of the retraction.
    Positions are (seq, minor)-sorted, so "later position" = ">= order
    tag"; with the engine's unique per-row (seq, minor) tags the
    superseding emission strictly wins any latest-per-key reduction.
    ONLY enable under such a reduction (the declared s_fk_* entries) —
    the raw changelog itself loses the intermediate fan-out rows.
    Randomized pin: tests/test_fk_fast_batch.py.

    Returns (frame | None, subs_ops, right_writes):
    - subs_ops: [(ufk, pk, payload tuple | None)] — None = removeKey;
      exactly the final touched-set of the per-record machine (a pk
      whose every event was an ineffective unsub gets NO op).
    - right_writes: [(ufk, right value tuple | None)] — the last right
      row per fk; None = removeKey (a trailing delete of carried state).
    """
    import numpy as np

    from kafka_streams_app_spark.streaming._pdnorm import (
        dcol_concat,
        dcol_finalize,
        dcol_from_list,
        dcol_in,
        dcol_nullify,
        dcol_state,
        dcol_take,
        dcol_where,
    )

    n = len(pdf)
    idx = np.arange(n)
    kinds_arr = pdf["kind"].to_numpy()
    is_right = kinds_arr == KIND_RIGHT
    is_sub = kinds_arr == KIND_SUB
    is_event = ~is_right
    r_del = pdf["right_is_delete"].to_numpy(dtype=bool, na_value=False)
    codes, uniques = pd.factorize(pdf["fk"], use_na_sentinel=False)
    ufks = [pynative(k) for k in uniques]
    r_states = [r_state_of(k) for k in ufks]
    r_carried = np.array([s is not None for s in r_states], dtype=bool)
    rptr = pd.Series(np.where(is_right, idx, -1)).groupby(codes).cummax().to_numpy()
    # right presence at a row: the last right row at or before it is an
    # upsert; with no such row, the carried state
    r_present = np.where(rptr >= 0, ~r_del[rptr], r_carried[codes])

    # object copies for state writes / python dict keys (O(inputs))
    pk_arr = pdf["pk"].to_numpy(dtype=object)
    l_arrs = {c: pdf[c].to_numpy(dtype=object) for c in left_cols}
    r_arrs = {c: pdf[c].to_numpy(dtype=object) for c in right_cols}

    def in_col(src: str, out: str):
        return dcol_in(pdf, src, out_types[out])

    take, where, nullify = dcol_take, dcol_where, dcol_nullify
    from_list, state_pairs, concat = dcol_from_list, dcol_state, dcol_concat

    pk_col = in_col("pk", "pk")
    seq_col = in_col("seq", "_seq")
    minor_col = in_col("minor", "_minor")
    l_cols = {c: in_col(c, c) for c in left_cols}
    r_cols = {c: in_col(c, c) for c in right_cols}

    def null_col(proto, m: int):
        k = proto[0]
        if k == "f":
            return "f", np.full(m, np.nan), None
        if k == "o":
            return "o", np.full(m, None, dtype=object), None
        vals = np.zeros(m, dtype=np.int64 if k == "i" else bool)
        return k, vals, np.ones(m, dtype=bool)

    blocks: list[dict] = []

    # --- subscribe emissions (bucket-wide, vectorized) ---
    emit_sub = is_sub if left_join else (is_sub & r_present)
    if emit_sub.any():
        blk = {
            "pk": take(pk_col, emit_sub),
            "_del": False,
            **{c: take(l_cols[c], emit_sub) for c in left_cols},
            "_seq": take(seq_col, emit_sub),
            "_minor": take(minor_col, emit_sub),
            "_pos": idx[emit_sub],
            "_ord": np.zeros(int(emit_sub.sum()), dtype=np.int64),
        }
        rptr_pos = np.maximum(rptr, 0)
        for j, c in enumerate(right_cols):
            own = r_cols[c]
            sv_k, sv_v, sv_m = state_pairs(r_states, j, own[0])
            sv = (sv_k, sv_v[codes], sv_m[codes] if sv_m is not None else None)
            vals = where(rptr >= 0, take(own, rptr_pos), sv)
            blk[c] = take(nullify(vals, ~r_present), emit_sub)
        blocks.append(blk)

    subs_ops: list[tuple] = []
    right_writes: list[tuple] = []
    del_rows_all: list = []
    BIG = np.int64(2**62)

    for code in range(len(ufks)):
        g = idx[codes == code]
        g_right = g[is_right[g]]
        g_ev = g[is_event[g]]
        ufk = ufks[code]
        if len(g_right):
            if not r_del[g_right[-1]]:
                right_writes.append(
                    (ufk, pykey(r_arrs[c][g_right[-1]] for c in right_cols))
                )
            elif r_carried[code]:
                right_writes.append((ufk, None))
            # a right row fans out iff it is EFFECTIVE: an upsert, or a
            # delete of a present right value (a delete of an absent
            # one emits nothing)
            g_rdel = r_del[g_right]
            r_before = np.r_[r_carried[code], ~g_rdel[:-1]]
            g_right = g_right[~g_rdel | r_before]
        snap = snapshots.get(ufk)  # None iff this fk has no right rows
        m = len(g_ev)
        if m:
            # --- per-pk event ids, first-occurrence order
            pk_of_aid: list = []
            aid_index: dict = {}
            aids = np.empty(m, dtype=np.int64)
            for j, row in enumerate(g_ev):
                pk = pynative(pk_arr[row])
                a = aid_index.get(pk)
                if a is None:
                    a = aid_index[pk] = len(pk_of_aid)
                    pk_of_aid.append(pk)
                aids[j] = a
            A = len(pk_of_aid)
            ev_sub = is_sub[g_ev]  # presence AFTER an event == its kind
            order = np.argsort(aids, kind="stable")
            s_aids = aids[order]
            grp_start = np.r_[True, s_aids[1:] != s_aids[:-1]]
            grp_end = np.r_[grp_start[1:], True]
            # presence BEFORE each event: the previous event's kind, or
            # pre-batch membership at a group start
            s_presence_before = np.r_[False, ev_sub[order][:-1]]
            start_aids = s_aids[grp_start]
            if snap is not None:
                pre_mem_start = np.fromiter(
                    (pk_of_aid[a] in snap for a in start_aids), bool,
                    count=len(start_aids),
                )
            else:
                # point lookups ONLY for pks whose first in-batch event
                # is an unsub (a first-event sub needs no membership)
                first_is_sub = ev_sub[order][grp_start]
                pre_mem_start = np.zeros(len(start_aids), dtype=bool)
                for i2 in np.flatnonzero(~first_is_sub):
                    pre_mem_start[i2] = bool(
                        pre_member(ufk, pk_of_aid[start_aids[i2]])
                    )
            s_presence_before[grp_start] = pre_mem_start
            presence_before = np.empty(m, dtype=bool)
            presence_before[order] = s_presence_before
            eff_unsub = ~ev_sub & presence_before
            # --- delete emissions for effective unsubs (the reference
            # machine's unsub branches verbatim)
            if left_join:
                del_mask = eff_unsub & (kinds_arr[g_ev] == KIND_UNSUB_DELETE)
            else:
                del_mask = eff_unsub & r_present[g_ev]
            if del_mask.any():
                del_rows_all.append(g_ev[del_mask])
            # --- state mirror per pk: final presence = last event kind;
            # a pk is "touched" iff it had a sub or was a pre-batch
            # member (its first unsub was then effective)
            pre_mem_aid = np.zeros(A, dtype=bool)
            pre_mem_aid[start_aids] = pre_mem_start
            had_sub = np.zeros(A, dtype=bool)
            np.logical_or.at(had_sub, aids, ev_sub)
            last_ev = np.empty(A, dtype=np.int64)
            last_ev[s_aids[grp_end]] = order[grp_end]
            for a in range(A):
                j_last = last_ev[a]
                if ev_sub[j_last]:
                    row = g_ev[j_last]
                    subs_ops.append(
                        (ufk, pk_of_aid[a],
                         pykey(l_arrs[c][row] for c in left_cols))
                    )
                elif had_sub[a] or pre_mem_aid[a]:
                    subs_ops.append((ufk, pk_of_aid[a], None))

        # --- fan-out pairs via presence intervals ---
        if len(g_right) == 0:
            continue
        # ordering universe: snapshot keys (dict order), then in-batch
        # subs in first-seen order — the subscription-dict order the
        # per-record machine's items() iterates
        pk_index = {pk: j2 for j2, pk in enumerate(snap)}
        pk_list = list(snap)
        if m:
            sub_j = np.flatnonzero(ev_sub)
            for j in sub_j:
                pk = pk_of_aid[aids[j]]
                if pk not in pk_index:
                    pk_index[pk] = len(pk_list)
                    pk_list.append(pk)
        else:
            sub_j = np.empty(0, dtype=np.int64)
        if not pk_list:
            continue
        # interval bounds: initial [batch start, first event of pk) for
        # snapshot members; [sub row, next event of pk) per sub
        init_b = np.full(len(snap), BIG, dtype=np.int64)
        if m:
            first_pos_aid = np.full(A, BIG, dtype=np.int64)
            first_pos_aid[start_aids] = g_ev[order][grp_start]
            for j2, pk in enumerate(snap):
                a = aid_index.get(pk)
                if a is not None:
                    init_b[j2] = first_pos_aid[a]
        init_a = np.full(len(snap), -1, dtype=np.int64)
        init_src = np.full(len(snap), -1, dtype=np.int64)
        init_ord = np.arange(len(snap), dtype=np.int64)
        if m and len(sub_j):
            nxt_sorted = np.where(
                grp_end, BIG, np.r_[g_ev[order][1:], BIG]
            )
            nxt = np.empty(m, dtype=np.int64)
            nxt[order] = nxt_sorted
            ord_of_aid = np.full(A, -1, dtype=np.int64)
            for pk, j2 in pk_index.items():
                a = aid_index.get(pk)
                if a is not None:
                    ord_of_aid[a] = j2
            sub_a = g_ev[sub_j]
            sub_b = nxt[sub_j]
            sub_src = g_ev[sub_j]
            sub_ord = ord_of_aid[aids[sub_j]]
            a_arr = np.concatenate([init_a, sub_a])
            b_arr = np.concatenate([init_b, sub_b])
            src_arr = np.concatenate([init_src, sub_src])
            ord_arr = np.concatenate([init_ord, sub_ord])
        else:
            a_arr, b_arr, src_arr, ord_arr = init_a, init_b, init_src, init_ord
        # per-trigger right compaction (r16): of the fk's effective
        # right rows in this batch, only the LAST one and the deletes
        # fan out — Kafka Streams' KTable cache compacts R_1..R_n to
        # R_n within a commit interval, and Spark's update-mode output
        # contract is "the latest state per key per trigger", so the
        # intermediate upsert fan-outs are emission work no downstream
        # reduction can ever observe (every dropped row is superseded
        # by a later kept emission for its pk — see the proof sketch in
        # this function's docstring). rptr/sub emissions still see
        # EVERY right row, so a sub between R_i and R_n joins R_i.
        g_right_emit = (
            g_right[(g_right == g_right[-1]) | r_del[g_right]]
            if compact_rights else g_right
        )
        lo = np.searchsorted(g_right_emit, a_arr, side="right")
        hi = np.searchsorted(g_right_emit, b_arr, side="left")
        cnt = np.maximum(hi - lo, 0)
        tot = int(cnt.sum())
        if tot == 0:
            continue
        reps = np.repeat(np.arange(len(cnt)), cnt)
        offs = np.arange(tot, dtype=np.int64) - np.repeat(
            np.cumsum(cnt) - cnt, cnt
        )
        right_rows_g = g_right_emit[lo[reps] + offs]
        pi = ord_arr[reps]
        srcs = src_arr[reps]
        # a right delete fans out a null right payload: an upsert that
        # keeps the left payload in left mode, an all-null delete in
        # inner mode
        pair_del = r_del[right_rows_g]
        has_del = bool(pair_del.any())
        blk = {
            "pk": take(from_list(pk_list, pk_col[0]), pi),
            "_del": pair_del if has_del and not left_join else False,
            "_seq": take(seq_col, right_rows_g),
            "_minor": take(minor_col, right_rows_g),
            "_pos": right_rows_g,
            "_ord": pi.astype(np.int64),
        }
        snap_tuples = [snap.get(pk) for pk in pk_list]
        use_sub = srcs >= 0
        src_pos = np.maximum(srcs, 0)
        for j3, c in enumerate(left_cols):
            snap_col = take(state_pairs(snap_tuples, j3, l_cols[c][0]), pi)
            own = take(l_cols[c], src_pos)
            blk[c] = where(use_sub, own, snap_col)
            if has_del and not left_join:
                blk[c] = nullify(blk[c], pair_del)
        for c in right_cols:
            blk[c] = take(r_cols[c], right_rows_g)
            if has_del:
                blk[c] = nullify(blk[c], pair_del)
        blocks.append(blk)

    # --- effective-unsub delete emissions (bucket-wide block) ---
    if del_rows_all:
        drows = (
            np.concatenate(del_rows_all)
            if len(del_rows_all) > 1 else del_rows_all[0]
        )
        md = len(drows)
        blk = {
            "pk": take(pk_col, drows),
            "_del": True,
            "_seq": take(seq_col, drows),
            "_minor": take(minor_col, drows),
            "_pos": drows,
            "_ord": np.zeros(md, dtype=np.int64),
        }
        for c in left_cols:
            blk[c] = null_col(l_cols[c], md)
        for c in right_cols:
            blk[c] = null_col(r_cols[c], md)
        blocks.append(blk)

    frame = None
    if blocks:
        # emission order of the per-record machine: triggering record
        # order, then subscription-dict order within a fan-out. One
        # combined int64 key (pos * width + ord) argsorts ~2x faster
        # than a two-key lexsort at the 30M-row gate shape.
        pos = np.concatenate([b["_pos"] for b in blocks])
        ordn = np.concatenate([b["_ord"] for b in blocks])
        width = np.int64(int(ordn.max()) + 1) if len(ordn) else np.int64(1)
        order2 = np.argsort(pos * width + ordn, kind="stable")
        # action: int8 delete flags gathered natively, ONE vectorized
        # object materialization at the end (a 30M-cell object gather
        # costs seconds; an int8 gather is free)
        dels = np.concatenate([
            np.broadcast_to(np.asarray(b["_del"], dtype=np.int8), len(b["_pos"]))
            for b in blocks
        ])[order2]
        if not dels.any():
            acts: object = "upsert"  # scalar broadcast, zero copies
        else:
            acts = np.array(["upsert", "delete"], dtype=object)[dels]
        # scatter-assembly through the INVERSE permutation: one final
        # array + one scatter per column instead of concat + ordered
        # gather (2 fewer 30M-row copies per column — page faults are
        # ~20 us on this host, so copies are the wall, not CPU)
        n_out = len(pos)
        inv = np.empty(n_out, dtype=np.int64)
        inv[order2] = np.arange(n_out, dtype=np.int64)

        def assemble(cols):
            k = cols[0][0]
            if k == "o":
                out = np.empty(n_out, dtype=object)
            elif k == "f":
                out = np.empty(n_out, dtype=np.float64)
            else:
                out = np.empty(n_out, dtype=np.int64 if k == "i" else bool)
            use_mask = cols[0][2] is not None
            outm = np.empty(n_out, dtype=bool) if use_mask else None
            off = 0
            for _kk, v, m in cols:
                d = inv[off:off + len(v)]
                out[d] = v
                if use_mask:
                    outm[d] = m
                off += len(v)
            return k, out, outm

        data: dict = {}
        for nm in out_columns:
            if nm == "action":
                data[nm] = acts
                continue
            data[nm] = dcol_finalize(assemble([b[nm] for b in blocks]))
        # copy=False: the columns are freshly built arrays owned by this
        # frame — the default dict_to_mgr copy re-copies every masked
        # array (measured 7.8 s at the 14M-row shape)
        frame = pd.DataFrame(data, columns=out_columns, copy=False)
    return frame, subs_ops, right_writes


class _FKJoinProcessorBucketed(StatefulProcessor):
    """FK join over a BUCKETED fk space: the TWS grouping key is
    pmod(xxhash64(fk), n_buckets); per-fk state lives in two MapStates —
    right values keyed by (fk,), subscriptions keyed by (fk, pk).

    Same trade as ktable._LatestPerKeyBucketed: TWS pays a fixed
    framework cost per grouping key per micro-batch, so bucketing
    spreads it over ~fks/buckets fks. Every batch, right-side
    tombstones included, runs the one vectorized _fk_fast_batch
    transition.

    Fan-out on a right-side record needs every subscription of that fk;
    MapState has no prefix scan, so the processor takes ONE pass over
    the bucket's subscription map per batch, keeping only fks that have
    right-side records in the batch (sub/unsub-only batches skip the
    scan entirely — membership checks are point lookups). Cost:
    O(subscriptions in bucket) per batch WITH right traffic. Size
    n_buckets so a bucket's subscription state stays scannable (>= 2-4x
    cores, more under very large left tables).
    """

    def __init__(
        self,
        left_cols: list[str],
        right_cols: list[str],
        sub_schema: StructType,
        right_schema: StructType,
        out_schema: StructType,
        how: str,
        fk_schema: StructType,
        fkpk_schema: StructType,
        compact_rights: bool = False,
    ) -> None:
        self.compact_rights = compact_rights
        self.left_cols = left_cols
        self.right_cols = right_cols
        self.sub_schema = sub_schema
        self.right_schema = right_schema
        self.out_columns = [f.name for f in out_schema.fields]
        # per-output-column Spark types drive the dense (native-dtype)
        # emission path — see _pdnorm.dense_input/_fast_path
        self._out_types = {f.name: f.dataType for f in out_schema.fields}
        self.how = how
        self.fk_schema = fk_schema
        self.fkpk_schema = fkpk_schema
        # right_cols are the r_-prefixed union column names; the state
        # schema fields are positional twins with the original names
        self._norm_fields = (
            [("fk", fk_schema["fk"].dataType),
             ("pk", fkpk_schema["pk"].dataType)]
            + [(c, sub_schema[c].dataType) for c in left_cols]
            + [(c, f.dataType) for c, f in zip(right_cols, right_schema.fields)]
        )

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.right = handle.getMapState("right", self.fk_schema, self.right_schema)
        self.subs = handle.getMapState("subs", self.fkpk_schema, self.sub_schema)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = normalize_nullable(
            pd.concat(list(rows))
            .sort_values(["seq", "minor"], kind="stable")
            .reset_index(drop=True),
            self._norm_fields,
        )
        # one subscription-map pass, only when the batch carries right-
        # side records, filtered to exactly those fks (fan-out inputs)
        fks_right = {
            pynative(v)
            for v in pdf.loc[pdf["kind"] == KIND_RIGHT, "fk"].unique()
        }
        snapshots: dict = {fk: {} for fk in fks_right}
        if fks_right:
            for k, v in self.subs.iterator():
                fk, pk = k[0], k[1]
                if fk in snapshots:
                    snapshots[fk][pk] = tuple(v)
        frame, subs_ops, right_writes = _fk_fast_batch(
            pdf, snapshots,
            r_state_of=lambda fk: self.right.getValue((fk,)),
            pre_member=lambda fk, pk: self.subs.containsKey((fk, pk)),
            left_cols=self.left_cols, right_cols=self.right_cols,
            out_types=self._out_types, out_columns=self.out_columns,
            left_join=self.how == "left",
            compact_rights=self.compact_rights,
        )
        for ufk, pk, pay in subs_ops:
            if pay is None:
                self.subs.removeKey((ufk, pk))
            else:
                self.subs.updateValue((ufk, pk), pay)
        for ufk, val in right_writes:
            if val is None:
                self.right.removeKey((ufk,))
            else:
                self.right.updateValue((ufk,), val)
        if frame is not None:
            yield frame

    def close(self) -> None:
        pass


def _fk_join_plan(
    instructions: DataFrame,
    right_raw: DataFrame,
    *,
    right_key: str,
    right_payload: list[str],
    right_seq: str,
    right_tombstone: str | None,
    left_value_cols: list[str],
    how: str,
    n_buckets: int,
    compact_rights: bool = False,
) -> tuple[DataFrame, _FKJoinProcessorBucketed, StructType]:
    """Shared union-tag input + processor + output schema for the
    stream (TWS) and batch (grouped replay) paths. Returns the tagged
    union (with its _fkj_bucket grouping column), the processor and
    the output schema."""
    r_schema = right_raw.schema
    # instruction rows are null in the r_* columns and right rows in
    # the pk/left columns BY CONSTRUCTION (and unsub/null-FK rows can
    # carry a null fk); they cross into pandas exactly through
    # _pdnorm.arrow_table_to_pandas
    fk_type = instructions.schema["fk"].dataType
    pk_type = instructions.schema["pk"].dataType
    tagged_right = right_raw.select(
        F.col(right_key).alias("fk"),
        F.lit(KIND_RIGHT).alias("kind"),
        F.lit(None).cast(pk_type).alias("pk"),
        *[F.lit(None).cast(instructions.schema[c].dataType).alias(c)
          for c in left_value_cols],
        F.col(right_seq).alias("seq"),
        F.lit(2).alias("minor"),
        *[F.col(c).alias(f"r_{c}") for c in right_payload],
        (F.col(right_tombstone) if right_tombstone else F.lit(False))
        .alias("right_is_delete"),
    )
    tagged_left = instructions.select(
        "fk", "kind", "pk", *left_value_cols, "seq", "minor",
        *[F.lit(None).cast(r_schema[c].dataType).alias(f"r_{c}")
          for c in right_payload],
        F.lit(False).alias("right_is_delete"),
    )
    unioned = tagged_left.unionByName(tagged_right)

    sub_schema = StructType(
        [StructField(c, instructions.schema[c].dataType, True)
         for c in left_value_cols]
    )
    right_state_schema = StructType(
        [StructField(c, r_schema[c].dataType, True) for c in right_payload]
    )
    out_schema = StructType(
        [StructField("pk", pk_type, True),
         StructField("action", StringType(), False)]
        + [StructField(c, instructions.schema[c].dataType, True)
           for c in left_value_cols]
        + [StructField(f"r_{c}", r_schema[c].dataType, True)
           for c in right_payload]
        # ordering tag of the triggering instruction: lets consumers
        # reduce the changelog to an end state (latest per pk)
        + [StructField("_seq", instructions.schema["seq"].dataType, True),
           StructField("_minor", instructions.schema["minor"].dataType, True)]
    )
    out_columns = [f.name for f in out_schema.fields]
    r_cols = [f"r_{c}" for c in right_payload]
    proc = _FKJoinProcessorBucketed(
        left_value_cols, r_cols, sub_schema, right_state_schema,
        out_schema, how,
        StructType([StructField("fk", fk_type)]),
        StructType([StructField("fk", fk_type), StructField("pk", pk_type)]),
        compact_rights=compact_rights,
    )
    unioned = unioned.withColumn(
        "_fkj_bucket", F.pmod(F.xxhash64("fk"), F.lit(n_buckets)).cast("int")
    )
    return unioned, proc, out_schema


def fk_join_changelog(
    instructions: DataFrame,
    right_raw: DataFrame,
    *,
    right_key: str,
    right_payload: list[str],
    right_seq: str,
    right_tombstone: str | None,
    left_value_cols: list[str],
    how: str = "inner",
    n_buckets: int = 16,
    compact_rights: bool = False,
) -> DataFrame:
    """Join stage: union(instructions, tagged right changelog)
    -> groupBy(fk bucket) -> stateful join processor -> join changelog
    (pk, action, left value cols, right payload cols). It chains
    directly after fk_instructions(ktable_changelog(...)): one
    streaming query, or one batch plan.

    n_buckets: the stateful operator groups by
    pmod(xxhash64(fk), n_buckets) (see _FKJoinProcessorBucketed for the
    fan-out scan trade). The output does not depend on it.

    Streaming inputs run TWS; batch inputs run grouped replay with the
    same shuffle by fk bucket — Kafka's subscription topic — and only
    the state backend (in-task memory vs RocksDB) differs
    (streaming/replay.py:run_stateful).
    """
    unioned, proc, out_schema = _fk_join_plan(
        instructions, right_raw, right_key=right_key,
        right_payload=right_payload, right_seq=right_seq,
        right_tombstone=right_tombstone, left_value_cols=left_value_cols,
        how=how, n_buckets=n_buckets, compact_rights=compact_rights,
    )
    return run_stateful(unioned, ["_fkj_bucket"], proc, out_schema)


class FKJoinReplay(MicroBatchReplay):
    """The FK-join pipeline as ONE streaming query, with
    TopologyTestDriver-style piping.

    Left staging dir -> ktable_changelog -> fk_instructions, unioned
    with the right staging dir -> stateful FK join -> sink. Both TWS
    operators run in Update mode in the same query, so one checkpoint
    holds the ktable state, the two join stores and both sources'
    committed offsets.

    pipe_left/pipe_right append one file to their side and drive the
    query to quiescence, so per-pipe drain() shows exactly the join
    changelog the reference's readOutputTopic() would. With the query
    stopped (query.stop(), a crash), a pipe only stages its file;
    restart() resumes from the checkpoint, where a batch that Spark runs
    again replaces its own kept output, and settle() consumes what was
    staged.
    """

    def __init__(
        self,
        spark: SparkSession,
        left_schema: str,
        right_schema: str,
        *,
        pk: str,
        fk: str,
        left_payload: list[str],
        left_tombstone: str,
        right_key: str,
        right_payload: list[str],
        right_tombstone: str,
        how: str = "inner",
        n_buckets: int = 16,
    ) -> None:
        self._left_schema = left_schema
        self._left_staging = tempfile.mkdtemp(prefix="fkjoin_lsrc_")
        self.seq = 0

        def build(right_src: DataFrame) -> DataFrame:
            left_src = (
                spark.readStream.schema(left_schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(self._left_staging)
            )
            changelog = ktable_changelog(
                left_src, [pk], "seq", left_payload, left_tombstone,
                n_buckets=n_buckets,
            )
            return fk_join_changelog(
                fk_instructions(changelog, pk, fk, left_payload, "seq"),
                right_src,
                right_key=right_key,
                right_payload=right_payload,
                right_seq="seq",
                right_tombstone=right_tombstone,
                left_value_cols=[c for c in left_payload if c != fk],
                how=how,
                n_buckets=n_buckets,
            )

        super().__init__(spark, right_schema, build, "update")

    def _next_seq(self) -> int:
        self.seq += 1
        return self.seq

    def pipe_left(self, rows: list[tuple]) -> None:
        """rows WITHOUT seq; seq is appended here (global pipe order)."""
        full = [r + (self._next_seq(),) for r in rows]
        df = self.spark.createDataFrame(full, self._left_schema)
        df.coalesce(1).write.mode("append").parquet(self._left_staging)
        self.settle()

    def pipe_right(self, rows: list[tuple]) -> None:
        self.pipe([r + (self._next_seq(),) for r in rows])

    def settle(self) -> None:
        """Drive the query to quiescence without new input — after a
        restart this consumes any staged-but-unprocessed files."""
        self.query.processAllAvailable()

    def drain(self) -> list[tuple]:
        """Join-changelog rows since last drain, ordering tag stripped."""
        return [tuple(x)[:-2] for x in super().drain()]

    def stop(self) -> None:
        super().stop()
        shutil.rmtree(self._left_staging, ignore_errors=True)
