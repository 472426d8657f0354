"""Incremental KTable-KTable primary-key join (SURVEY §2.5 J5/J6,
incremental changelog semantics).

Reference: productTable.leftJoin(merchantTable, joiner).toStream
(/root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:437-452,
 pinned by the tombstone test at :219-239). Both tables share the
primary key, so unlike the FK join no re-subscription routing is
needed: union-tag the two raw changelogs, group by key, and keep
(left value, right value) state per key. Each input record emits at
most one join-changelog row:

- left upsert:  emit (k, upsert, l, r?) — for inner only if r present
- left delete:  emit (k, delete) if a join row existed
- right upsert: emit (k, upsert, l, r) if l present (left join: always
  when l present; inner: same — no l, no row)
- right delete: inner -> delete if row existed; left -> downgrade to
  (k, upsert, l, null) (the reference's tombstone test end state:
  (key1, null) — TopologiesTest.scala:234-238)

A delete on an absent side is suppressed (Kafka null->null).

Layout: the TWS grouping key is pmod(xxhash64(key), n_buckets), and
per-key (left, right) state lives in two MapStates keyed by the logical
key. transformWithStateInPandas pays a fixed framework cost PER
GROUPING KEY per micro-batch (~85% of wall with a no-op processor,
SCALE.md), so bucketing spreads that cost over ~keys/buckets keys.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import StringType, StructField, StructType

from kafka_streams_app_spark.streaming._pdnorm import (
    dcol_finalize,
    dcol_in,
    dcol_nullify,
    dcol_state,
    dcol_take,
    dcol_where,
    normalize_nullable,
    pykey,
)
from kafka_streams_app_spark.streaming.replay import run_stateful


class _PKJoinProcessorBucketed(StatefulProcessor):
    """PK join over a BUCKETED key space: the TWS grouping key is
    pmod(xxhash64(key), n_buckets); per-logical-key (left, right) state
    lives in two MapStates keyed by the logical key. Records are
    globally seq-sorted within the bucket, then applied per logical key
    in order by ONE vectorized pointer forward-fill for every batch,
    tombstones included (see handleInputRows; the per-record reference
    it is pinned against lives in tests/keyed_reference.py, and
    ktable._LatestPerKeyBucketed explains the bucketing trade)."""

    def __init__(
        self,
        key_col: str,
        key_schema: StructType,
        left_cols: list[str],
        right_cols: list[str],
        left_schema: StructType,
        right_schema: StructType,
        out_schema: StructType,
        how: str,
    ) -> None:
        self.key_col = key_col
        self.key_schema = key_schema
        self.left_cols = left_cols
        self.right_cols = right_cols
        self.left_schema = left_schema
        self.right_schema = right_schema
        self.out_columns = [f.name for f in out_schema.fields]
        # per-output-column Spark types drive the dense (native-dtype)
        # emission path — see _pdnorm.dense_input and fk_join._fk_fast_batch
        self._out_types = {f.name: f.dataType for f in out_schema.fields}
        self.how = how
        self._norm_fields = (
            [(key_col, key_schema[key_col].dataType)]
            + [(c, left_schema[c].dataType) for c in left_cols]
            + [(c, right_schema[c].dataType) for c in right_cols]
        )

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.left = handle.getMapState("left", self.key_schema, self.left_schema)
        self.right = handle.getMapState("right", self.key_schema, self.right_schema)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        """One vectorized transition for every batch, tombstones
        included: within the seq-sorted bucket frame, the join partner
        of each record is the MOST RECENT row of the OTHER side for the
        same logical key — a per-key forward-fill. Because the two
        sides interleave, the fill runs on row POINTERS (per-key cummax
        of each side's row index), then one numpy take per payload
        column resolves values. Every delete leaves its side absent, so
        a side is present after a row iff its latest row so far is an
        upsert (the carried state when it has none), and a partner
        pointer that lands on a delete resolves to nulls. Python touches
        only per-distinct-key state lookups/writes, never per record.

        Output columns are NATIVE-dtype (r7, same treatment as
        fk_join._fk_fast_batch): object/Decimal cells made the
        python->JVM Arrow crossing pay per-cell conversion — see
        _pdnorm.dense_input. Inputs convert once (O(inputs)); emissions
        are numpy takes; columns finalize as float64 / Integer /
        Boolean extension arrays with exact null parity."""
        pdf = normalize_nullable(
            pd.concat(list(rows))
            .sort_values("seq", kind="stable")
            .reset_index(drop=True),
            self._norm_fields,
        )
        n = len(pdf)
        left_join = self.how == "left"
        codes, uniques = pd.factorize(pdf[self.key_col], use_na_sentinel=False)
        ukeys = [pykey((k,)) for k in uniques]
        l_states = [self.left.getValue(k) for k in ukeys]
        r_states = [self.right.getValue(k) for k in ukeys]
        l_carried = np.array([s is not None for s in l_states], dtype=bool)
        r_carried = np.array([s is not None for s in r_states], dtype=bool)
        side_l = (pdf["side"] == "l").to_numpy()
        dele = pdf["is_delete"].to_numpy(dtype=bool, na_value=False)
        idx = np.arange(n)
        # per-row pointer to the latest row of each side for this key
        # (cummax at an own-side row points at itself)
        lptr = pd.Series(np.where(side_l, idx, -1)).groupby(codes).cummax().to_numpy()
        rptr = pd.Series(np.where(~side_l, idx, -1)).groupby(codes).cummax().to_numpy()
        # presence AFTER each row, then BEFORE it (= after the key's
        # previous row; the carried state on the key's first row)
        l_after = np.where(lptr >= 0, ~dele[lptr], l_carried[codes])
        r_after = np.where(rptr >= 0, ~dele[rptr], r_carried[codes])
        prev = pd.Series(idx).groupby(codes).shift(1, fill_value=-1).to_numpy()
        l_before = np.where(prev >= 0, l_after[prev], l_carried[codes])
        r_before = np.where(prev >= 0, r_after[prev], r_carried[codes])
        # l upsert emits iff left join or right present; l delete iff
        # left was present and it had a join row. r upsert emits iff
        # left present; r delete iff right was present and left present
        emit = np.where(
            side_l,
            (left_join | r_after) & (~dele | l_before),
            l_after & (~dele | r_before),
        )
        # a right delete in a left join downgrades to an upsert with a
        # null right payload; every other delete emits all-null payloads
        out_del = dele & (side_l | (not left_join))

        def resolve(cols_names, states, ptr, j_present):
            ptr_pos = np.maximum(ptr, 0)
            resolved = {}
            for j, c in enumerate(cols_names):
                own = dcol_in(pdf, c, self._out_types[c])
                sk, sv, sm = dcol_state(states, j, own[0])
                sv_codes = (sk, sv[codes], sm[codes] if sm is not None else None)
                vals = dcol_where(ptr >= 0, dcol_take(own, ptr_pos), sv_codes)
                resolved[c] = dcol_finalize(
                    dcol_take(dcol_nullify(vals, ~j_present | out_del), emit))
            return resolved

        if emit.any():
            key_out = self.out_columns[0]
            cols: dict[str, object] = {
                key_out: dcol_finalize(
                    dcol_take(dcol_in(pdf, self.key_col, self._out_types[key_out]),
                              emit)),
                "action": np.array(["upsert", "delete"], dtype=object)[
                    out_del[emit].astype(np.int8)],
            }
            cols.update(resolve(self.left_cols, l_states, lptr, l_after))
            cols.update(resolve(self.right_cols, r_states, rptr, r_after))
            cols["_seq"] = dcol_finalize(
                dcol_take(dcol_in(pdf, "seq", self._out_types["_seq"]), emit))
            yield pd.DataFrame(cols, columns=self.out_columns)
        # state: each key's LAST row per side wins — an upsert writes,
        # a delete removes carried state (Python per distinct key only)
        lmax = pd.Series(np.where(side_l, idx, -1)).groupby(codes).max()
        rmax = pd.Series(np.where(~side_l, idx, -1)).groupby(codes).max()
        for state, last, carried, side_cols in (
            (self.left, lmax, l_carried, [pdf[c] for c in self.left_cols]),
            (self.right, rmax, r_carried, [pdf[c] for c in self.right_cols]),
        ):
            for code, ukey in enumerate(ukeys):
                i = int(last[code])
                if i < 0:
                    continue
                if not dele[i]:
                    state.updateValue(ukey, pykey(c.iat[i] for c in side_cols))
                elif carried[code]:
                    state.removeKey(ukey)

    def close(self) -> None:
        pass


def _pk_join_plan(
    left_raw: DataFrame,
    right_raw: DataFrame,
    *,
    key: str,
    left_payload: list[str],
    right_payload: list[str],
    seq: str,
    left_tombstone: str | None,
    right_tombstone: str | None,
    how: str,
    n_buckets: int,
) -> tuple[DataFrame, _PKJoinProcessorBucketed, StructType]:
    """Shared union-tag input + processor + output schema for the
    stream (TWS) and batch (grouped replay) paths. Returns the tagged
    union (with its _pkj_bucket grouping column), the processor and
    the output schema."""
    l_schema, r_schema = left_raw.schema, right_raw.schema

    def tag(df: DataFrame, side: str, payload: list[str], other: list[str],
            other_schema, tombstone: str | None) -> DataFrame:
        # Kafka Streams ignores null-key records in table-table joins.
        # Payload columns mix nulls BY CONSTRUCTION (each side's rows are
        # null in the other side's columns); they cross into pandas
        # exactly through _pdnorm.arrow_table_to_pandas.
        return df.na.drop(subset=[key]).select(
            F.col(key),
            F.lit(side).alias("side"),
            *[F.col(c) for c in payload],
            *[F.lit(None).cast(other_schema[c].dataType).alias(c)
              for c in other],
            F.col(seq).alias("seq"),
            (F.col(tombstone) if tombstone else F.lit(False)).alias("is_delete"),
        )

    unioned = tag(left_raw, "l", left_payload, right_payload, r_schema,
                  left_tombstone).unionByName(
        tag(right_raw, "r", right_payload, left_payload, l_schema,
            right_tombstone).select(
            key, "side", *left_payload, *right_payload, "seq", "is_delete"
        )
    )
    left_state = StructType(
        [StructField(c, l_schema[c].dataType, True) for c in left_payload]
    )
    right_state = StructType(
        [StructField(c, r_schema[c].dataType, True) for c in right_payload]
    )
    out_schema = StructType(
        [StructField(key, l_schema[key].dataType, True),
         StructField("action", StringType(), False)]
        + [StructField(c, l_schema[c].dataType, True) for c in left_payload]
        + [StructField(c, r_schema[c].dataType, True) for c in right_payload]
        + [StructField("_seq", l_schema[seq].dataType, True)]
    )
    key_schema = StructType([StructField(key, l_schema[key].dataType, True)])
    proc = _PKJoinProcessorBucketed(
        key, key_schema, left_payload, right_payload, left_state,
        right_state, out_schema, how,
    )
    unioned = unioned.withColumn(
        "_pkj_bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    )
    return unioned, proc, out_schema


def pk_join(
    left_raw: DataFrame,
    right_raw: DataFrame,
    *,
    key: str,
    left_payload: list[str],
    right_payload: list[str],
    seq: str = "seq",
    left_tombstone: str | None = None,
    right_tombstone: str | None = None,
    how: str = "inner",
    n_buckets: int = 16,
) -> DataFrame:
    """Join two table changelogs on their shared primary key.

    Inputs are RAW changelogs (key, payload cols, seq, optional boolean
    tombstone col), both streaming (TWS) or both batch (grouped replay;
    streaming/replay.py:run_stateful). Output: join changelog (key, action,
    left payload, right payload) — exactly the rows the reference's
    output-join topic carries.

    n_buckets: the stateful operator groups by
    pmod(xxhash64(key), n_buckets) (see _PKJoinProcessorBucketed). The
    output does not depend on it. Pick >= 2-4x total cores.
    """
    unioned, proc, out_schema = _pk_join_plan(
        left_raw, right_raw, key=key, left_payload=left_payload,
        right_payload=right_payload, seq=seq, left_tombstone=left_tombstone,
        right_tombstone=right_tombstone, how=how, n_buckets=n_buckets,
    )
    return run_stateful(unioned, ["_pkj_bucket"], proc, out_schema)

