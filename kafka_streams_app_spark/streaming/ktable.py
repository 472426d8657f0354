"""Incremental KTable: latest-per-key changelog view with tombstone
retraction (SURVEY.md §7.1 M4, the hard 20%).

The reference's KTable materializes "latest value per key; null value =
delete" and forwards one changelog record per input update
(/root/reference/src/main/scala/com/ayoubom/kafka/apps/ForeignJoin.scala:28-34;
tombstones piped at
/root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:128,234-235).

Here the same semantics run as a keyed stateful operator
(transformWithStateInPandas, Spark 4.x): state = the current value per
key; each input record (in seq order) emits exactly one changelog row —
an upsert carrying (old, new) or a delete carrying the retracted value.
A delete of an absent key emits nothing (Kafka suppresses null->null).

The emitted old_* columns are what make downstream incremental joins
possible: the FK join consumes old_fk/new_fk transitions to re-route
its subscription (streaming/fk_join.py), exactly like Kafka's
subscription topics.

Scale: state is hash-partitioned by key across executors (RocksDB
provider), the shuffle is the same repartition a Kafka changelog topic
implies, and each task streams Arrow batches — no driver involvement.

The batch twin (one max_by aggregate) is operators/ktable.py.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    BooleanType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_app_spark.streaming._pdnorm import normalize_nullable, pykey
from kafka_streams_app_spark.streaming.replay import run_stateful

# hash buckets of the stateful operator (the TWS grouping key of the
# stream path; the replay groups of the batch path)
_N_BUCKETS = 16


class _LatestPerKeyBucketed(StatefulProcessor):
    """Latest-per-key over a BUCKETED key space: the TWS grouping key is
    pmod(xxhash64(logical keys), n_buckets), and the per-logical-key
    state lives in a MapState keyed by the logical key.

    Why: transformWithStateInPandas pays a fixed framework cost PER
    GROUPING KEY per micro-batch (Arrow slice + python-worker dispatch;
    measured ~85% of ktable wall with a no-op processor — SCALE.md).
    Grouping by bucket spreads that cost over ~keys/buckets logical
    keys. Records are globally seq-sorted within the bucket, then
    applied per logical key in order by ONE vectorized transition for
    every batch, tombstones included (see handleInputRows; the
    per-record reference it is pinned against lives in
    tests/keyed_reference.py). State stays hash-partitioned across
    executors (by bucket), RocksDB holds one map entry per logical key,
    and no bucket ever materializes more than its micro-batch slice
    plus one map lookup per distinct key.

    Bucket count is a deploy dial: enough buckets to spread across
    executors and bound per-group batch size (>= 2-4x total cores);
    few enough that the per-group framework cost stays amortized.
    """

    def __init__(
        self,
        keys: list[str],
        seq_col: str,
        payload: list[str],
        tombstone_col: str | None,
        key_schema: StructType,
        state_schema: StructType,
        out_columns: list[str],
    ) -> None:
        self.keys = keys
        self.seq_col = seq_col
        self.payload = payload
        self.tombstone_col = tombstone_col
        self.key_schema = key_schema
        self.state_schema = state_schema
        self.out_columns = out_columns

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.state = handle.getMapState("latest", self.key_schema, self.state_schema)

    def _normalize_pdf(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """Pin integral/bool key+payload columns to pandas NULLABLE
        extension dtypes before any shift/groupby/state access — closes
        the float64 corruption paths documented in _pdnorm.py (ADVICE
        r5)."""
        return normalize_nullable(
            pdf,
            [(name, f.dataType) for name, f in zip(
                self.keys + self.payload,
                list(self.key_schema.fields) + list(self.state_schema.fields),
            )],
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = self._normalize_pdf(
            pd.concat(list(rows))
            .sort_values(self.seq_col, kind="stable")
            .reset_index(drop=True)
        )
        # One vectorized transition, tombstones included: within the
        # seq-sorted bucket frame each row's old payload is the PREVIOUS
        # row of the same logical key — a per-key shift(1) — and every
        # delete leaves its key absent, so a row's old_present is "the
        # key's previous row is an upsert". Only each key's first row
        # needs a state lookup (its carry-in), only each key's last row
        # a state write. All per-row work is pandas/numpy C; Python
        # touches only the ~distinct-keys-per-bucket boundary rows.
        n = len(pdf)
        tomb = (
            pdf[self.tombstone_col].to_numpy(dtype=bool, na_value=False)
            if self.tombstone_col is not None else np.zeros(n, dtype=bool)
        )
        first_mask = ~pdf.duplicated(self.keys).to_numpy()
        first_pos = first_mask.nonzero()[0]
        last_pos = (~pdf.duplicated(self.keys, keep="last")).to_numpy().nonzero()[0]
        gb = pdf.groupby(self.keys, sort=False, dropna=False)
        # sort=False: group numbers follow first appearance, i.e. first_pos
        codes = gb.ngroup().to_numpy()
        # per-column extraction (NOT a .to_numpy() block: numeric
        # mixed-dtype frames upcast to float64, corrupting long keys)
        key_cols = [pdf[k] for k in self.keys]
        curs = [
            self.state.getValue(pykey([c.iat[i] for c in key_cols]))
            for i in first_pos
        ]
        carried = np.array([c is not None for c in curs], dtype=bool)
        prev_del = pd.Series(tomb).groupby(codes).shift(1, fill_value=False)
        old_present = np.where(first_mask, carried[codes], ~prev_del.to_numpy())
        cols: dict[str, object] = {k: pdf[k] for k in self.keys}
        cols["action"] = np.where(tomb, "delete", "upsert")
        cols["old_present"] = old_present
        for j, c in enumerate(self.payload):
            # _normalize_pdf pinned integral/bool payloads to extension
            # dtypes, so this shift fills pd.NA natively — int64 values
            # never round-trip through float64 (exact above 2^53)
            old = gb[c].shift(1)
            fill = [cur[j] if cur is not None else None for cur in curs]
            if pd.api.types.is_float_dtype(old.dtype):
                # float64 columns want NaN, not None (pandas deprecates
                # object fills into float blocks)
                fill = [float("nan") if v is None else v for v in fill]
            old.iloc[first_pos] = fill
            # after a delete the old payload is null, and a delete's
            # new payload is null
            cols[f"old_{c}"] = old.where(old_present, None)
            cols[f"new_{c}"] = pdf[c].where(~tomb, None)
        cols[self.seq_col] = pdf[self.seq_col]
        pay_cols = [pdf[c] for c in self.payload]
        for i in last_pos:
            k = pykey([c.iat[i] for c in key_cols])
            if not tomb[i]:
                self.state.updateValue(k, pykey([c.iat[i] for c in pay_cols]))
            elif carried[codes[i]]:
                self.state.removeKey(k)
        frame = pd.DataFrame(cols, columns=self.out_columns)
        # a delete of an absent key emits nothing (Kafka null->null)
        emit = old_present | ~tomb
        yield frame if emit.all() else frame[emit]

    def close(self) -> None:
        pass


def _ktable_plan(
    df: DataFrame,
    keys: list[str],
    seq_col: str,
    payload: list[str],
    tombstone_col: str | None,
    n_buckets: int,
) -> tuple[DataFrame, _LatestPerKeyBucketed, StructType]:
    """Shared bucketed input + processor + output schema for the stream
    (TWS) and batch (grouped replay) paths; both group by _kt_bucket."""
    from pyspark.sql import functions as F

    # project to exactly the consumed columns BEFORE the keyed shuffle:
    # every extra column rides the exchange AND the JVM->Arrow->pandas
    # per-group chunking, the dominant cost of the TWS path (see SCALE.md)
    needed = list(dict.fromkeys(
        keys + [seq_col] + payload + ([tombstone_col] if tombstone_col else [])
    ))
    # Kafka Streams drops records with a null key for all KTable
    # operations ("records with null key are ignored") — mirror that.
    # This also keeps the state keys exact: a single null in an int64
    # key column would upcast the whole pandas column to float64,
    # corrupting every key above 2^53 in that batch.
    df = df.select(*needed).na.drop(subset=keys)
    in_schema = df.schema
    key_fields = [StructField(k, in_schema[k].dataType, True) for k in keys]
    state_schema = StructType(
        [StructField(c, in_schema[c].dataType, True) for c in payload]
    )
    out_schema = StructType(
        key_fields
        + [
            StructField("action", StringType(), False),
            StructField("old_present", BooleanType(), False),
        ]
        + [StructField(f"old_{c}", in_schema[c].dataType, True) for c in payload]
        + [StructField(f"new_{c}", in_schema[c].dataType, True) for c in payload]
        + [StructField(seq_col, in_schema[seq_col].dataType, True)]
    )
    proc = _LatestPerKeyBucketed(
        keys, seq_col, payload, tombstone_col,
        StructType(key_fields), state_schema,
        [f.name for f in out_schema.fields],
    )
    bucketed = df.withColumn(
        "_kt_bucket", F.pmod(F.xxhash64(*keys), F.lit(n_buckets)).cast("int")
    )
    return bucketed, proc, out_schema


def ktable_changelog(
    df: DataFrame,
    keys: list[str],
    seq_col: str,
    payload: list[str],
    tombstone_col: str | None = None,
    n_buckets: int = _N_BUCKETS,
) -> DataFrame:
    """Incremental latest-per-key view over a changelog.

    df: streaming or batch DataFrame of raw changelog records (key
    cols, payload cols, a monotonic seq col, optionally a boolean
    tombstone col); streaming runs TWS, batch runs grouped replay
    (streaming/replay.py:run_stateful).
    Returns the derived changelog (KTable.toStream): one row per input
    update with columns keys..., action ('upsert'|'delete'),
    old_present (did the key hold a value before this update — lets
    consumers distinguish a first insert from an update whose old
    payload happens to be all-null), old_<payload>..., new_<payload>...,
    and the originating seq (for downstream ordering, e.g. the FK join).

    n_buckets: the stateful operator groups by
    pmod(xxhash64(keys), n_buckets); per-key state lives in a MapState
    (see _LatestPerKeyBucketed). The output does not depend on it.
    Pick >= 2-4x total cores.

    Integral payloads stay exact at any magnitude, nulls or not: both
    paths cross into pandas through _pdnorm.arrow_table_to_pandas.
    """
    bucketed, proc, out_schema = _ktable_plan(
        df, keys, seq_col, payload, tombstone_col, n_buckets
    )
    return run_stateful(bucketed, ["_kt_bucket"], proc, out_schema)


def changelog_to_intervals(
    changelog: DataFrame,
    keys: list[str],
    seq_col: str,
    payload: list[str],
) -> DataFrame:
    """Project a latest-per-key changelog (the output of
    ktable_changelog, with seq_col INCLUDED in its payload so
    old_<seq_col> is available) into SCD2 interval EVENTS — the
    incremental maintenance stream of operators/ktable.py:
    table_history:

    - every update with a prior value emits a CLOSE for the previous
      version: (old payload, valid_from = old seq, valid_to = this
      seq);
    - every upsert emits an OPEN for the new version:
      (new payload, valid_from = this seq, valid_to = NULL);
    - a delete emits only the CLOSE (tombstones end an interval and
      open none); a delete of an absent key emits nothing.

    The materialized history = ONE row per (keys, valid_from), keeping
    the row with the non-null valid_to when both exist (the CLOSE
    supersedes its OPEN; both carry the same payload by construction,
    so the reduction is groupBy(keys, payload, valid_from) .
    agg(max(valid_to))). That reduced table equals the batch
    table_history bit-for-bit — the oracle's pin.

    Pure projection: no state beyond the upstream changelog operator,
    no extra shuffle (explode is scan-stage).
    """
    from pyspark.sql import functions as F

    seq_t = changelog.schema[seq_col].dataType
    iv_fields = lambda vals, vf, vt: F.struct(
        *[v.alias(c) for c, v in zip(payload, vals)],
        vf.alias("valid_from"),
        vt.alias("valid_to"),
    )
    # typed empty array: a zero-length slice of a one-null-struct
    # array (F.array().cast cannot spell arbitrary payload types)
    _empty_struct = iv_fields(
        [F.lit(None).cast(changelog.schema[f"new_{c}"].dataType)
         for c in payload],
        F.lit(None).cast(seq_t),
        F.lit(None).cast(seq_t),
    )
    empty = F.slice(F.array(_empty_struct), 1, 0)
    close = F.when(
        F.col("old_present"),
        F.array(iv_fields(
            [F.col(f"old_{c}") for c in payload],
            F.col(f"old_{seq_col}").cast(seq_t),
            F.col(seq_col),
        )),
    ).otherwise(empty)
    opened = F.when(
        F.col("action") == "upsert",
        F.array(iv_fields(
            [F.col(f"new_{c}") for c in payload],
            F.col(seq_col),
            F.lit(None).cast(seq_t),
        )),
    ).otherwise(empty)
    return changelog.select(
        *keys, F.explode(F.concat(close, opened)).alias("_iv")
    ).select(*keys, "_iv.*")
