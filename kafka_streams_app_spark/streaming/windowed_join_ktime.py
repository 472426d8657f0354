"""Stream-stream windowed join with Kafka's PER-TOPIC stream time
(SURVEY.md §2.4 W8 — the one reference behavior Spark's global
watermark deliberately diverges from; this operator closes that gap).

Reference: the worked example in
/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedJoin.scala:14-22:
with before=after=10s and all records on one key,

    input1 <- t=1
    input2 <- t=1     -> joins (1,1)
    input2 <- t=30    -> advances input2's stream time to 30; input2's
                         t=1 record expires FROM INPUT2'S STORE
    input2 <- t=8     -> LATE, yet still joins input1's t=1 record,
                         because input1's stream time is still 1

Semantics implemented (exactly the reference comment's model, which
matches Kafka's per-store observedStreamTime):

- Each side keeps its own stream time st_S = max event time of ITS
  records seen so far (per partition; here per bucket — see below).
- A buffered record of side S is alive iff ts >= st_S - (before+after)
  ("a record at timestamp t is no more joined when
  stream time - length_of_window > t", WindowedJoin.scala:15-16).
- An arriving record (side S, key k, ts t) joins every alive buffered
  record o of the OTHER side with the same key and
  t - before <= o.ts <= t + after (bounds from the LEFT's
  perspective; an arriving RIGHT record mirrors them). Its own
  lateness never disqualifies it — only the partner's store expiry
  does (the t=8 case above).
- The arriving record is then stored iff itself alive w.r.t. its own
  stream time (Kafka skips puts into expired segments).

Stream time is per (side, bucket) where bucket = pmod(xxhash64(key),
n_buckets) — exactly Kafka's model, where stream time is per PARTITION
and which keys share a partition is an implementation detail. With
n_buckets=1 this reproduces the reference's single-partition
TopologyTestDriver behavior bit-for-bit (the oracle-checked contract
entry runs that shape; at scale, n_buckets = the topic's partition
count).

Throughput note: this operator exists for Kafka-exact late-record
semantics; the Spark-watermark join (operators/joins.py J1/J2,
streaming/windows.py) remains the throughput path when global
watermark semantics are acceptable.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import LongType, StringType, StructField, StructType

from kafka_streams_app_spark.streaming._pdnorm import pykey, pynative
from kafka_streams_app_spark.streaming.replay import run_stateful

SIDE_L, SIDE_R = "l", "r"


class _PerTopicTimeJoin(StatefulProcessor):
    """One group = one bucket (Kafka partition analogue). State:
    per-side stream time + per-side window stores keyed (key, seq).

    The per-record loop is deliberate: per-topic stream time makes
    every record's join set depend on the interleaved arrival prefix,
    so there is no batch-wide vectorization that preserves the
    semantics; buffers are bounded by the window retention, exactly
    like Kafka's window stores."""

    def __init__(
        self,
        left_cols: list[str],
        right_cols: list[str],
        before: int,
        after: int,
        key_type,
        buf_l_schema: StructType,
        buf_r_schema: StructType,
        bufkey_schema: StructType,
        out_columns: list[str],
    ) -> None:
        self.left_cols = left_cols
        self.right_cols = right_cols
        self.before = before
        self.after = after
        self.retention = before + after
        self.key_type = key_type
        self.buf_l_schema = buf_l_schema
        self.buf_r_schema = buf_r_schema
        self.bufkey_schema = bufkey_schema
        self.out_columns = out_columns

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.st = handle.getValueState(
            "st",
            StructType([StructField("st_l", LongType()),
                        StructField("st_r", LongType())]),
        )
        self.buf_l = handle.getMapState("buf_l", self.bufkey_schema,
                                        self.buf_l_schema)
        self.buf_r = handle.getMapState("buf_r", self.bufkey_schema,
                                        self.buf_r_schema)

    @staticmethod
    def _load(buf) -> dict:
        """Pre-batch store snapshot: {key: [(seq, ts, payload...)]}.
        Bounded by window retention (expired entries are physically
        removed at every batch end)."""
        snap: dict = {}
        for k, v in buf.iterator():
            snap.setdefault(k[0], []).append((k[1],) + tuple(v))
        return snap

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = (
            pd.concat(list(rows))
            .sort_values("seq", kind="stable")
            .reset_index(drop=True)
        )
        st_row = self.st.get() if self.st.exists() else None
        st = {SIDE_L: st_row[0] if st_row else None,
              SIDE_R: st_row[1] if st_row else None}
        bufs = {SIDE_L: self._load(self.buf_l), SIDE_R: self._load(self.buf_r)}
        touched: dict = {SIDE_L: {}, SIDE_R: {}}  # (key, seq) -> row | None
        n_l, n_r = len(self.left_cols), len(self.right_cols)
        out: list[tuple] = []

        for rec in pdf.to_dict("records"):
            side = rec["side"]
            k = pynative(rec["key"])
            ts = pynative(rec["ts"])
            seq = pynative(rec["seq"])
            pay = pykey(
                rec[c] for c in
                (self.left_cols if side == SIDE_L else self.right_cols)
            )
            st[side] = ts if st[side] is None else max(st[side], ts)
            other = SIDE_R if side == SIDE_L else SIDE_L
            floor_other = (
                None if st[other] is None else st[other] - self.retention
            )
            lo, hi = (
                (ts - self.before, ts + self.after) if side == SIDE_L
                else (ts - self.after, ts + self.before)
            )
            for oseq, ots, *opay in bufs[other].get(k, ()):
                if floor_other is not None and ots < floor_other:
                    continue  # expired from the partner's store
                if lo <= ots <= hi:
                    if side == SIDE_L:
                        out.append((k,) + pay + tuple(opay)
                                   + (ts, ots, seq, oseq))
                    else:
                        out.append((k,) + tuple(opay) + pay
                                   + (ots, ts, oseq, seq))
            # store the arrival iff its own segment is not expired
            if ts >= st[side] - self.retention:
                bufs[side].setdefault(k, []).append((seq, ts) + pay)
                touched[side][(k, seq)] = (ts,) + pay

        # state write-back: evict by final stream time, upsert arrivals
        for side, buf_state in ((SIDE_L, self.buf_l), (SIDE_R, self.buf_r)):
            floor = None if st[side] is None else st[side] - self.retention
            for k, entries in bufs[side].items():
                for oseq, ots, *_ in entries:
                    if floor is not None and ots < floor:
                        if (k, oseq) in touched[side]:
                            touched[side].pop((k, oseq))
                        else:
                            buf_state.removeKey((k, oseq))
            for (k, seq), row in touched[side].items():
                buf_state.updateValue((k, seq), row)
        self.st.update((st[SIDE_L], st[SIDE_R]))
        if out:
            yield pd.DataFrame(out, columns=self.out_columns, dtype=object)

    def close(self) -> None:
        pass


def _plan(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    ts: str,
    seq: str,
    left_payload: list[str],
    right_payload: list[str],
    before_s: int,
    after_s: int,
    n_buckets: int,
    bucket_fn=None,
):
    l_schema, r_schema = left.schema, right.schema
    if not isinstance(l_schema[ts].dataType, LongType):
        raise TypeError("per-topic-time join needs an integral ts column "
                        "(seconds/micros as long)")
    l_cols = [f"l_{c}" for c in left_payload]
    r_cols = [f"r_{c}" for c in right_payload]

    def tag(df, side, own, own_names, other_names, other_schema, other_payload):
        return df.na.drop(subset=[key]).select(
            F.col(key).alias("key"),
            F.lit(side).alias("side"),
            F.col(ts).alias("ts"),
            F.col(seq).alias("seq"),
            *[F.col(c).alias(n) for c, n in zip(own, own_names)],
            *[F.lit(None).cast(other_schema[c].dataType).alias(n)
              for c, n in zip(other_payload, other_names)],
        )

    unioned = tag(left, SIDE_L, left_payload, l_cols, r_cols,
                  r_schema, right_payload).unionByName(
        tag(right, SIDE_R, right_payload, r_cols, l_cols,
            l_schema, left_payload).select(
            "key", "side", "ts", "seq", *l_cols, *r_cols
        )
    )
    # bucket = Kafka partition analogue. Default: xxhash64 mod n (a
    # producer DefaultPartitioner stand-in). `bucket_fn(key_col)` lets
    # the caller supply the topic's actual partitioner — Kafka's
    # key->partition map is producer-chosen, not engine-fixed — and is
    # what makes the multi-bucket oracle entry replayable in DuckDB
    # (xxhash64 has no DuckDB twin; `key % n` does).
    to_bucket = bucket_fn or (
        lambda c: F.pmod(F.xxhash64(c), F.lit(n_buckets))
    )
    unioned = unioned.withColumn(
        "_wjk_bucket", to_bucket(F.col("key")).cast("int")
    )
    key_type = l_schema[key].dataType
    bufkey_schema = StructType([
        StructField("key", key_type), StructField("seq", LongType()),
    ])
    buf_l_schema = StructType(
        [StructField("ts", LongType())]
        + [StructField(c, l_schema[p].dataType, True)
           for c, p in zip(l_cols, left_payload)]
    )
    buf_r_schema = StructType(
        [StructField("ts", LongType())]
        + [StructField(c, r_schema[p].dataType, True)
           for c, p in zip(r_cols, right_payload)]
    )
    out_schema = StructType(
        [StructField("key", key_type, True)]
        + [StructField(c, l_schema[p].dataType, True)
           for c, p in zip(l_cols, left_payload)]
        + [StructField(c, r_schema[p].dataType, True)
           for c, p in zip(r_cols, right_payload)]
        + [StructField("l_ts", LongType(), True),
           StructField("r_ts", LongType(), True),
           StructField("l_seq", LongType(), True),
           StructField("r_seq", LongType(), True)]
    )
    proc = _PerTopicTimeJoin(
        l_cols, r_cols, before_s, after_s, key_type,
        buf_l_schema, buf_r_schema, bufkey_schema,
        [f.name for f in out_schema.fields],
    )
    return unioned, proc, out_schema


def windowed_join_per_topic_time(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    ts: str,
    seq: str,
    left_payload: list[str],
    right_payload: list[str],
    before_s: int,
    after_s: int,
    n_buckets: int = 1,
    bucket_fn=None,
) -> DataFrame:
    """Per-topic-stream-time windowed inner join over arrival order
    `seq`; state = two window stores + per-side stream time per bucket.
    Streaming inputs carry that state across micro-batches (TWS); batch
    inputs replay it per bucket (streaming/replay.py:run_stateful)."""
    unioned, proc, out_schema = _plan(
        left, right, key=key, ts=ts, seq=seq, left_payload=left_payload,
        right_payload=right_payload, before_s=before_s, after_s=after_s,
        n_buckets=n_buckets, bucket_fn=bucket_fn,
    )
    return run_stateful(unioned, ["_wjk_bucket"], proc, out_schema)
