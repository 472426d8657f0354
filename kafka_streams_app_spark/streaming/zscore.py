"""Incremental running z-score: per-key anomaly flagging against the
moments of everything seen so far.

The streaming twin of operators/analytics.py:zscore_anomalies. The
batch op is two-pass (final moments, then a broadcast-back); a stream
cannot see its final moments, so the incremental semantics are the
Kafka-Streams-aggregate shape the reference's continuous counts follow
(/root/reference/src/main/scala/com/ayoubom/kafka/Topologies.scala —
aggregate state updated per record in arrival order, one evaluation per
input record): each record updates the per-key running
(n, Σx, Σx²) and is judged against the moments INCLUSIVE of itself.

Exactness: all arithmetic is integer. Values enter as micro-units
(u = value cast DECIMAL(30,6) × 10⁶, q = value² cast DECIMAL(30,6) ×
10⁶ — both computed JVM-side by `with_micro_units`, so the
double→decimal rounding is Spark's, bit-identical to the oracle's).
With S1 = Σu, S2 = Σq, U = 10⁶:

    z² = (u·n − S1)² / (U·n·S2 − S1²)        (exact rational)

flag  ⟺  z² ≥ (z_num/z_den)²  ⟺  (u·n−S1)²·z_den² ≥ D·z_num²
score = zsq_e6 = ⌊(u·n−S1)²·10⁶ / D⌋  (D = U·n·S2 − S1² > 0)

— pure integer compares/floor-div on unbounded Python ints, replayed
by the DuckDB oracle in HUGEINT (the same fixed-point idiom as
pipeline.py:bigram_lm_likelihood). Keys with D = 0 (constant history,
n = 1) emit nothing.

State per key: (n, S1, S2) with the sums stored as STRINGS — Python
ints of unbounded width — so state can never silently wrap (S2 grows
as n·v²·10⁶: ~10¹⁷ per 10⁵ rows at v~10³, past int64 by ~10⁷ rows of
hot key). Records are processed in seq order within a micro-batch
(sorted), batches in arrival order — the Kafka Streams contract; the
driver-gate entry feeds one ordered batch so the result equals the
(ts, event_id)-ordered oracle.

Scale: hash-partitioned state, one repartition on the key (identical
to the changelog-topic shuffle), three scalars per key; emission is
O(rows). The per-row Python loop runs inside the Arrow-batched TWS
worker on ints — no per-row serialization boundary.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_app_spark.streaming.replay import run_stateful

_U = 1_000_000


def with_micro_units(df: DataFrame, value_col: str) -> DataFrame:
    """Attach the exact integer micro-unit columns the processor sums:
    zu = value as DECIMAL(30,6) micro-units, zq = value² likewise (the
    square rounded at 6 decimals FIRST, matching the batch op's and the
    oracle's CAST(value*value AS DECIMAL) convention). The processor
    reads both by name; the TWS crossing keeps every column name,
    _-prefixed ones included (streaming/_tws_fastpath.py), as
    streaming/sample.py's processor relies on for its _h column."""
    v = F.col(value_col)
    return df.withColumns({
        "zu": (v.cast("decimal(30,6)") * _U).cast("long"),
        "zq": ((v * v).cast("decimal(30,6)") * _U).cast("long"),
    })


_STATE_SCHEMA = StructType([
    StructField("n", LongType(), True),
    StructField("s1", StringType(), True),
    StructField("s2", StringType(), True),
])


class _RunningZScore(StatefulProcessor):
    def __init__(
        self,
        keys: list[str],
        seq_col: str,
        value_col: str,
        z_num: int,
        z_den: int,
    ) -> None:
        self.keys = keys
        self.seq_col = seq_col
        self.value_col = value_col
        self.zn2 = z_num * z_num
        self.zd2 = z_den * z_den
        self.out_columns = keys + [seq_col, value_col, "n", "zsq_e6"]

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.state = handle.getValueState("moments", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows)).sort_values(self.seq_col, kind="stable")
        if self.state.exists():
            n0, s1s, s2s = self.state.get()
            n, s1, s2 = int(n0), int(s1s), int(s2s)
        else:
            n, s1, s2 = 0, 0, 0
        seqs = pdf[self.seq_col].tolist()
        vals = pdf[self.value_col].tolist()
        us = pdf["zu"].tolist()
        qs = pdf["zq"].tolist()
        out: list[tuple] = []
        for seq, val, u, q in zip(seqs, vals, us, qs):
            u = int(u)
            n += 1
            s1 += u
            s2 += int(q)
            d = _U * n * s2 - s1 * s1
            if d <= 0:
                continue
            num = u * n - s1
            num2 = num * num
            if num2 * self.zd2 >= d * self.zn2:
                out.append(key + (seq, val, n, num2 * _U // d))
        self.state.update((n, str(s1), str(s2)))
        if out:
            yield pd.DataFrame(out, columns=self.out_columns)

    def close(self) -> None:
        pass


def _plan(df: DataFrame, keys, seq_col, value_col, z_num, z_den):
    proc = _RunningZScore(keys, seq_col, value_col, z_num, z_den)
    in_schema = df.schema
    out_schema = StructType(
        [StructField(k, in_schema[k].dataType, True) for k in keys]
        + [
            StructField(seq_col, in_schema[seq_col].dataType, True),
            StructField(value_col, DoubleType(), True),
            StructField("n", LongType(), True),
            StructField("zsq_e6", LongType(), True),
        ]
    )
    return proc, out_schema


def _prepared(df, keys, seq_col, value_col):
    needed = list(dict.fromkeys(keys + [seq_col, value_col, "zu", "zq"]))
    return df.select(*needed).na.drop(subset=keys)


def zscore_running(
    df: DataFrame,
    keys: list[str],
    seq_col: str,
    value_col: str,
    z: tuple[int, int] = (3, 1),
) -> DataFrame:
    """Incremental per-key running z-score over a streaming or batch
    DataFrame (streaming/replay.py:run_stateful) that already carries
    the `with_micro_units` columns. Emits one row per record whose |z|
    vs the inclusive running moments is >= z[0]/z[1], with the exact
    integer score zsq_e6 = floor(z² · 10⁶)."""
    df = _prepared(df, keys, seq_col, value_col)
    proc, out_schema = _plan(df, keys, seq_col, value_col, *z)
    return run_stateful(df, keys, proc, out_schema)
