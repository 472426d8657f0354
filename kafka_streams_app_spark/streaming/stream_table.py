"""Incremental KStream ⋈ KTable join (SURVEY §2.5 J4, incremental).

Reference: stream.join(table, joiner)
(/root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:421-435):
each stream record is enriched with the table value CURRENT AT ITS
ARRIVAL — no window, no retraction; only stream records emit output.
Kafka evaluates both inputs in timestamp order, a table update at
exactly the stream record's timestamp being visible to it.

Spark-first: union-tag the table changelog and the stream, group by
key, and keep one piece of state — the table's latest value. Table
rows update state (tombstone clears); stream rows emit (stream payload
+ current table value). `how='left'` emits (stream, null) when the key
has no table value (KStream.leftJoin); 'inner' drops those records.

The batch twin is operators/joins.py:asof_join (union + last-ignorenulls
window) — same single shuffle on the key, and the same
table-visible-at-equal-ts convention (table sorts before stream at an
equal seq), which is also DuckDB's inclusive ASOF JOIN bound.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import StructField, StructType

from kafka_streams_app_spark.streaming.replay import run_stateful


class _StreamTableJoinProcessor(StatefulProcessor):
    def __init__(
        self,
        stream_cols: list[str],
        table_cols: list[str],
        table_schema: StructType,
        out_columns: list[str],
        how: str,
    ) -> None:
        self.stream_cols = stream_cols
        self.table_cols = table_cols
        self.table_schema = table_schema
        self.out_columns = out_columns
        self.how = how

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.table = handle.getValueState("table", self.table_schema)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows)).sort_values(["seq", "minor"], kind="stable")
        t_present = self.table.exists()
        t_val: tuple = tuple(self.table.get()) if t_present else ()
        t_nulls = (None,) * len(self.table_cols)
        left = self.how == "left"
        out: list[tuple] = []
        for rec in pdf.to_dict("records"):
            if rec["side"] == "t":
                if rec["is_delete"]:
                    t_present, t_val = False, ()
                else:
                    t_present = True
                    t_val = tuple(rec[c] for c in self.table_cols)
            else:  # stream record: emit enriched, never mutate state
                if t_present or left:
                    out.append(
                        key
                        + tuple(rec[c] for c in self.stream_cols)
                        + (t_val if t_present else t_nulls)
                    )
        if t_present:
            self.table.update(t_val)
        else:
            self.table.clear()
        if out:
            yield pd.DataFrame(out, columns=self.out_columns)

    def close(self) -> None:
        pass


def _stream_table_plan(
    stream: DataFrame,
    table_raw: DataFrame,
    *,
    key: str,
    stream_payload: list[str],
    table_payload: list[str],
    seq: str,
    table_tombstone: str | None,
    how: str,
) -> tuple[DataFrame, _StreamTableJoinProcessor, StructType]:
    s_schema, t_schema = stream.schema, table_raw.schema
    tagged_s = stream.select(
        F.col(key),
        F.lit("s").alias("side"),
        *[F.col(c) for c in stream_payload],
        *[F.lit(None).cast(t_schema[c].dataType).alias(c) for c in table_payload],
        F.col(seq).alias("seq"),
        F.lit(1).alias("minor"),  # stream AFTER table at equal seq
        F.lit(False).alias("is_delete"),
    )
    tagged_t = table_raw.select(
        F.col(key),
        F.lit("t").alias("side"),
        *[F.lit(None).cast(s_schema[c].dataType).alias(c) for c in stream_payload],
        *[F.col(c) for c in table_payload],
        F.col(seq).alias("seq"),
        F.lit(0).alias("minor"),
        (F.col(table_tombstone) if table_tombstone else F.lit(False))
        .alias("is_delete"),
    )
    unioned = tagged_s.unionByName(tagged_t)
    table_state = StructType(
        [StructField(c, t_schema[c].dataType, True) for c in table_payload]
    )
    out_schema = StructType(
        [StructField(key, s_schema[key].dataType, True)]
        + [StructField(c, s_schema[c].dataType, True) for c in stream_payload]
        + [StructField(c, t_schema[c].dataType, True) for c in table_payload]
    )
    proc = _StreamTableJoinProcessor(
        stream_payload, table_payload, table_state,
        [f.name for f in out_schema.fields], how,
    )
    return unioned, proc, out_schema


def stream_table_join(
    stream: DataFrame,
    table_raw: DataFrame,
    *,
    key: str,
    stream_payload: list[str],
    table_payload: list[str],
    seq: str = "seq",
    table_tombstone: str | None = None,
    how: str = "inner",
) -> DataFrame:
    """Incremental J4: both inputs streaming (TWS, Append mode — only
    stream rows emit, and never retract) or both batch (grouped replay;
    streaming/replay.py:run_stateful)."""
    unioned, proc, out_schema = _stream_table_plan(
        stream, table_raw, key=key, stream_payload=stream_payload,
        table_payload=table_payload, seq=seq,
        table_tombstone=table_tombstone, how=how,
    )
    return run_stateful(unioned, [key], proc, out_schema, output_mode="Append")

