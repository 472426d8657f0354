"""One dispatch for every stateful streaming operator: run_stateful
picks transformWithStateInPandas (TWS) for a streaming input and
grouped replay for a batch input.

Each operator module (streaming/ktable.py, pk_join.py, fk_join.py,
dedup_candidates.py, rolling.py (trailing-n and trailing-horizon),
zscore.py, sample.py, stream_table.py, windowed_join_ktime.py) builds its
grouping columns, StatefulProcessor and output schema, then ends in
run_stateful. The processors are deterministic in seq order, so the
same state machine serves both inputs unchanged.

Why the batch path exists: a registry entry whose input is a snapshot
(every stateful s_* entry but s_stream_table_join and
s_time_rolling_late) loads the batch table, and on a snapshot a
deterministic recomputation is cheaper than micro-batches: grouped
replay beat TWS in every A/B pair of those entries' sf0.1 gate walls
(CHANGES.md). Grouped applyInArrow runs the processor per grouping
key over the batch frame: groupBy(bucket) shuffles each bucket's full
changelog to one task, the processor runs once per bucket from empty
state, and the emitted changelog is identical to what the incremental
TWS run yields. The path follows the input alone, so a session
decides nothing: TWS workers get protobuf from the package's import
hook (streaming/__init__.py) whoever built the session.

Tests pin the genuinely incremental multi-batch behavior through TWS
via MicroBatchReplay. Scale note: the replay is fully distributed (one
shuffle on the grouping key, same as TWS's repartition), but it holds a
bucket's whole history in one task — fine for snapshot reductions, not
a replacement for incremental state at unbounded retention.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from kafka_streams_app_spark.streaming._pdnorm import arrow_table_to_pandas


class _ValueStateShim:
    """Duck-typed stand-in for StatefulProcessorHandle ValueState."""

    def __init__(self) -> None:
        self._val: tuple | None = None

    def exists(self) -> bool:
        return self._val is not None

    def get(self) -> tuple:
        return self._val  # type: ignore[return-value]

    def update(self, value) -> None:
        self._val = tuple(value)

    def clear(self) -> None:
        self._val = None


class _MapStateShim:
    """Duck-typed stand-in for StatefulProcessorHandle MapState."""

    def __init__(self) -> None:
        self._map: dict[tuple, tuple] = {}

    def exists(self) -> bool:
        return bool(self._map)

    def iterator(self):
        return iter(list(self._map.items()))

    def keys(self):
        return iter(list(self._map.keys()))

    def values(self):
        return iter(list(self._map.values()))

    def containsKey(self, key) -> bool:
        return tuple(key) in self._map

    def getValue(self, key):
        return self._map.get(tuple(key))

    def updateValue(self, key, value) -> None:
        self._map[tuple(key)] = tuple(value)

    def removeKey(self, key) -> None:
        self._map.pop(tuple(key), None)

    def clear(self) -> None:
        self._map.clear()


class _HandleShim:
    """Duck-typed StatefulProcessorHandle: hands out in-memory state."""

    def getValueState(self, name: str, schema, ttlDurationMs=None) -> _ValueStateShim:
        return _ValueStateShim()

    def getMapState(self, name: str, key_schema, value_schema,
                    ttlDurationMs=None) -> _MapStateShim:
        return _MapStateShim()


def grouped_replay(
    df: DataFrame,
    group_cols: list[str],
    processor,
    out_schema: StructType,
) -> DataFrame:
    """Run a StatefulProcessor state machine over a BATCH changelog.

    groupBy(group_cols).applyInArrow: each group's rows arrive as one
    Arrow table and cross into pandas through the same exact crossing
    as the TWS input (_pdnorm.arrow_table_to_pandas); processor.init
    gets fresh in-memory state shims, then handleInputRows replays the
    group's history in seq order — bit-for-bit the changelog the TWS
    incremental operator emits for the same input.
    """
    from pyspark.sql.pandas.serializers import ArrowStreamPandasUDFSerializer
    from pyspark.sql.pandas.types import to_arrow_schema

    # the converter applyInPandas uses, at UTC: from_pandas below reads
    # naive timestamps as UTC, so they round-trip in any session zone
    to_pandas = ArrowStreamPandasUDFSerializer(
        "UTC", False, True, arrow_cast=True
    ).arrow_to_pandas
    arrow_schema = to_arrow_schema(out_schema)

    def run(key: tuple, table: pa.Table) -> pa.Table:
        processor.init(_HandleShim())  # fresh state per key group
        pdf = arrow_table_to_pandas(table, to_pandas)
        outs = list(processor.handleInputRows(
            tuple(k.as_py() for k in key), iter([pdf]), None
        ))
        if not outs:
            return arrow_schema.empty_table()
        return pa.Table.from_pandas(
            pd.concat(outs, ignore_index=True), schema=arrow_schema,
            preserve_index=False,
        )

    return df.groupBy(*group_cols).applyInArrow(run, schema=out_schema)


def _require_rocksdb(spark) -> None:
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )


def run_stateful(
    df: DataFrame,
    group_cols: list[str],
    processor,
    out_schema: StructType,
    output_mode: str = "Update",
) -> DataFrame:
    """Run a StatefulProcessor over df grouped by group_cols.

    A streaming df runs incrementally through transformWithStateInPandas
    on the RocksDB state store (output_mode is its TWS output mode); a
    batch df runs through grouped_replay, which emits the same rows.
    """
    if not df.isStreaming:
        return grouped_replay(df, group_cols, processor, out_schema)
    _require_rocksdb(df.sparkSession)
    return df.groupBy(*group_cols).transformWithStateInPandas(
        statefulProcessor=processor,
        outputStructType=out_schema,
        outputMode=output_mode,
        timeMode="None",
    )
