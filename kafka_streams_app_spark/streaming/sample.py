"""Streaming fixed-k deterministic sample: the incremental twin of
operators/pipeline.py:stratified_fixed_k — "maintain a uniform k-row
sample of an unbounded stream per stratum, with state bounded at k"
(the reservoir-sampling use case, made deterministic and therefore
oracle-checkable).

Reference parity note: no reference analogue (the reference app is a
Kafka Streams DSL user, Topologies.scala); this is a north-star
training-data-pipeline operator — the eval-slice draw maintained at
ingest instead of by a nightly batch rank.

Instead of the classic randomized reservoir (whose contents depend on
arrival order AND an RNG), membership is the bottom-k of a PURE
FUNCTION of the id: rank = md5("<seed>:<id>"), ties by id — exactly
stratified_fixed_k's total order. Bottom-k of a fixed ranking is a
commutative, idempotent fold, so the FINAL sample set is invariant to
arrival order and micro-batch split, and equals the batch operator's
selection over the same rows — which is what the DuckDB oracle pins.

Emission contract: a CHANGELOG. When a row enters the bottom-k its
(stratum, id, +1) is emitted; when it is displaced, (stratum, id, -1).
The final sample is the net-positive set (sum(op) > 0 per id) — a
row that enters and evicts emits +1 then -1 (net 0); a row that
enters and evicts within ONE micro-batch emits nothing (same net).
sample_rank is NOT part of the changelog: it is a pure function of
the final set (the rank hash is recomputable from the id), so readers
derive it sink-side — see __spark_entry__._q_s_sample_topk.

State & scale: ≤ k (hash, id) pairs per stratum — bounded however
many rows flow; the per-record work is an O(k) merge. Strata are
hash-partitioned across executors (RocksDB-backed under TWS); the
changelog is tiny (each id emits at most 2 rows ever).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_app_spark.streaming.replay import run_stateful

_STATE_SCHEMA = StructType([StructField("members", StringType(), True)])


def rank_hash(id_col: Column, seed: int) -> Column:
    """stratified_fixed_k's 60-bit md5 rank of (seed, id) — the shared
    total order (with the id tiebreak) of batch and stream."""
    return F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(seed), id_col.cast("string"))), 1, 15
        ),
        16, 10,
    ).cast("long")


class _BottomK(StatefulProcessor):
    def __init__(self, strata_col: str, id_col: str, k: int):
        self.strata_col = strata_col
        self.id_col = id_col
        self.k = k

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.state = handle.getValueState("members", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows))
        old: list[tuple[int, int]] = (
            [
                (int(h), int(i))
                for h, i in (
                    x.split(":") for x in self.state.get()[0].split(",") if x
                )
            ]
            if self.state.exists()
            else []
        )
        cand = {
            (int(h), int(i))
            for h, i in zip(pdf["_h"].tolist(), pdf[self.id_col].tolist())
        }
        merged = sorted(set(old) | cand)[: self.k]
        self.state.update(
            (",".join(f"{h}:{i}" for h, i in merged),)
        )
        old_set, new_set = set(old), set(merged)
        out = [
            (key[0], i, 1) for (h, i) in sorted(new_set - old_set)
        ] + [
            (key[0], i, -1) for (h, i) in sorted(old_set - new_set)
        ]
        if out:
            yield pd.DataFrame(
                out, columns=[self.strata_col, self.id_col, "op"]
            )

    def close(self) -> None:
        pass


def _prepared(df: DataFrame, strata_col: str, id_col: str, seed: int) -> DataFrame:
    return df.select(
        strata_col,
        F.col(id_col).cast("long").alias(id_col),
        rank_hash(F.col(id_col), seed).alias("_h"),
        # id_col in the drop subset too: a null id would reach the
        # processor as NaN (long -> pandas float) and int() would kill
        # the whole query instead of skipping the row
    ).na.drop(subset=[strata_col, id_col])


def _out_schema(df: DataFrame, strata_col: str, id_col: str) -> StructType:
    return StructType(
        [
            StructField(strata_col, df.schema[strata_col].dataType, True),
            StructField(id_col, LongType(), True),
            StructField("op", IntegerType(), True),
        ]
    )


def sample_topk(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int = 20,
    seed: int = 0,
) -> DataFrame:
    """Changelog of the per-stratum bottom-k md5-rank sample, over a
    streaming or batch frame (streaming/replay.py:run_stateful)."""
    df = _prepared(df, strata_col, id_col, seed)
    return run_stateful(
        df, [strata_col], _BottomK(strata_col, id_col, k),
        _out_schema(df, strata_col, id_col),
    )
