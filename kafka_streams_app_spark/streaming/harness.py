"""Deterministic micro-batch replay harness — the Spark analogue of the
reference's TopologyTestDriver
(/root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:27-29,551-561).

pipe() writes one parquet file per call into a staging dir watched by a
file-source streaming query, then blocks until Spark has processed it
(processAllAvailable, which also runs the extra no-data batch that a
watermark advance schedules — that is where append-mode windows are
emitted, mirroring Kafka's "emit when stream time passes window end").

Every query here, replayed or run with Trigger.AvailableNow, ends in
one result sink, KeptBatches: each micro-batch is kept as an eager
local checkpoint in Spark's block manager, keyed by batch id. A batch
that Spark runs again replaces its entry, so a restart never doubles
rows. drain() returns only the rows of batches newer than the last one
drained, so a test can assert per-pipe emissions the way the reference
reads its output topic between pipeInput calls.
"""

from __future__ import annotations

import functools
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.types import StructType


# spark.sql.shuffle.partitions inside stream_shuffle_partitions
STREAM_PARTITIONS = 8


def has_parquet(path: str) -> bool:
    """Whether directory `path` holds a parquet file a reader would see
    (hidden `.`/`_` names are skipped, as Spark's reader skips them)."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") and not f.startswith((".", "_"))
        for f in os.listdir(path))


class KeptBatches:
    """The harness's one result sink: a foreachBatch writer that keeps
    each micro-batch as an eager local checkpoint, keyed by batch id,
    and a reader over what it kept.

    A local checkpoint's blocks live in the executors' block managers at
    MEMORY_AND_DISK, so they spill to disk instead of being dropped and
    the driver holds none of the rows. No table is registered in the
    session and no file is committed. A batch that Spark runs again
    after a restart replaces its own entry, so a recovered query's
    output holds each row once. In complete mode only the newest batch,
    the whole result table, is kept.
    """

    def __init__(self, spark: SparkSession, schema: StructType, complete: bool) -> None:
        self.spark = spark
        self.schema = schema
        self.complete = complete
        self.batches: dict[int, DataFrame] = {}
        self._drained = -1

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        kept = batch_df.localCheckpoint(eager=True)
        if self.complete:
            self.batches = {batch_id: kept}
        else:
            self.batches[batch_id] = kept

    def _union(self, after: int) -> DataFrame:
        dfs = [self.batches[b] for b in sorted(self.batches) if b > after]
        if not dfs:
            return self.spark.createDataFrame([], self.schema)
        return functools.reduce(DataFrame.union, dfs)

    def table(self) -> DataFrame:
        """Every kept row, in batch-id order, then partition order."""
        return self._union(-1)

    def drain(self) -> list[Row]:
        """Rows of the batches newer than the last one drained (all rows
        in complete mode)."""
        if self.complete:
            return self.table().collect()
        after, self._drained = self._drained, max(self.batches, default=self._drained)
        return self._union(after).collect()


class MicroBatchReplay:
    """Replay timestamped record sequences through a streaming query
    whose output is kept by `KeptBatches`.

    build: fn(streaming DataFrame) -> output DataFrame.
    output_mode: append | update | complete.

    restart() resumes from the same checkpoint in every output mode.
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: str,
        build,
        output_mode: str = "append",
    ) -> None:
        self.spark = spark
        self.schema = schema
        self._staging = tempfile.mkdtemp(prefix="replay_src_")
        self._checkpoint = tempfile.mkdtemp(prefix="replay_ckpt_")
        self._build = build
        self._output_mode = output_mode
        self._kept: KeptBatches | None = None
        self.query = self._start()

    def _start(self):
        src = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self._staging)
        )
        out = self._build(src)
        if self._kept is None:
            self._kept = KeptBatches(
                self.spark, out.schema, self._output_mode == "complete")
        return (
            out.writeStream.foreachBatch(self._kept.write)
            .outputMode(self._output_mode)
            .option("checkpointLocation", self._checkpoint)
            .start()
        )

    def restart(self) -> None:
        """Kill the query and resume from the SAME checkpoint + source
        — the crash-recovery path. Operator state (aggregates, dedup
        sets, TWS/window stores) must come back from the checkpoint,
        and the file source's committed offsets come back with it, so
        already-processed files are never re-read (no double counting,
        no double emission)."""
        self.query.stop()
        self.query = self._start()

    def pipe(self, rows: list[tuple] | list[Row]) -> None:
        """Deliver one micro-batch (one parquet file) and process it."""
        df = self.spark.createDataFrame(rows, self.schema)
        df.coalesce(1).write.mode("append").parquet(self._staging)
        self.query.processAllAvailable()

    def table(self) -> DataFrame:
        return self._kept.table()

    def drain(self) -> list[Row]:
        """Rows emitted since the last drain (all rows in complete mode)."""
        return self._kept.drain()

    def stop(self) -> None:
        self.query.stop()
        self._kept.batches.clear()
        shutil.rmtree(self._staging, ignore_errors=True)
        shutil.rmtree(self._checkpoint, ignore_errors=True)

    def __enter__(self) -> MicroBatchReplay:
        return self

    def __exit__(self, *exc) -> None:
        self.stop()


@contextmanager
def stream_shuffle_partitions(spark: SparkSession):
    """Pin spark.sql.shuffle.partitions to STREAM_PARTITIONS for the
    duration of a (short) streaming-query run, then restore the
    previous value — or unset the conf again if the session had none.

    Every stateful streaming operator commits one state store per
    shuffle partition per micro-batch, and transformWithStateInPandas
    additionally holds a state-server handshake per partition — at
    contract-gate data sizes (sf0.01) that fixed per-partition cost
    dominates the actual work. Since checkpoints go through the
    FileSystem-based manager (engine.RUNTIME_CONF), a small store's
    commit costs a quarter or less of what it did on 4 vCPUs (SCALE.md
    "Per-micro-batch floor"): smaller, but still paid per partition.
    Partitioning never changes results, so short evaluation runs use a
    small count (8); production deployments size it to the cluster as
    usual. The conf is read at query START and pinned into the
    checkpoint, so the restore cannot affect a running query.
    """
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key, None)
    spark.conf.set(key, str(STREAM_PARTITIONS))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, old)


def run_available_now(
    spark: SparkSession, df: DataFrame, output_mode: str = "append"
) -> DataFrame:
    """Run a streaming query over already-materialized input with
    Trigger.AvailableNow and return the result once finished.

    Used to evaluate a streaming plan to completion over a static
    dataset — the batch-equivalence path the correctness oracle checks.
    The query runs at STREAM_PARTITIONS shuffle partitions
    (stream_shuffle_partitions); the session's own setting is back in
    place when this returns. The result is the union of the micro-
    batches `KeptBatches` kept (the last one in complete mode): it
    lives in the executors' block managers, so the driver holds none
    of it at any scale, and it is released with the returned frame.
    """
    kept = KeptBatches(spark, df.schema, output_mode == "complete")
    checkpoint = tempfile.mkdtemp(prefix="available_now_ckpt_")
    with stream_shuffle_partitions(spark):
        q = (
            df.writeStream.foreachBatch(kept.write)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(checkpoint, ignore_errors=True)
    return kept.table()
