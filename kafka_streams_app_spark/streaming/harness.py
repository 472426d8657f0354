"""Deterministic micro-batch replay harness — the Spark analogue of the
reference's TopologyTestDriver
(/root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:27-29,551-561).

pipe() writes one parquet file per call into a staging dir watched by a
file-source streaming query, then blocks until Spark has processed it
(processAllAvailable, which also runs the extra no-data batch that a
watermark advance schedules — that is where append-mode windows are
emitted, mirroring Kafka's "emit when stream time passes window end").

Outputs land in a memory sink; drain() returns only the rows emitted
since the previous drain, so a test can assert per-pipe emissions the
way the reference reads its output topic between pipeInput calls.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid
from contextlib import contextmanager

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F


# spark.sql.shuffle.partitions inside stream_shuffle_partitions
STREAM_PARTITIONS = 8


def has_parquet(path: str) -> bool:
    """Whether directory `path` holds a parquet file a reader would see
    (hidden `.`/`_` names are skipped, as Spark's reader skips them)."""
    return os.path.isdir(path) and any(
        f.endswith(".parquet") and not f.startswith((".", "_"))
        for f in os.listdir(path))


def _drop_bid(r: Row) -> Row:
    d = r.asDict()
    d.pop("_bid", None)
    return Row(**d)


class MicroBatchReplay:
    """Replay timestamped record sequences through a streaming query.

    build: fn(streaming DataFrame) -> output DataFrame.
    output_mode: append | update | complete.
    """

    def __init__(
        self,
        spark: SparkSession,
        schema: str,
        build,
        output_mode: str = "append",
        sink: str = "memory",
    ) -> None:
        self.spark = spark
        self.schema = schema
        self.name = f"replay_{uuid.uuid4().hex[:12]}"
        self._staging = tempfile.mkdtemp(prefix=f"{self.name}_src_")
        self._checkpoint = tempfile.mkdtemp(prefix=f"{self.name}_ckpt_")
        self._drained = 0
        self._complete = output_mode == "complete"
        self._build = build
        self._output_mode = output_mode
        self._sink = sink
        self._out_dir = None
        self._seen_bid = -1
        if sink == "parquet":
            self._out_dir = tempfile.mkdtemp(prefix=f"{self.name}_out_")
        self.query = self._start()

    def _start(self):
        src = (
            self.spark.readStream.schema(self.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(self._staging)
        )
        out = self._build(src)
        self._out_schema = out.schema
        if self._sink == "parquet":
            # foreachBatch-parquet: the FAULT-TOLERANT sink — unlike the
            # memory sink it supports checkpoint recovery (restart()),
            # works in every output mode, and is written by executors.
            # Each batch's rows land tagged with the batch id so drain()
            # can return only new emissions across restarts.
            out_dir = self._out_dir

            def _write(bdf, bid):
                bdf.withColumn("_bid", F.lit(bid)).write.mode(
                    "append"
                ).parquet(out_dir)

            return (
                out.writeStream.foreachBatch(_write)
                .outputMode(self._output_mode)
                .option("checkpointLocation", self._checkpoint)
                .start()
            )
        return (
            out.writeStream.format("memory")
            .queryName(self.name)
            .outputMode(self._output_mode)
            .option("checkpointLocation", self._checkpoint)
            .start()
        )

    def restart(self) -> None:
        """Kill the query and resume from the SAME checkpoint + source
        — the crash-recovery path (requires sink="parquet": the memory
        sink refuses checkpoint recovery outside complete mode, so a
        memory-sink replay would die at start() with a confusing
        AnalysisException rather than resume). Operator state
        (aggregates, dedup sets, TWS/window stores) must come back from
        the checkpoint, and the file source's committed offsets come
        back with it, so already-processed files are never re-read
        (no double counting, no double emission)."""
        if self._sink != "parquet":
            raise RuntimeError(
                "restart() needs MicroBatchReplay(sink='parquet') — the "
                "memory sink does not support checkpoint recovery"
            )
        self.query.stop()
        self.query = self._start()

    def pipe(self, rows: list[tuple] | list[Row]) -> None:
        """Deliver one micro-batch (one parquet file) and process it."""
        df = self.spark.createDataFrame(rows, self.schema)
        df.coalesce(1).write.mode("append").parquet(self._staging)
        self.query.processAllAvailable()

    def table(self) -> DataFrame:
        if self._sink == "parquet":
            if not has_parquet(self._out_dir):
                # no batch has emitted a row yet: Spark cannot infer a
                # schema from an empty directory
                return self.spark.createDataFrame([], self._out_schema)
            df = self.spark.read.parquet(self._out_dir)
            if self._complete:
                # Each batch appends its FULL accumulated snapshot
                # (tagged _bid); only the latest one is "the table" —
                # mirror drain()'s max-_bid filter or complete-mode
                # snapshots would silently concatenate.
                mx = df.agg(F.max("_bid")).collect()[0][0]
                df = df.filter(F.col("_bid") == F.lit(mx))
            return df.drop("_bid")
        return self.spark.table(self.name)

    def drain(self) -> list[Row]:
        """Rows emitted since the last drain (all rows in complete mode)."""
        if self._sink == "parquet":
            if not has_parquet(self._out_dir):
                return []  # no batch has emitted a row yet
            rows = self.spark.read.parquet(self._out_dir).collect()
            if self._complete:
                mx = max((r["_bid"] for r in rows), default=-1)
                return [_drop_bid(r) for r in rows if r["_bid"] == mx]
            new = [_drop_bid(r) for r in rows if r["_bid"] > self._seen_bid]
            self._seen_bid = max(
                (r["_bid"] for r in rows), default=self._seen_bid
            )
            return new
        rows = self.table().collect()
        if self._complete:
            return rows
        new = rows[self._drained:]
        self._drained = len(rows)
        return new

    def stop(self) -> None:
        self.query.stop()
        shutil.rmtree(self._staging, ignore_errors=True)
        shutil.rmtree(self._checkpoint, ignore_errors=True)
        if self._out_dir:
            shutil.rmtree(self._out_dir, ignore_errors=True)

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
    spark: SparkSession, source_df_build, sink_name: str, output_mode: str = "append"
) -> DataFrame:
    """Run a streaming query over already-materialized input with
    Trigger.AvailableNow and return the result once finished.

    Used to evaluate a streaming plan to completion over a static
    dataset — the batch-equivalence path the correctness oracle checks.
    The query runs at STREAM_PARTITIONS shuffle partitions
    (stream_shuffle_partitions); the session's own setting is back in
    place when this returns.

    Sink selection (SPARK_GRAFT_STREAM_SINK env, default "memory"):

    - "memory": the original path — results accumulate in a driver-heap
      memory-sink table. Right for tests and sf0.01 gates (tiny results,
      zero I/O), but every table lives for the session and the big
      streaming entries' changelogs are driver-resident (the r9/r11
      sf0.1 gate OOM: one long-lived session accumulating every entry's
      sink plus a 1.5 GiB FK changelog needed a 56 GiB driver).
    - "parquet": foreachBatch appends each micro-batch to a temp parquet
      dir — written BY THE EXECUTORS, read back as a distributed scan,
      so the driver never holds the result regardless of SF. Batch
      semantics match the memory sink exactly: append/update modes
      append each batch's emitted rows; complete mode overwrites with
      the final state. The big-SF gate runbook sets this (paired with
      GATE_COMPARE=stream the whole verification path is driver-flat).
    """
    sink = os.environ.get("SPARK_GRAFT_STREAM_SINK", "memory")
    checkpoint = tempfile.mkdtemp(prefix=f"{sink_name}_ckpt_")
    if sink == "parquet":
        out_dir = tempfile.mkdtemp(prefix=f"{sink_name}_out_")
        wrote = {"any": False}
        write_mode = "overwrite" if output_mode == "complete" else "append"

        def _write_batch(bdf: DataFrame, _bid: int) -> None:
            bdf.write.mode(write_mode).parquet(out_dir)
            wrote["any"] = True

        with stream_shuffle_partitions(spark):
            q = (
                source_df_build.writeStream.foreachBatch(_write_batch)
                .outputMode(output_mode)
                .option("checkpointLocation", checkpoint)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        shutil.rmtree(checkpoint, ignore_errors=True)
        if not wrote["any"]:
            return spark.createDataFrame([], source_df_build.schema)
        return spark.read.parquet(out_dir)
    with stream_shuffle_partitions(spark):
        q = (
            source_df_build.writeStream.format("memory")
            .queryName(sink_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    shutil.rmtree(checkpoint, ignore_errors=True)
    return spark.table(sink_name)
