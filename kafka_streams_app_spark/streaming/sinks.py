"""Stream sinks (SURVEY.md §2.1 S3/S5) + the IQ state mirror (M5).

S3 `.to(topic)` — every reference topology ends in
KStream.to(topic, Produced.with(...))
(/root/reference/src/main/java/com/ayoubom/kafka/WordCount.java:58,
 /root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedJoin.scala:54).
Spark-first: a topic is a writeStream target; the serde declaration is
the sink format. `to_topic` routes to kafka/parquet/memory/console.

S5 debug sink — KStream.print (ForeignJoin.scala:31) -> console format.

M5 IQ mirror — the reference serves RocksDB stores over REST
(/root/reference/src/main/java/com/ayoubom/kafka/utils/IQueriesService.java:78-176).
Each store is backed by a changelog topic it restores from
(WordCount.java:56, `Materialized.as`). Here `StoreMirror` keeps the
same split for a streaming aggregation via foreachBatch: the store is an
in-driver snapshot, latest row per key, replaced whole after each
micro-batch; the changelog is a parquet directory the driver appends
each micro-batch's update rows to, read back (latest-per-key,
operators/ktable.latest_per_key) only to restore the snapshot. The view
is a local relation over the snapshot that also carries the snapshot,
so operators/iq.py queries (Q1-Q5) answer LIVE state without a Spark
job: `iq_service.IQService` filters the snapshot with Arrow masks, and
Catalyst filters on the frame fold into a local table scan.
"""

from __future__ import annotations

import os
import shutil
import tempfile
import threading

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import IntegerType, StructField, StructType

from kafka_streams_app_spark.operators import iq
from kafka_streams_app_spark.operators.ktable import latest_per_key
from kafka_streams_app_spark.streaming.harness import has_parquet


def to_topic(
    df: DataFrame,
    topic: str,
    *,
    format: str = "parquet",
    path: str | None = None,
    output_mode: str = "append",
    checkpoint: str | None = None,
    kafka_servers: str | None = None,
    key_expr: str | None = None,
) -> StreamingQuery:
    """S3 — sink a stream to a named topic.

    format='kafka' publishes (key, value-as-json) to a real topic;
    'parquet' treats the topic as a directory table (the batch-test
    analogue); 'memory' registers an in-memory table named `topic`;
    'console' is the S5 debug sink (print(Printed.toSysOut)).
    """
    checkpoint = checkpoint or tempfile.mkdtemp(prefix=f"to_{topic}_ckpt_")
    if format == "kafka":
        key = F.expr(key_expr) if key_expr else F.lit(None).cast("string")
        payload = df.select(
            key.cast("string").alias("key"),
            F.to_json(F.struct(*df.columns)).alias("value"),
        )
        return (
            payload.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", kafka_servers or "localhost:9092")
            .option("topic", topic)
            .option("checkpointLocation", checkpoint)
            .outputMode(output_mode)
            .start()
        )
    w = (
        df.writeStream.format(format)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
    )
    if format == "memory":
        w = w.queryName(topic)
    elif format == "parquet":
        w = w.option("path", path or os.path.join(tempfile.gettempdir(), topic))
    return w.start()


class StoreMirror:
    """M5 — foreachBatch mirror turning a streaming aggregation into a
    continuously-updated queryable store view.

    The split is a Kafka Streams store and its changelog topic:

    - the store is an immutable Arrow snapshot in the driver holding the
      latest row per `key_cols`. Each micro-batch's update rows are merged
      into a copy, later batch wins, and the copy replaces the snapshot in
      one assignment, so a concurrent `view()` sees the store after batch
      n or after batch n+1, never a mix. `view()` wraps the snapshot as a
      local relation and tags the frame with the snapshot it wraps
      (`operators.iq.with_snapshot`). `IQService` answers Q1-Q5 on such a
      frame with Arrow masks over the snapshot, with no JVM call; Catalyst
      filters on the frame (operators/iq.py) fold into a local table scan
      that runs no Spark job. Driver memory is one row per key ever
      emitted: like the changelog, the snapshot keeps a window's keys
      after Spark evicts that window's state;
    - the changelog is a parquet directory at `path`, on the driver's
      filesystem. The update rows of every non-empty micro-batch are
      collected once, as Arrow, and the driver writes them there as one
      file with a `_batch` sequence column before they reach the
      snapshot; there is no second Spark job. It is the durable copy.
      The first `attach()` or `view()` on a path that already holds one
      restores the snapshot from it, latest-per-key over the whole
      changelog (operators/ktable `latest_per_key`); after that only the
      mirrored query updates the snapshot, so rows appended to `path` by
      anything else are not seen.

    At scale the changelog dir would be a compacted table (Delta/Iceberg
    upsert); plain parquet + latest_per_key keeps the same read
    semantics with zero extra dependencies, and a `compact()` call
    rewrites the dir down to one snapshot when the changelog grows.
    """

    def __init__(
        self,
        spark: SparkSession,
        store_name: str,
        key_cols: list[str],
        path: str | None = None,
    ) -> None:
        self.spark = spark
        self.store_name = store_name
        self.key_cols = key_cols
        self.path = path or tempfile.mkdtemp(prefix=f"store_{store_name}_")
        self._lock = threading.Lock()
        self._schema: StructType | None = None
        self._snapshot: pa.Table | None = None

    def attach(self, agg_df: DataFrame, checkpoint: str | None = None) -> StreamingQuery:
        """Start mirroring an UPDATE-mode streaming aggregation."""
        self._restore(agg_df.schema)

        def write_batch(batch_df: DataFrame, batch_id: int) -> None:
            arrow = self._snapshot.schema
            update = batch_df.toArrow().select(arrow.names).cast(arrow)
            if update.num_rows:
                _write_part(self.path, update, batch_id)
                self._snapshot = _upsert(self._snapshot, update, self.key_cols)

        return (
            agg_df.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option(
                "checkpointLocation",
                checkpoint or tempfile.mkdtemp(prefix=f"store_{self.store_name}_ckpt_"),
            )
            .start()
        )

    def view(self) -> DataFrame:
        """Current store contents: the latest value per key, as of the
        last mirrored micro-batch. Columns are `key_cols` first, then the
        aggregation's other columns. The frame carries the snapshot it
        was built from (`operators.iq.snapshot_of`)."""
        self._restore(None)
        snapshot = self._snapshot  # once: a micro-batch may replace it meanwhile
        return iq.with_snapshot(self.spark.createDataFrame(snapshot, self._schema), snapshot)

    def register(self) -> None:
        self.view().createOrReplaceTempView(self.store_name)

    def compact(self) -> None:
        """Rewrite the changelog down to the current snapshot. Call it
        while no micro-batch is being mirrored."""
        self._restore(None)
        base = self.path.rstrip(os.sep)
        tmp, old = base + ".compact", base + ".old"
        shutil.rmtree(tmp, ignore_errors=True)
        _write_part(tmp, self._snapshot, -1)
        os.rename(base, old)
        os.rename(tmp, base)
        shutil.rmtree(old)

    def _restore(self, schema: StructType | None) -> None:
        """Load the snapshot once: latest-per-key over the changelog at
        `path` if it holds one, else an empty store of `schema`. Without
        a schema the changelog's own is read from its files. Either way
        the columns are `key_cols` first, then the rest in `schema`
        order, as `latest_per_key` returns them."""
        with self._lock:
            if self._snapshot is not None:
                return
            table = None
            if schema is None or has_parquet(self.path):
                reader = self.spark.read
                if schema is not None:
                    reader = reader.schema(
                        StructType([*schema, StructField("_batch", IntegerType())]))
                snap = latest_per_key(reader.parquet(self.path), self.key_cols,
                                      order_by=["_batch"]).drop("_batch")
                schema, table = snap.schema, snap.toArrow()
            # nullable, as a parquet read returns it
            order = [*self.key_cols, *(n for n in schema.names if n not in self.key_cols)]
            self._schema = StructType([StructField(n, schema[n].dataType) for n in order])
            arrow = to_arrow_schema(self._schema)
            self._snapshot = (arrow.empty_table() if table is None
                              else table.select(arrow.names).cast(arrow))


def _write_part(directory: str, rows: pa.Table, batch_id: int) -> None:
    """Add `rows` to the changelog in `directory` as one parquet file with
    a `_batch` column, written under a hidden name (which readers skip)
    and renamed into place whole. A micro-batch that Spark runs again
    replaces its own file."""
    rows = rows.append_column("_batch", pa.array(np.full(rows.num_rows, batch_id, np.int32)))
    os.makedirs(directory, exist_ok=True)
    name = f"part-{batch_id:06d}.parquet"
    tmp = os.path.join(directory, "." + name)
    pq.write_table(rows, tmp)
    os.replace(tmp, os.path.join(directory, name))


def _upsert(snapshot: pa.Table, update: pa.Table, keys: list[str]) -> pa.Table:
    """`snapshot` with `update`'s rows merged in: one row per `keys`,
    an update row replacing the snapshot's."""
    both = pa.concat_tables([snapshot, update])
    pos = both.append_column("_pos", pa.array(np.arange(both.num_rows)))
    last = pos.group_by(keys, use_threads=False).aggregate([("_pos", "max")])
    return both.take(last["_pos_max"])
