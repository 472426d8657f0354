"""Structured Streaming runtime (SURVEY.md §7.1 M3-M5).

The reference is a Kafka Streams app: unbounded keyed streams, stream
time driven by event timestamps, per-record emission. Here the same
semantics run as Spark Structured Streaming micro-batches: the
watermark plays stream time, output modes play emit strategies, and
the state store plays RocksDB.

Modules:
- harness: deterministic micro-batch replay (the TopologyTestDriver
  analogue — pipe timestamped batches, drain per-batch outputs).
- windows: watermarked windowed aggregations (W1/W2 grace, W5-W7 emit
  strategies), session windows, streaming dedup, interval joins,
  running sketch and profile cells.
- replay: run_stateful, the one dispatch of every stateful operator
  below — transformWithStateInPandas (TWS) on a streaming input,
  grouped replay of the same processor on a batch input.
- ktable: incremental latest-per-key changelog view with tombstone
  retraction.
- pk_join: incremental KTable-KTable primary-key join.
- fk_join: incremental KTable-KTable foreign-key join with
  re-subscription on FK change.
- stream_table: incremental KStream-KTable join (enrichment at
  arrival).
- windowed_join_ktime: stream-stream windowed join under per-topic
  stream time.
- rolling: incremental trailing-n and trailing-horizon rolling
  averages.
- zscore: incremental running per-key z-score.
- sample: incremental per-stratum bottom-k deterministic sample.
- dedup_candidates: near-dup candidate pairs at ingest, plus
  decontamination against a static corpus.
- sinks: stream writers (S3/S5) + the foreachBatch state mirror that
  backs interactive queries over live state (M5).
"""

# Vectorized TWS input grouping (see _tws_fastpath's docstring): this
# import-time install is what gets the patch into the PYTHON WORKER —
# unpickling any of this package's StatefulProcessors imports this
# package there before the first load_stream call.
from kafka_streams_app_spark.streaming import _tws_fastpath as _twsfp

_twsfp.install()
