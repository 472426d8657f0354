"""Structured Streaming runtime (SURVEY.md §7.1 M3-M5).

The reference is a Kafka Streams app: unbounded keyed streams, stream
time driven by event timestamps, per-record emission. Here the same
semantics run as Spark Structured Streaming micro-batches: the
watermark plays stream time, output modes play emit strategies, and
the state store plays RocksDB.

Modules:
- harness: deterministic micro-batch replay (the TopologyTestDriver
  analogue — pipe timestamped batches, drain per-batch outputs).
- windows: the streaming-only windowed plans (windowed distinct,
  watermark-evicted windowed HLL registers, watermark-horizon dedup,
  the profile monitor). Windowed counts and aggregates (W1-W4 with
  grace), interval joins and sketches are the operators/ builders,
  which take streaming input as they are; output modes play W5-W7.
- replay: run_stateful, the one dispatch of every stateful operator
  below — transformWithStateInPandas (TWS) on a streaming input,
  grouped replay of the same processor on a batch input. The input
  alone picks the path: importing this package makes protobuf, which
  TWS workers need, importable in any process (_ensure_protobuf
  below), whoever built the session.
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

import runpy
import sys
from pathlib import Path


def _ensure_protobuf() -> None:
    """Make google.protobuf importable in THIS process, for the
    transformWithStateInPandas worker protocol (see _vendor/README.md).

    A Python worker imports this package when it unpickles one of its
    StatefulProcessors, and pyspark imports its protobuf state messages
    only after that (lazily, per state call), so the shim reaches every
    TWS worker whoever launched the JVM. Where protobuf is installed it
    is left alone. Otherwise _vendor goes FIRST on sys.path: the
    spark-core jar on a worker's path already yields google.protobuf as
    an empty namespace package, and a cached namespace package shadows
    the vendored regular one, so those cached modules are dropped too.
    """
    try:
        from google.protobuf import descriptor  # noqa: F401
        return
    except ImportError:
        pass
    vendor = Path(__file__).resolve().parents[2] / "_vendor"
    if not vendor.is_dir():
        return
    sys.path.insert(0, str(vendor))
    for name in [m for m in sys.modules if m in ("google", "google.protobuf")
                 or m.startswith("google.protobuf.")]:
        if getattr(sys.modules[name], "__file__", None) is None:
            del sys.modules[name]
    runpy.run_path(str(vendor / "sitecustomize.py"))


_ensure_protobuf()

# Vectorized TWS input grouping (see _tws_fastpath's docstring): this
# import-time install is what gets the patch into the PYTHON WORKER —
# unpickling any of this package's StatefulProcessors imports this
# package there before the first load_stream call.
from kafka_streams_app_spark.streaming import _tws_fastpath as _twsfp  # noqa: E402

_twsfp.install()
