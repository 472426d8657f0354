"""Profile the watermarked windowed-count append path (r7 verdict #4).

SCALE.md's throughput table shows W1/W5 append-mode at ~346k rows/s vs
~2.8M stateless — an ~8x stateful penalty that bounds every windowed-agg
topology. This tool answers WHERE it goes, with the same isolation
discipline as the r7 FK fix: per-batch progress metrics
(durationMs.addBatch / walCommit / stateOperators commit+update times)
instead of guessed attributions, plus A/B over the two dials Spark
actually exposes for this operator:

- state store provider: HDFSBackedStateStoreProvider (default) vs
  RocksDBStateStoreProvider
- number of state partitions (spark.sql.shuffle.partitions at first
  checkpoint: each state partition is a store instance; commit cost is
  per-store per-batch)

Controls measured in the same run: the identical windowed count as a
BATCH aggregation (shuffle+agg floor, no state machinery) and the
stateless projection rate.

Usage: python tools/windowed_count_profile.py [multiplier]
Prints one JSON line per configuration.
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from pyspark.sql import functions as F

from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.streaming import windows as SW
from stream_throughput import stream_events

SCRATCH = ROOT / ".scratch" / "scale_smoke"

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)
HDFS = (
    "org.apache.spark.sql.execution.streaming.state."
    "HDFSBackedStateStoreProvider"
)


def run_once(spark, events_path: str, provider: str, partitions: int):
    """One AvailableNow replay; returns (wall_s, breakdown dict)."""
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    out = SW.windowed_count_stream(
        stream_events(spark, events_path), "ts", ["event_type"], 10, grace_s=0
    )
    ckpt = tempfile.mkdtemp(prefix="wcprof_ckpt_")
    t0 = time.monotonic()
    q = (
        out.writeStream.format("noop").outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    wall = time.monotonic() - t0
    prog = [p for p in q.recentProgress if p is not None]
    agg: dict = {"n_batches": len(prog)}
    for p in prog:
        for k, v in (p.get("durationMs") or {}).items():
            agg[f"durationMs.{k}"] = agg.get(f"durationMs.{k}", 0) + v
        for op in p.get("stateOperators") or []:
            for k in ("allUpdatesTimeMs", "allRemovalsTimeMs",
                      "commitTimeMs", "numRowsUpdated", "numRowsTotal",
                      "numShufflePartitions"):
                if k in op:
                    agg[f"state.{k}"] = agg.get(f"state.{k}", 0) + op[k]
    shutil.rmtree(ckpt, ignore_errors=True)
    return wall, agg


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    spark = get_spark(app_name="windowed-count-profile")
    spark.sparkContext.setLogLevel("ERROR")
    events_path = str(SCRATCH / f"x{mult}" / "events.parquet")
    if not Path(events_path).exists():
        import scale_smoke
        scale_smoke.build(spark, mult)
    n_rows = spark.read.parquet(events_path).count()

    # controls: batch twin (shuffle+agg floor) and stateless projection
    from kafka_streams_app_spark.operators.aggregations import windowed_count

    ev_batch = spark.read.parquet(events_path)
    from kafka_streams_app_spark.sources.catalog import _normalize_ts
    ev_batch = _normalize_ts(ev_batch, ["ts"])
    for name, df in (
        ("control_batch_windowed_count",
         windowed_count(ev_batch, "ts", ["event_type"], 10)),
        ("control_batch_projection",
         ev_batch.select("event_id", (F.col("value") * 2).alias("v"))),
    ):
        best = float("inf")
        for _ in range(3):
            t0 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.monotonic() - t0)
        print(json.dumps({"config": name, "rows_in": n_rows,
                          "sec": round(best, 2),
                          "rows_per_sec": int(n_rows / best)}))

    configs = [
        ("hdfs_p32", HDFS, 32),
        ("rocksdb_p32", ROCKSDB, 32),
        ("hdfs_p8", HDFS, 8),
        ("rocksdb_p8", ROCKSDB, 8),
        ("hdfs_p64", HDFS, 64),
    ]
    best: dict = {}
    for _ in range(3):  # interleaved best-of-3, same methodology as r7
        for name, prov, parts in configs:
            wall, agg = run_once(spark, events_path, prov, parts)
            if wall < best.get(name, (float("inf"), None))[0]:
                best[name] = (wall, agg)
    for name, prov, parts in configs:
        wall, agg = best[name]
        print(json.dumps({
            "config": name, "rows_in": n_rows, "sec": round(wall, 2),
            "rows_per_sec": int(n_rows / wall), **agg,
        }))


if __name__ == "__main__":
    main()
