"""Decompose the s_fk_join_* pipeline wall at sf0.1 (r16 opt round).

Splits the entry into its sequential parts, timing each:
  1. stage 1: left ktable changelog -> parquet intermediate
  2. stage 2: FK join TWS query -> counting foreachBatch sink
     (variants: real processor | noop processor)
  3. latest_per_key reduction over the materialized changelog

Usage: python tools/fk_decompose.py [inner|left] [n_buckets] [compact]
  `compact` runs stage 2 with compact_rights=True — the declared
  s_fk_* entries' mode (only the final right row per fk per
  micro-batch fans out).
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.operators import ktable
from kafka_streams_app_spark.sources.catalog import load_stream, load_table
from kafka_streams_app_spark.streaming.fk_join import (
    fk_instructions,
    fk_join_changelog,
)
from kafka_streams_app_spark.streaming.harness import stream_shuffle_partitions
from kafka_streams_app_spark.streaming.ktable import ktable_changelog

SF = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    how = sys.argv[1] if len(sys.argv) > 1 else "inner"
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    compact = len(sys.argv) > 3 and sys.argv[3] == "compact"
    spark = get_spark(app_name="fk-decompose")
    spark.sparkContext.setLogLevel("ERROR")

    left = load_stream(spark, SF, "events").select(
        F.col("user_id").alias("pk"), F.col("event_type").alias("fk"),
        F.col("value"), F.unix_micros("ts").alias("seq"),
    )
    right = load_stream(spark, SF, "events").select(
        F.col("event_type").alias("rk"), F.col("value").alias("rvalue"),
        F.unix_micros("ts").alias("seq"),
    )

    changelog = ktable_changelog(
        left, ["pk"], "seq", ["fk", "value"], n_buckets=n_buckets
    )
    inter = tempfile.mkdtemp(prefix="fkdec_inter_")
    ckpt = tempfile.mkdtemp(prefix="fkdec_ckpt_")
    t0 = time.monotonic()
    with stream_shuffle_partitions(spark):
        q1 = (
            changelog.writeStream.format("parquet")
            .option("path", inter).option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q1.awaitTermination()
    t_stage1 = time.monotonic() - t0
    n_inter = spark.read.parquet(inter).count()

    def stage2(out_dir: str | None) -> float:
        inter_src = spark.readStream.schema(changelog.schema).parquet(inter)
        instr = fk_instructions(inter_src, "pk", "fk", ["fk", "value"], "seq")
        join = fk_join_changelog(
            instr, right, right_key="rk", right_payload=["rvalue"],
            right_seq="seq", right_tombstone=None,
            left_value_cols=["value"], how=how, n_buckets=n_buckets,
            compact_rights=compact,
        )
        ck2 = tempfile.mkdtemp(prefix="fkdec_ck2_")
        counts = {"rows": 0}

        def _write(bdf, bid):
            if out_dir is None:
                counts["rows"] += bdf.count()
            else:
                bdf.write.mode("append").parquet(out_dir)

        t0 = time.monotonic()
        with stream_shuffle_partitions(spark):
            q = (
                join.writeStream.foreachBatch(_write)
                .outputMode("update")
                .option("checkpointLocation", ck2)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        el = time.monotonic() - t0
        shutil.rmtree(ck2, ignore_errors=True)
        print(f"  stage2 rows counted: {counts['rows']}")
        return el

    t_stage2_count = stage2(None)
    out_dir = tempfile.mkdtemp(prefix="fkdec_out_")
    t_stage2_parquet = stage2(out_dir)

    t0 = time.monotonic()
    table = spark.read.parquet(out_dir)
    n_out = table.count()
    snap = ktable.latest_per_key(
        table, ["pk"], ["_seq", "_minor"],
        payload=["action", "value", "r_rvalue"],
    )
    n_snap = (
        snap.filter(F.col("action") == "upsert")
        .select("pk", "value", "r_rvalue")
    )
    n_snap.write.format("noop").mode("overwrite").save()
    t_reduce = time.monotonic() - t0

    print(
        f"how={how} n_buckets={n_buckets} inter_rows={n_inter} "
        f"out_rows={n_out}\n"
        f"stage1={t_stage1:.2f}s stage2_count={t_stage2_count:.2f}s "
        f"stage2_parquet={t_stage2_parquet:.2f}s reduce={t_reduce:.2f}s"
    )
    shutil.rmtree(inter, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(out_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
