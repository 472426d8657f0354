"""Streaming throughput smoke: events/sec through the streaming runtime
at ~1M input events (the reference is a STREAMING app — this measures
the rates its topology shapes sustain on this engine, single node).

Usage: python tools/stream_throughput.py [multiplier]

Replays sf0.1 events x multiplier (the tools/scale_smoke.py replica,
built on first use) through the topology shapes via
Trigger.AvailableNow into a noop sink:

- stateless_project : mapValues-style projection (T2)
- stateless_scrub   : 3-stage regex PII scrub (the heavy stateless op)
- windowed_count    : watermarked tumbling count, append mode (W1/W5)
- windowed_distinct : chained dedup -> windowed count (two stores)
- hll_windowed_registers / cms_cells : bounded-state sketches
                      (registers / d*w cells — state independent of
                      value cardinality)
- ktable_latest_tws : transformWithStateInPandas latest-per-key
                      changelog (S2 incremental — the custom state
                      machine)
  + PK-join, FK-join, rolling/zscore TWS shapes

Prints one JSON line per shape: input rows, wall seconds, rows/sec.
The reference publishes no throughput numbers (BASELINE.md) — these
are the engine's own recorded rates; rerun per-round to catch
regressions in the streaming path.
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.functions.text import scrub_pii
from kafka_streams_app_spark.operators import aggregations as agg
from kafka_streams_app_spark.operators import sketches
from kafka_streams_app_spark.sources.catalog import _normalize_ts
from kafka_streams_app_spark.streaming import windows as SW
from kafka_streams_app_spark.streaming.ktable import ktable_changelog
from kafka_streams_app_spark.streaming.pk_join import pk_join
from tools.scale_smoke import BASE, SCRATCH, build


def stream_events(spark: SparkSession, events_path: str) -> DataFrame:
    """File-source stream over a (possibly multi-file) events parquet
    dir; same dtype-adaptive ts normalization as sources.catalog."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    schema = spark.read.parquet(events_path).schema
    df = spark.readStream.schema(schema).parquet(events_path)
    return _normalize_ts(df, ["ts"])


def run_noop(out_df: DataFrame, output_mode: str) -> float:
    ckpt = tempfile.mkdtemp(prefix="tput_ckpt_")
    t0 = time.monotonic()
    q = (
        out_df.writeStream.format("noop")
        .outputMode(output_mode)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    wall = time.monotonic() - t0
    shutil.rmtree(ckpt, ignore_errors=True)
    return wall


def run_fk_pipeline(
    spark: SparkSession, events_path: str, n_buckets: int = 128
) -> float:
    """J7/J8 incremental FK join, FULL pipeline wall time: the left
    KTable changelog -> fk instructions -> groupBy(fk) join processor,
    one streaming query to a noop sink. Mirrors the
    s_fk_join_incremental contract shape (left = latest event per user,
    FK = event_type; right = latest event per type).

    n_buckets: the bucket count of BOTH stateful stages
    (ktable._LatestPerKeyBucketed / fk_join._FKJoinProcessorBucketed)."""
    from kafka_streams_app_spark.streaming.fk_join import (
        fk_instructions,
        fk_join_changelog,
    )

    # FK = a ~1000-cardinality derived key (user_id % 997), the realistic
    # N:1 shape. The contract entry's event_type FK (5 distinct values)
    # is fine at sf0.01 but at 1M rows it concentrates the join state
    # machine on 5 hot groups — a deliberate-skew scenario, not a
    # throughput baseline.
    fk_expr = F.concat(F.lit("t"), (F.col("user_id") % 997).cast("string"))
    left = stream_events(spark, events_path).select(
        F.col("user_id").alias("pk"), fk_expr.alias("fk"),
        F.col("value"), F.unix_micros("ts").alias("seq"),
    )
    right = stream_events(spark, events_path).select(
        fk_expr.alias("rk"), F.col("value").alias("rvalue"),
        F.unix_micros("ts").alias("seq"),
    )
    changelog = ktable_changelog(
        left, ["pk"], "seq", ["fk", "value"], n_buckets=n_buckets
    )
    instr = fk_instructions(changelog, "pk", "fk", ["fk", "value"], "seq")
    join = fk_join_changelog(
        instr, right, right_key="rk", right_payload=["rvalue"],
        right_seq="seq", right_tombstone=None,
        left_value_cols=["value"], how="inner", n_buckets=n_buckets,
    )
    return run_noop(join, "update")


def main() -> None:
    docs_only = "--docs" in sys.argv
    argv = [a for a in sys.argv[1:] if a != "--docs"]
    mult = int(argv[0]) if argv else 10
    spark = get_spark(app_name="stream-throughput")
    spark.sparkContext.setLogLevel("ERROR")

    events_path = build(spark, BASE, "events", mult) + "/events.parquet"
    n_rows = spark.read.parquet(events_path).count()

    shapes: list[tuple[str, DataFrame, str]] = []
    ev = stream_events(spark, events_path)
    shapes.append((
        "stateless_project",
        ev.select("event_id", "user_id", (F.col("value") * F.col("value")).alias("sq")),
        "append",
    ))
    ev2 = stream_events(spark, events_path)
    shapes.append((
        "stateless_scrub",
        ev2.select("event_id", scrub_pii(F.col("props")).alias("p")),
        "append",
    ))
    ev3 = stream_events(spark, events_path)
    shapes.append((
        "windowed_count",
        agg.windowed_count(ev3, "ts", ["event_type"], 10),
        "append",
    ))
    ev3b = stream_events(spark, events_path)
    shapes.append((
        # two chained stateful operators (event-time-window dedup ->
        # windowed count): measures the second state store's cost over
        # the plain windowed count above
        "windowed_distinct",
        SW.windowed_distinct_count_stream(
            ev3b, "ts", ["event_type"], "user_id", 10, grace_s=0
        ),
        "append",
    ))
    ev3c = stream_events(spark, events_path)
    shapes.append((
        # bounded-state sketch twin of windowed_distinct: registers per
        # (1h window, key), watermark-evicted — state <= open-windows x
        # keys x 256 rows at any user cardinality
        "hll_windowed_registers",
        SW.hll_windowed_register_stream(
            ev3c, "ts", ["event_type"], "user_id", 3600, b=8, grace_s=0
        ),
        "append",
    ))
    ev3d = stream_events(spark, events_path)
    shapes.append((
        # running Count-Min cells: state exactly d*w = 1024 rows
        "cms_cells",
        sketches.cms_sketch(ev3d, "user_id", d=4, w=256),
        "update",
    ))
    # 128 buckets = 4x cores on the 32-core host — see SCALE.md and
    # streaming/ktable.py:_LatestPerKeyBucketed.
    ev4 = stream_events(spark, events_path).select(
        "user_id", "event_id", "value", "ts"
    )
    shapes.append((
        "ktable_latest_tws",
        ktable_changelog(
            ev4, ["user_id"], "event_id", ["event_id", "value"],
            n_buckets=128,
        ),
        "append",
    ))
    # J5 incremental: two-sided PK-join state machine (the heavier
    # TWS topology — union-tagged changelogs, per-key (left,right)
    # state, 128 buckets). Same view/click split as the
    # s_pk_join_incremental contract entry; rows_in counts the full
    # event stream scanned.
    ev6 = stream_events(spark, events_path)
    pk_left = ev6.filter(F.col("event_type") == "view").select(
        "user_id", F.col("event_id").alias("v_event_id"),
        F.unix_micros("ts").alias("seq"),
    )
    pk_right = ev6.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_event_id"),
        F.unix_micros("ts").alias("seq"),
    )
    shapes.append((
        "pk_join_tws_bucketed",
        pk_join(
            pk_left, pk_right, key="user_id",
            left_payload=["v_event_id"], right_payload=["c_event_id"],
            how="inner", n_buckets=128,
        ),
        "update",
    ))
    # r11 analytics state machines: per-key running moments
    # (3 scalars/key) and the trailing-n ring — the lightest TWS
    # states in the repo; their rates bound what the framework
    # overhead itself allows at this key cardinality.
    from kafka_streams_app_spark.streaming import rolling as SR
    from kafka_streams_app_spark.streaming import zscore as SZ

    ev7 = SZ.with_micro_units(
        stream_events(spark, events_path).select(
            "event_type", "event_id", "value"
        ),
        "value",
    )
    shapes.append((
        "zscore_running_tws",
        SZ.zscore_running(
            ev7, ["event_type"], "event_id", "value", z=(5, 2)
        ),
        "update",
    ))
    ev8 = SZ.with_micro_units(
        stream_events(spark, events_path).select(
            "user_id", "event_id", "value"
        ),
        "value",
    )
    shapes.append((
        "rolling_avg_tws",
        SR.rolling_avg(ev8, ["user_id"], "event_id", "value", n=10),
        "update",
    ))
    ev9 = SZ.with_micro_units(
        stream_events(spark, events_path).select(
            "user_id", "event_id", "value",
            F.unix_seconds(F.col("ts").cast("timestamp")).alias("ts_s"),
        ),
        "value",
    )
    shapes.append((
        # wall-clock frame ring (r12d): state bounded by horizon x
        # per-key rate instead of n
        "rolling_time_avg_tws",
        SR.rolling_time_avg(
            ev9, ["user_id"], "event_id", "ts_s", "value", horizon_s=300
        ),
        "update",
    ))

    # r12d DOCUMENT-stream shapes (separate corpus: x10 disjoint-content
    # docs replica, ~61k docs — work scales with tokens, not rows, so
    # rows/s here is docs/s over full fingerprinting + TWS):
    doc_shapes: list[tuple[str, DataFrame, str, int]] = []
    from kafka_streams_app_spark.streaming import dedup_candidates as DC
    from kafka_streams_app_spark.streaming import sample as SSample

    docs_path = build(spark, BASE, "documents", 10) + "/documents.parquet"
    n_docs = spark.read.parquet(docs_path).count()

    def stream_docs() -> DataFrame:
        schema = spark.read.parquet(docs_path).schema
        return spark.readStream.schema(schema).parquet(docs_path)

    doc_shapes.append((
        # full pipeline: tokenize + winnow + bucketed TWS state
        # (128 buckets; per-batch density picks the blob or the
        # MapState store) + pair emission
        "winnow_candidates_tws_auto",
        DC.winnow_candidates(
            stream_docs(), "text", "doc_id", n_buckets=128
        ),
        "update",
        n_docs,
    ))
    doc_shapes.append((
        # bottom-k membership: k-row state per stratum, O(k) merge
        "sample_topk_tws",
        SSample.sample_topk(
            stream_docs(), "source", "doc_id", k=20, seed=3
        ),
        "update",
        n_docs,
    ))
    doc_best: dict[str, float] = {}
    for _ in range(3):
        for name, out_df, mode, _n in doc_shapes:
            wall = run_noop(out_df, mode)
            doc_best[name] = min(doc_best.get(name, float("inf")), wall)
    for name, _, _, n in doc_shapes:
        wall = doc_best[name]
        print(json.dumps({
            "shape": name, "rows_in": n, "sec": round(wall, 2),
            "rows_per_sec": int(n / wall),
        }))

    # TRICKLE fixture (r14): the same winnow operator fed ~10 docs
    # per micro-batch (60 batches via maxFilesPerTrigger=1 over
    # 60 small files) — the steady-ingest pattern where per-entry
    # MapState updates beat whole-bucket blob rewrites. Rates here
    # are dominated by per-micro-batch framework cost; compare them
    # WITHIN this fixture only.
    trickle_dir = SCRATCH / "docs_trickle"
    if not (trickle_dir / "_built").exists():
        shutil.rmtree(trickle_dir, ignore_errors=True)
        trickle_dir.mkdir(parents=True, exist_ok=True)
        head = (
            spark.read.parquet(docs_path)
            .orderBy("doc_id").limit(600).collect()
        )
        cols = list(head[0].asDict().keys())
        for j in range(0, 600, 10):
            spark.createDataFrame(
                [r.asDict() for r in head[j:j + 10]],
                spark.read.parquet(docs_path).schema,
            ).coalesce(1).select(cols).write.mode("append").parquet(
                str(trickle_dir / f"f{j:04d}.pq")
            )
        (trickle_dir / "_built").touch()

    def stream_docs_trickle() -> DataFrame:
        schema = spark.read.parquet(docs_path).schema
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{trickle_dir}/*.pq")
        )

    trickle_best: dict[str, float] = {}
    for _ in range(2):
        name = "winnow_trickle_auto"
        out_df = DC.winnow_candidates(
            stream_docs_trickle(), "text", "doc_id", n_buckets=128,
        )
        wall = run_noop(out_df, "update")
        trickle_best[name] = min(
            trickle_best.get(name, float("inf")), wall
        )
    for name, wall in trickle_best.items():
        print(json.dumps({
            "shape": name, "rows_in": 600, "sec": round(wall, 2),
            "rows_per_sec": int(600 / wall),
        }))

    # best-of-3, interleaved — same methodology as bench.py: this host
    # shows intermittent multi-second contention spikes that dominate
    # single-shot streaming-query timings (observed 85k..160k rows/s
    # for the SAME TWS config across consecutive runs); the interleaved
    # minimum reflects the engine's actual rate.
    best: dict[str, float] = {}
    for _ in range(3 if not docs_only else 0):
        for name, out_df, mode in shapes:
            wall = run_noop(out_df, mode)
            best[name] = min(best.get(name, float("inf")), wall)
    for name, _, _ in shapes:
        if name not in best:
            continue
        wall = best[name]
        print(json.dumps({
            "shape": name, "rows_in": n_rows, "sec": round(wall, 2),
            "rows_per_sec": int(n_rows / wall),
        }))
    if not docs_only:
        # r6 revision: single-shot FK numbers proved +/-50% on this
        # host (16-32 s for the SAME config across a day) — contention
        # spikes do NOT amortize over the ~20 s pipeline. Report the
        # minimum of two runs, same estimator as the other shapes.
        wall = min(run_fk_pipeline(spark, events_path) for _ in range(2))
        print(json.dumps({
            "shape": "fk_join_tws_2stage_bucketed", "rows_in": n_rows,
            "sec": round(wall, 2), "rows_per_sec": int(n_rows / wall),
        }))


if __name__ == "__main__":
    main()
