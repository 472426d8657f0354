"""Stage-2 FK-join cost attribution (r11 verdict #2's fallback arm):
split the 2-stage pipeline's stage-2 wall into (1) TWS framework
crossing (shuffle + Arrow + serializer grouping), (2) state-server
RPC, (3) the join processor's compute + emission crossing — by running
the SAME stage-2 input through three processors:

- noop      : consumes input chunks, touches no state, emits nothing
              -> pure framework floor
- statetouch: mirrors the real state traffic (one right read + write
              per fk with right rows, one subs write per final
              (fk, pk) subscription, full subs.iterator() scan when a
              batch carries right rows) but emits nothing
              -> framework + state RPC
- real      : _FKJoinProcessorBucketed -> everything

Each variant runs best-of-N interleaved (this host's contention
spikes swamp single shots). Stage-1 output is built once.

Usage: python tools/tws_attribution.py [multiplier] [passes]
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

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.streaming.fk_join import (
    KIND_RIGHT,
    _fk_join_plan,
    fk_instructions,
)
from kafka_streams_app_spark.streaming.ktable import ktable_changelog
from kafka_streams_app_spark.streaming.replay import run_stateful

SCRATCH = ROOT / ".scratch" / "scale_smoke"


class _Noop(StatefulProcessor):
    def init(self, handle: StatefulProcessorHandle) -> None:
        pass

    def handleInputRows(self, key, rows, timerValues):
        for _ in rows:
            pass
        return iter(())

    def close(self) -> None:
        pass


class _StateTouch(StatefulProcessor):
    """Same state API call pattern as _FKJoinProcessorBucketed on a
    no-delete batch (one right MapState read + write per fk with right
    rows, one subs MapState write per final (fk, pk) subscription, one
    subs scan when the batch carries right rows), without the emission
    work."""

    def __init__(self, sub_schema, right_schema, fk_schema, fkpk_schema):
        self.sub_schema = sub_schema
        self.right_schema = right_schema
        self.fk_schema = fk_schema
        self.fkpk_schema = fkpk_schema

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.right = handle.getMapState("right", self.fk_schema, self.right_schema)
        self.subs = handle.getMapState("subs", self.fkpk_schema, self.sub_schema)

    def handleInputRows(self, key, rows, timerValues):
        pdf = pd.concat(list(rows))
        is_right = (pdf["kind"] == KIND_RIGHT).to_numpy()
        if bool(is_right.any()):
            for _ in self.subs.iterator():
                pass
        from kafka_streams_app_spark.streaming._pdnorm import pynative

        # mirror the real processor's BATCHED state writes: one
        # getValue + one updateValue per fk with right rows, one
        # updateValue per FINAL ((fk, pk) -> latest sub) — not per row
        rr = pdf.loc[is_right, ["fk", "r_rvalue"]].groupby("fk").tail(1)
        for row in rr.itertuples(index=False):
            self.right.getValue((pynative(row.fk),))
            self.right.updateValue(
                (pynative(row.fk),), (pynative(row.r_rvalue),)
            )
        subs = pdf.loc[~is_right, ["fk", "pk", "value"]].groupby(
            ["fk", "pk"]).tail(1)
        for row in subs.itertuples(index=False):
            self.subs.updateValue(
                (pynative(row.fk), pynative(row.pk)), (pynative(row.value),)
            )
        return iter(())

    def close(self) -> None:
        pass


def main() -> None:
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    spark = get_spark(app_name="tws-attribution")
    spark.sparkContext.setLogLevel("ERROR")
    events_path = str(SCRATCH / f"x{mult}" / "events.parquet")
    if not Path(events_path).exists():
        import scale_smoke

        scale_smoke.build(spark, mult)

    from stream_throughput import stream_events

    fk_expr = F.concat(F.lit("t"), (F.col("user_id") % 997).cast("string"))

    # ---- stage 1, run ONCE: left ktable changelog -> intermediate dir
    left = stream_events(spark, events_path).select(
        F.col("user_id").alias("pk"), fk_expr.alias("fk"),
        F.col("value"), F.unix_micros("ts").alias("seq"),
    )
    changelog = ktable_changelog(left, ["pk"], "seq", ["fk", "value"])
    inter = tempfile.mkdtemp(prefix="twsattr_inter_")
    ckpt = tempfile.mkdtemp(prefix="twsattr_ckpt_")
    q1 = (
        changelog.writeStream.format("parquet")
        .option("path", inter).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q1.awaitTermination()
    inter_schema = changelog.schema
    n_inter = spark.read.parquet(inter).count()

    def build_stage2(proc_kind: str):
        inter_src = spark.readStream.schema(inter_schema).parquet(inter)
        instr = fk_instructions(inter_src, "pk", "fk", ["fk", "value"], "seq")
        right = stream_events(spark, events_path).select(
            fk_expr.alias("rk"), F.col("value").alias("rvalue"),
            F.unix_micros("ts").alias("seq"),
        )
        unioned, proc, out_schema = _fk_join_plan(
            instr, right, right_key="rk", right_payload=["rvalue"],
            right_seq="seq", right_tombstone=None,
            left_value_cols=["value"], how="inner", n_buckets=128,
        )
        if proc_kind == "noop":
            proc = _Noop()
        elif proc_kind == "statetouch":
            proc = _StateTouch(
                proc.sub_schema, proc.right_schema, proc.fk_schema,
                proc.fkpk_schema,
            )
        return run_stateful(unioned, ["_fkj_bucket"], proc, out_schema)

    def run_once(kind: str) -> float:
        ck = tempfile.mkdtemp(prefix="twsattr_q2_")
        t0 = time.monotonic()
        q = (
            build_stage2(kind).writeStream.format("noop")
            .option("checkpointLocation", ck)
            .outputMode("update").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        el = time.monotonic() - t0
        shutil.rmtree(ck, ignore_errors=True)
        return el

    kinds = ["noop", "statetouch", "real"]
    best: dict[str, float] = {}
    for k in kinds:  # warm one pass each (JIT + worker pool)
        run_once(k)
    for _ in range(passes):
        for k in kinds:
            el = run_once(k)
            if k not in best or el < best[k]:
                best[k] = el
    n_right = spark.read.parquet(events_path).count()
    rows_in = n_inter + n_right
    print(json.dumps({
        "mult": mult, "stage2_input_rows": rows_in,
        "noop_s": round(best["noop"], 2),
        "statetouch_s": round(best["statetouch"], 2),
        "real_s": round(best["real"], 2),
        "framework_pct": round(100 * best["noop"] / best["real"], 1),
        "state_rpc_pct": round(
            100 * (best["statetouch"] - best["noop"]) / best["real"], 1),
        "compute_emit_pct": round(
            100 * (best["real"] - best["statetouch"]) / best["real"], 1),
    }))
    shutil.rmtree(inter, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)


if __name__ == "__main__":
    main()
