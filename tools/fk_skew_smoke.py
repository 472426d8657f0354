"""FK-join hot-key skew probe: quantify what the trigger-size dial buys
under the 5-hot-fks contract shape (SCALE.md's "trigger size bounds
fan-out memory" claim — this turns the prose into numbers).

Usage: python tools/fk_skew_smoke.py [n_pks] [n_right]

Shape: the s_fk_join_incremental contract topology (FK = event_type,
FIVE distinct fks) at a deliberately bounded size — 5 hot fks make the
join output O(right rows x subscribers), so the probe uses n_pks
subscriptions and n_right right-side updates, interleaved in seq so
subscriptions ramp while right updates fan out (defaults emit ~10M
join rows from 25k inputs; the full 1M-event smoke would emit ~10^11 —
exactly why SCALE.md files this shape under skew, not throughput).

The pipeline is one streaming query; both stateful stages run the
bucketed processors at their default 16 buckets. For each trigger size
(maxFilesPerTrigger on BOTH sources), prints wall seconds, the
micro-batch count (from the query's progress), and the PEAK resident
set summed over the pyspark python workers (sampled at 50 ms) — the
fan-out buffers (per-fk latest-sub matrix + emitted pair columns) live
there. Smaller triggers process the same rows across more, smaller
batches: bounded per-batch fan-out state, same total output volume.
(The probe measures resources, not changelog equality — the randomized
equivalence tests in tests/test_fk_join_stream.py own that; sub-file
triggers pair the two sides' files in file order, not by seq.)
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "tools"))

from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.streaming.fk_join import (
    fk_instructions,
    fk_join_changelog,
)
from kafka_streams_app_spark.streaming.ktable import ktable_changelog

N_FKS = 5
N_FILES = 8  # staged files per source -> max micro-batches at trigger=1


class _PeakRss:
    """Peak summed RSS (MiB) of the pyspark python workers, polled in a
    daemon thread. Workers fork from pyspark.daemon, so matching on the
    daemon module name catches every executor-side python process."""

    def __init__(self) -> None:
        self.peak = 0.0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._poll, daemon=True)

    def _poll(self) -> None:
        while not self._stop.is_set():
            try:
                out = subprocess.run(
                    ["ps", "-eo", "rss,args"], capture_output=True, text=True
                ).stdout
                total = sum(
                    int(line.split(None, 1)[0])
                    for line in out.splitlines()
                    if "pyspark.daemon" in line or "pyspark.worker" in line
                )
                self.peak = max(self.peak, total / 1024.0)
            except Exception:  # noqa: BLE001 (ps hiccup: skip sample)
                pass
            time.sleep(0.05)

    def __enter__(self) -> "_PeakRss":
        self._t.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._t.join(timeout=1)


def build(spark, n_pks: int, n_right: int) -> tuple[str, str]:
    """Stage left (n_pks subscriptions) and right (n_right updates over
    the 5 fks), interleaved in seq, each as N_FILES parquet files."""
    total = n_pks + n_right
    left_rows, right_rows = [], []
    ratio = n_pks / total
    li = ri = 0
    for seq in range(total):
        if li < n_pks and (ri >= n_right or (seq * ratio) >= li):
            left_rows.append((li, f"t{li % N_FKS}", float(li), seq, False))
            li += 1
        else:
            right_rows.append((f"t{ri % N_FKS}", float(ri), seq))
            ri += 1
    left_dir = tempfile.mkdtemp(prefix="skew_fk_left_")
    right_dir = tempfile.mkdtemp(prefix="skew_fk_right_")
    spark.createDataFrame(
        left_rows, "pk long, fk string, value double, seq long, is_delete boolean"
    ).repartitionByRange(N_FILES, "seq").write.mode("overwrite").parquet(left_dir)
    spark.createDataFrame(
        right_rows, "rk string, rvalue double, seq long"
    ).repartitionByRange(N_FILES, "seq").write.mode("overwrite").parquet(right_dir)
    return left_dir, right_dir


def run(spark, left_dir: str, right_dir: str,
        trigger_files: int) -> tuple[float, float, int]:
    """Full FK pipeline (one streaming query) over the staged dirs, both
    sources throttled to trigger_files files per micro-batch. Returns
    (wall seconds, peak worker RSS MiB, micro-batches with input)."""
    def source(schema: str, path: str):
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", trigger_files)
            .parquet(path)
        )

    left = source(
        "pk long, fk string, value double, seq long, is_delete boolean",
        left_dir,
    )
    right = source("rk string, rvalue double, seq long", right_dir)
    changelog = ktable_changelog(
        left, ["pk"], "seq", ["fk", "value"], "is_delete"
    )
    instr = fk_instructions(changelog, "pk", "fk", ["fk", "value"], "seq")
    join = fk_join_changelog(
        instr, right, right_key="rk", right_payload=["rvalue"],
        right_seq="seq", right_tombstone=None,
        left_value_cols=["value"], how="inner",
    )
    ckpt = tempfile.mkdtemp(prefix="skew_fk_ckpt_")
    t0 = time.monotonic()
    try:
        with _PeakRss() as rss:
            q = (
                join.writeStream.format("noop").outputMode("update")
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()
        batches = sum(1 for p in q.recentProgress if p["numInputRows"] > 0)
        return time.monotonic() - t0, rss.peak, batches
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)


def main() -> None:
    n_pks = int(sys.argv[1]) if len(sys.argv) > 1 else 5_000
    n_right = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
    spark = get_spark(app_name="fk-skew-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    left_dir, right_dir = build(spark, n_pks, n_right)
    try:
        # big trigger first (one mega-batch = the unbounded-fan-out
        # shape), then per-file batches; the memory delta is the dial
        for trigger_files in (1000, 1):
            wall, peak_mib, batches = run(
                spark, left_dir, right_dir, trigger_files
            )
            print(json.dumps({
                "shape": "fk_5hot_fks", "n_pks": n_pks, "n_right": n_right,
                "trigger_files": trigger_files, "batches": batches,
                "sec": round(wall, 2),
                "peak_worker_rss_mib": round(peak_mib, 0),
            }), flush=True)
    finally:
        shutil.rmtree(left_dir, ignore_errors=True)
        shutil.rmtree(right_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
