"""Decompose dedup_minhash_lsh's wall into its pipeline stages (r16
verdict ask #3 groundwork): signature/shingle Arrow pass, band
self-join + pair distinct, exact-Jaccard verify — at sf0.1 and the x10
disjoint-replica corpus, so the 2.3x data-scaling term can be
attributed before anything is changed (guide §1).

Usage: python tools/minhash_decompose.py [runs=2] [max_band_df|none]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.operators.dedup import (
    _sig_table,
    _verify_jaccard,
)
from kafka_streams_app_spark.sources.catalog import load_table

BASE = "/root/testdata/sf0.1"
X10 = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                   ".scratch", "scale_smoke", "x10")


def decompose(spark, sf_dir: str, runs: int, cap: int | None) -> dict:
    docs = load_table(spark, sf_dir, "documents")

    def best(fn) -> float:
        b = float("inf")
        for _ in range(runs):
            t0 = time.monotonic()
            fn()
            b = min(b, time.monotonic() - t0)
        return round(b, 3)

    out: dict = {"sf_dir": sf_dir, "cap": cap}
    # stage 1: shingle+band signature Arrow pass (materialized alone)
    sig = _sig_table(docs, "text", "doc_id", 3)
    spark.sparkContext.setJobDescription("minhash: sig pass")
    out["sig_pass"] = best(
        lambda: sig.write.format("noop").mode("overwrite").save())

    # stages 2+3 run off a persisted sig table exactly like the operator
    sh_sig = _sig_table(docs, "text", "doc_id", 3).persist()
    sh_sig.write.format("noop").mode("overwrite").save()  # materialize
    sh = sh_sig.select("_id", "_sh")
    bands = sh_sig.select("_id", F.explode("_bh").alias("bh"))
    if cap is not None:
        hot = (
            bands.groupBy("bh").agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > cap).select("bh")
        )
        bands = bands.join(F.broadcast(hot), "bh", "left_anti")
    cand = (
        bands.alias("x")
        .join(bands.alias("y"),
              (F.col("x.bh") == F.col("y.bh"))
              & (F.col("x._id") < F.col("y._id")))
        .select(F.col("x._id").alias("doc_a"), F.col("y._id").alias("doc_b"))
        .distinct()
    )
    spark.sparkContext.setJobDescription("minhash: band join")
    out["band_join"] = best(
        lambda: cand.write.format("noop").mode("overwrite").save())
    out["n_pairs"] = cand.count()

    cand_m = cand.localCheckpoint(eager=True)
    ver = _verify_jaccard(cand_m, sh, 0.8)
    spark.sparkContext.setJobDescription("minhash: jaccard verify")
    out["verify"] = best(
        lambda: ver.write.format("noop").mode("overwrite").save())
    out["n_dups"] = ver.count()
    sh_sig.unpersist()
    spark.sparkContext.setJobDescription(None)
    return out


def main() -> None:
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    cap = None
    if len(sys.argv) > 2 and sys.argv[2] != "none":
        cap = int(sys.argv[2])
    spark = get_spark(app_name="minhash-decompose")
    spark.sparkContext.setLogLevel("ERROR")
    for d in (BASE, X10):
        if not os.path.exists(d):
            print(json.dumps({"sf_dir": d, "skipped": "missing"}))
            continue
        print(json.dumps(decompose(spark, d, runs, cap)), flush=True)


if __name__ == "__main__":
    main()
