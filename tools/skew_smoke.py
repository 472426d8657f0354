"""Skew smoke: measure what key skew does to a shuffled join and what
the two mitigations (AQE skew-join split, explicit salted_join) buy.

Usage: python tools/skew_smoke.py [hot_rows_millions]

Builds a pathologically skewed fact table (one user owns ~half the
rows) and joins it to a per-user dim with broadcast DISABLED — forcing
the shuffled-hash/SMJ path a 100 TB fact⋈fact join would take, where
one hot key = one straggler task. Times three plans:

- plain join, AQE skew split OFF  (the straggler baseline)
- plain join, AQE skew split ON   (runtime mitigation, free)
- salted_join, AQE OFF            (explicit mitigation, operators/joins.py)

Prints one JSON line per plan. On local[32] the absolute numbers are
small; the RATIO between the straggler baseline and the mitigations is
the signal (at cluster scale the straggler is hours, not seconds).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F

from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.operators.joins import salted_join
from kafka_streams_app_spark.sources.catalog import load_table

BASE = "/root/testdata/sf0.1"


def timed(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return round(time.monotonic() - t0, 2)


def main() -> None:
    hot_m = float(sys.argv[1]) if len(sys.argv) > 1 else 4.0
    spark = get_spark(app_name="skew-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    ev = load_table(spark, BASE, "events").select("event_id", "user_id", "value")
    # hot key: replicate one user's rows until it owns ~hot_m million rows
    hot_user = ev.groupBy("user_id").count().orderBy(F.desc("count")).first()
    reps = int(hot_m * 1_000_000 / max(hot_user["count"], 1))
    hot = (
        ev.filter(F.col("user_id") == hot_user["user_id"])
        .crossJoin(spark.range(reps).select(F.col("id").alias("_r")))
        .drop("_r")
    )
    fact = ev.unionByName(hot).repartition(32, "event_id").persist()
    n = fact.count()
    dim = (
        ev.groupBy("user_id").agg(F.avg("value").alias("u_avg"))
        .withColumnRenamed("user_id", "d_uid").persist()
    )
    dim.count()
    print(json.dumps({"fact_rows": n, "hot_user_share": round(
        (hot_user["count"] * (reps + 1)) / n, 3)}))

    def plain(aqe_skew: bool):
        spark.conf.set("spark.sql.adaptive.enabled", str(aqe_skew).lower())
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", str(aqe_skew).lower())
        j = fact.join(dim, fact["user_id"] == dim["d_uid"])
        return j.groupBy("user_id").agg(
            F.sum(F.col("value") - F.col("u_avg")).alias("dev")
        )

    for name, build in [
        ("plain_join_no_aqe", lambda: plain(False)),
        ("plain_join_aqe_skew", lambda: plain(True)),
        ("salted_join_no_aqe", None),
    ]:
        if build is None:
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
            j = salted_join(fact, dim, "user_id", "d_uid", salt=32)
            out = j.groupBy("user_id").agg(
                F.sum(F.col("value") - F.col("u_avg")).alias("dev")
            )
        else:
            out = build()
        sec = timed(out)
        print(json.dumps({"plan": name, "sec": sec}))
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")


if __name__ == "__main__":
    main()
