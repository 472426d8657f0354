"""Simulate the VERIFICATION DRIVER's environment: a SparkSession
created by an external owner BEFORE __spark_entry__ is imported (so the
JVM never saw the _vendor protobuf PYTHONPATH shim, and TWS workers
cannot import protobuf). Round 2's three streaming contract entries
crashed exactly here; this script proves the grouped-replay path
(streaming/replay.py:run_stateful on batch inputs) keeps every
stateful-operator entry green under ANY session owner.

Usage: env -u PYTHONPATH python tools/check_driver_env.py [name ...]
(defaults to the 18 entries whose operators run TWS on a stream and
grouped replay on a batch table)
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

import duckdb

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from tools.check_queries import TABLES, normalize  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
DEFAULT = [
    "s_winnow_candidates",
    "s_winnow_candidates_blob",
    "s_time_rolling",
    "s_time_rolling_late",
    "s_rolling_avg",
    "s_zscore_running",
    "s_sample_topk",
    "s_stream_table_join",
    "s_ktable_latest",
    "s_ktable_latest_bucketed",
    "s_table_history",
    "s_windowed_join_ktime",
    "s_windowed_join_ktime_multibucket",
    "s_pk_join_incremental",
    "s_pk_join_bucketed",
    "s_fk_join_incremental",
    "s_fk_join_left_incremental",
    "s_fk_join_bucketed",
]


def main() -> int:
    assert "_vendor" not in os.environ.get("PYTHONPATH", ""), (
        "run with a clean PYTHONPATH to simulate the driver"
    )
    # The driver builds its own session FIRST (no engine.get_spark).
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("driver-sim")
        .master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    # ... and only then imports the entry module.
    import __spark_entry__ as e
    from kafka_streams_app_spark.engine import RUNTIME_CONF
    from kafka_streams_app_spark.streaming.replay import tws_available

    print(f"tws_available={tws_available(spark)} (expect False in clean env)")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    names = sys.argv[1:] or DEFAULT
    qs, oracles = e.queries(), e.oracle_sql()
    n_fail = 0
    for i, name in enumerate(names):
        try:
            sdf = qs[name](spark, SF_DIR)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            n_fail += 1
            continue
        if i == 0:
            # this session sees RUNTIME_CONF only through the entries'
            # configure_session call: checkpoints must go through the
            # FileSystem-based manager here too
            key = "spark.sql.streaming.checkpointFileManagerClass"
            assert spark.conf.get(key, None) == RUNTIME_CONF[key], spark.conf.get(key, None)
        if name not in oracles:
            print(f"weak {name}: rows={len(srows)} (no oracle)")
            continue
        res = con.execute(oracles[name])
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        if sorted(scols) != sorted(dcols) or len(srows) != len(drows) or \
                normalize(srows, scols) != normalize(drows, dcols):
            print(f"FAIL {name}: mismatch spark_rows={len(srows)} duck_rows={len(drows)}")
            n_fail += 1
            continue
        print(f"PASS {name}: rows={len(srows)}")
    print(f"\n{len(names) - n_fail} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
