"""Watermarked streaming windows + emit strategies (SURVEY.md §2.4).

Mapping from the reference's window/emit surface to Structured Streaming:

- W1 tumbling, zero grace  -> window(ts, size) + withWatermark(ts, '0 seconds')
  (/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedGroupAtClose.scala:27-32)
- W2 tumbling + grace      -> withWatermark(ts, grace) — the watermark
  delay IS the grace period
  (/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedGrouping.scala:25-37,44)
- W3 hopping               -> window(ts, size, slide)
- W4 session               -> session_window(ts, gap)
- W5/W6 emit-on-close / suppress -> APPEND output mode: a window's single
  final row is emitted when the watermark passes window end
  (WindowedGroupAtClose.scala:33, TopologiesTest.scala:294-333)
- W7 emit-on-update        -> UPDATE output mode: every micro-batch emits
  the windows it touched (WindowedGrouping.scala:59, commit interval 0)
- W8 stream time           -> the watermark here. Kafka-exact
  per-topic stream time lives in windowed_join_ktime.py. Delta: Kafka
  tracks stream time PER INPUT TOPIC and advances per record
  (/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedJoin.scala:14-22);
  Spark's watermark is global per query and advances at micro-batch
  boundaries. Final emitted sets match; emission interleaving differs.

W1-W4, A1/A3, the J1/J2 interval join and the sketches are one
operators/ builder each for batch and stream (grace_s, where the
builder takes one, is the watermark delay); callers pick the output
mode at the writeStream (append = on-close, update = on-update). This module keeps only plans a
stream needs and a batch does not: windowed distinct (streaming
aggregates reject count_distinct), window-grouped HLL registers the
watermark can evict, watermark-horizon dedup and the profile monitor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_app_spark.operators.aggregations import windowed_count

# perfbench/workloads.py (live_ingest_iq) still calls the windowed count by
# its old streaming name; the alias stays until that benchmark changes.
windowed_count_stream = windowed_count


def hll_windowed_register_stream(
    df: DataFrame,
    ts: str,
    keys: list[str],
    value: str,
    duration_s: int,
    b: int = 8,
    grace_s: int = 0,
) -> DataFrame:
    """Windowed HLL registers with WATERMARK EVICTION — the production
    shape of "distinct users per hour" at unbounded volume: per
    (event-time window, keys) the sketch's running-MAX registers are
    ordinary windowed-aggregate state, so a closed window's 256-row
    register block is emitted once (append mode) and its state evicted
    — state at any moment is open-windows x keys x 2^b rows, never a
    function of the value cardinality (the exact windowed distinct in
    windowed_distinct_count_stream holds one dedup row PER DISTINCT
    VALUE in the horizon; this is its bounded-memory dial).

    Output: window_start_s, *keys, bucket, max_rho — feed to
    operators/sketches.hll_distinct's merge arithmetic (or any HLL
    consumer; the register block is the interchange format).
    """
    from kafka_streams_app_spark.operators.sketches import hll_bucket_rho

    bucket, rho = hll_bucket_rho(F.col(value), b)
    w = F.window(ts, f"{duration_s} seconds")
    return (
        df.withWatermark(ts, f"{grace_s} seconds")
        .select(F.col(ts), *keys, bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(w.alias("w"), *keys, "bucket")
        .agg(F.max("rho").alias("max_rho"))
        .select(
            F.unix_seconds(F.col("w.start")).alias("window_start_s"),
            *keys,
            "bucket",
            "max_rho",
        )
    )


def windowed_distinct_count_stream(
    df: DataFrame,
    ts: str,
    keys: list[str],
    value: str,
    duration_s: int,
    grace_s: int = 0,
    out: str = "n_distinct",
) -> DataFrame:
    """Streaming windowed DISTINCT cardinality per key — incremental
    twin of operators/aggregations.py:windowed_distinct_count.

    Spark disallows count_distinct inside a streaming aggregate, so
    this is the canonical TWO-stateful-operator chain: dropDuplicates
    keyed on (keys, value, event-time WINDOW column) — the window
    struct carries event time, so dedup state for a window is evicted
    once the watermark passes it — followed by the ordinary windowed
    count over the surviving first-arrivals. State at any moment =
    distinct triples of the open window horizon on each side, both
    watermark-bounded; the exchange after dedup carries one row per
    distinct (key, value, window), never per event.

    Output shape matches the batch twin: window_start_s, *keys, out.
    """
    w = F.window(ts, f"{duration_s} seconds")
    dd = (
        df.withWatermark(ts, f"{grace_s} seconds")
        .select(*keys, F.col(value).alias("_v"), w.alias("_w"))
        .dropDuplicates([*keys, "_v", "_w"])
    )
    return (
        dd.groupBy("_w", *keys)
        .agg(F.count(F.lit(1)).alias(out))
        .select(
            F.unix_seconds(F.col("_w.start")).alias("window_start_s"),
            *keys, out,
        )
    )


def dedup_stream(df: DataFrame, keys: list[str], ts: str, horizon_s: int) -> DataFrame:
    """Streaming exact dedup within a watermark horizon: the first record
    per key wins; duplicates arriving within horizon_s are dropped and
    state is evicted beyond it (bounded state at 100 TB/day rates)."""
    return df.withWatermark(ts, f"{horizon_s} seconds").dropDuplicatesWithinWatermark(
        keys
    )


def profile_cell_stream(df: DataFrame, cols: list[str], b: int = 8) -> DataFrame:
    """Streaming DATA-QUALITY MONITOR: the incremental twin of
    operators/pipeline.profile_columns, with the exact multi-distinct
    swapped for that operator's own documented 100 TB dial (HLL
    registers per column) so state stays bounded.

    Each input row unpivots to one (col_name, rendered value) row per
    profiled column; ONE running aggregate on (col_name, bucket) then
    maintains, per column: the null count and total rendered length
    (plain commutative sums, null rows routed to the sentinel bucket
    -1 so every metric lives in the same state table) and the HLL
    register maxima (buckets 0..2^b-1). State is bounded at
    cols x (2^b + 1) rows at ANY stream length or value cardinality.

    COMPLETE-mode snapshot == the batch cell table over the same rows
    (every cell a commutative monoid — order/batch-split invariant),
    which is what the oracle pins; the per-column readout (n_nulls,
    sum_len, est_distinct via sketches.hll_estimate) is a pure
    function of the ≤ cols x 257-row snapshot, derived sink-side.
    """
    from kafka_streams_app_spark.operators.sketches import hll_bucket_rho

    structs = [
        F.struct(
            F.lit(c).alias("col_name"),
            F.col(c).cast("string").alias("_v"),
        )
        for c in cols
    ]
    long = df.select(F.explode(F.array(*structs)).alias("_p")).select("_p.*")
    bucket, rho = hll_bucket_rho(F.col("_v"), b)
    cells = long.select(
        "col_name",
        F.when(F.col("_v").isNull(), F.lit(-1)).otherwise(bucket).alias("bucket"),
        F.when(F.col("_v").isNull(), F.lit(0)).otherwise(rho).alias("rho"),
        F.when(F.col("_v").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("_isn"),
        F.coalesce(F.length("_v"), F.lit(0)).alias("_len"),
    )
    return cells.groupBy("col_name", "bucket").agg(
        F.max("rho").alias("max_rho"),
        F.sum("_isn").cast("long").alias("n_nulls"),
        F.sum("_len").cast("long").alias("sum_len"),
    )
