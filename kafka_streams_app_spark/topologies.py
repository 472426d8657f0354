"""The reference's application topologies, re-expressed as engine
compositions — a user of AyoubOm/kafka-streams-app can run each of its
apps through these builders unchanged in semantics.

Each builder takes DataFrames (batch or streaming — the operators are
mode-agnostic where Spark allows) and returns the output DataFrame; the
caller picks the sink (streaming/sinks.to_topic for S3 semantics).

| Reference app | file | builder |
|---|---|---|
| Pipe          | src/main/java/com/ayoubom/kafka/Pipe.java:44            | pipe |
| LineSplit     | src/main/java/com/ayoubom/kafka/LineSplit.java:47-49    | line_split |
| WordCount     | src/main/java/com/ayoubom/kafka/WordCount.java:53-58    | word_count |
| WindowedGrouping    | src/main/scala/com/ayoubom/kafka/apps/WindowedGrouping.scala:41-48 | windowed_grouping |
| WindowedGroupAtClose| src/main/scala/com/ayoubom/kafka/apps/WindowedGroupAtClose.scala:29-37 | windowed_group_at_close |
| WindowedJoin  | src/main/scala/com/ayoubom/kafka/apps/WindowedJoin.scala:43-54 | windowed_join |
| ForeignJoin   | src/main/scala/com/ayoubom/kafka/apps/ForeignJoin.scala:28-43  | foreign_join |
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafka_streams_app_spark.operators import aggregations as agg
from kafka_streams_app_spark.operators import joins, ktable, stateless


def pipe(stream: DataFrame) -> DataFrame:
    """Pipe.java — source piped to sink unchanged."""
    return stream


def line_split(stream: DataFrame, line_col: str = "line") -> DataFrame:
    """LineSplit.java:48 — flatMapValues(value.split("\\W+")).

    LineSplit does NOT lowercase (WordCount does); empty tokens dropped
    per the engine's documented deviation (operators/stateless.py).
    """
    return stateless.flat_map_values_split(
        stream, line_col, out_col="word", lowercase=False
    )


def word_count(stream: DataFrame, line_col: str = "line") -> DataFrame:
    """WordCount.java:53-58 — lower/split -> groupBy(word) -> count.

    Batch: final counts. Streaming: run in update mode for the
    changelog (toStream) or complete mode for the table.
    """
    words = stateless.flat_map_values_split(
        stream.select(line_col), line_col, out_col="word", lowercase=True
    )
    return agg.count_per_key(words, ["word"], out="cnt")


def windowed_grouping(
    stream: DataFrame, key: str, ts: str, window_s: int = 10, grace_s: int = 0
) -> DataFrame:
    """WindowedGrouping.scala:41-48 — groupByKey -> tumbling window
    (grace = `lateness`) -> count -> selectKey("{key}-{windowStart}").

    On a stream, grace_s is the watermark delay: a record later than its
    window's end still counts while stream time - grace_s has not passed
    that end (WindowedGrouping.scala:25-37,44); update mode emits on
    update, append mode on close.
    """
    wc = agg.windowed_count(stream, ts, [key], window_s, grace_s=grace_s)
    keyed = stateless.select_key(
        wc, F.concat_ws("-", F.col(key), F.col("window_start_s")), "key"
    )
    return keyed.select("key", "cnt")


def windowed_group_at_close(
    stream: DataFrame, key: str, ts: str, window_s: int = 10
) -> DataFrame:
    """WindowedGroupAtClose.scala:29-37 — as windowed_grouping but only
    windows already closed per stream time are emitted
    (EmitStrategy.onWindowClose). Batch only: on a stream,
    windowed_grouping in append output mode emits the same closed set."""
    wc = agg.windowed_count(stream, ts, [key], window_s)
    closed = agg.closed_windows_only(wc, stream, ts, window_s)
    keyed = stateless.select_key(
        closed, F.concat_ws("-", F.col("window_start_s"), F.col(key)), "key"
    )
    return keyed.select("key", "cnt")


def windowed_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    diff_s: int = 10,
) -> DataFrame:
    """WindowedJoin.scala:43-54 — KStream⋈KStream inner, |ts1-ts2|<=10s,
    joiner = string concat of the two values
    (WindowedJoin.scala:41). Caller columns: key, value, ts on both."""
    l = left.select(
        F.col(key).alias("l_key"), F.col("value").alias("l_value"),
        F.col(ts).alias("l_ts"),
    )
    r = right.select(
        F.col(key).alias("r_key"), F.col("value").alias("r_value"),
        F.col(ts).alias("r_ts"),
    )
    j = joins.interval_join(
        l, r, [("l_key", "r_key")], "l_ts", "r_ts", diff_s, diff_s
    )
    return j.select(
        F.col("l_key").alias("key"),
        F.concat(F.col("l_value"), F.col("r_value")).alias("value"),
    )


def foreign_join(
    product_changelog: DataFrame,
    merchant_changelog: DataFrame,
    seq: str = "seq",
    tombstone: str = "is_delete",
    how: str = "left",
) -> DataFrame:
    """ForeignJoin.scala:28-43 — productTable.leftJoin(merchantTable,
    product => product.merchant, (_, rank) => rank).

    Batch end-state: latest-per-key snapshots of both changelogs, FK
    join on the left VALUE's merchant field, project the merchant rank.
    The incremental twin (re-subscription on FK change) is
    streaming/fk_join.py. Changelog columns: product(key, merchant,
    name, is_delete, seq); merchant(key, rank, is_delete, seq).
    """
    product = ktable.latest_per_key(
        product_changelog, ["key"], [seq], tombstone=F.col(tombstone)
    ).drop(tombstone, seq)
    merchant = ktable.latest_per_key(
        merchant_changelog, ["key"], [seq], tombstone=F.col(tombstone)
    ).select(F.col("key").alias("m_key"), "rank")
    j = joins.fk_join(product, merchant, "merchant", "m_key", how=how)
    return j.select("key", "rank")
