"""Join suite (SURVEY.md §2.5 J1-J8), batch semantics.

The reference's eight join variants are all key-equi joins executed by
co-partitioned state-store lookup. In Spark the logical join is declared
and Catalyst picks the physical strategy; we add explicit broadcast
hints where one side is dimension-sized, because at 100 TB "small side
fits in memory" is a design decision, not an optimizer guess.

- J1/J2/J3 stream-stream windowed joins
  (/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedJoin.scala:46-54,
   /root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:471-510)
- J4 stream-table join (TopologiesTest.scala:421-435) — enrichment "at
  arrival time" = as-of semantics.
- J5/J6 KTable-KTable PK joins (TopologiesTest.scala:437-469)
- J7/J8 KTable FK joins
  (/root/reference/src/main/scala/com/ayoubom/kafka/apps/ForeignJoin.scala:37-42,
   /root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:374-400)
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: list[tuple[str, str]],
    left_ts: str,
    right_ts: str,
    before_s: int,
    after_s: int,
    how: str = "inner",
) -> DataFrame:
    """J1/J2/J3 — windowed stream-stream join.

    Match iff keys equal and right.ts in [left.ts - before_s, left.ts + after_s]
    (inclusive, mirroring JoinWindows.ofTimeDifference* —
    WindowedJoin.scala:49). Null keys never join (TopologiesTest.scala:288):
    SQL equality semantics give that for free.

    Scale: Spark executes this as a shuffled join on the equi-keys with
    the range predicate as a post-filter. Both sides are watermarked with
    no delay (no plan node on batch input): on streams the plan is a
    stream-stream join evicting state at watermark - range, and an outer
    join emits an unmatched row once the watermark passes its window end
    (Kafka: when the window expires); final sets match.
    Columns must be pre-aliased distinctly by the caller (l./r. prefixes).
    """
    left = left.withWatermark(left_ts, "0 seconds")
    right = right.withWatermark(right_ts, "0 seconds")
    cond = None
    for lc, rc in on:
        c = left[lc] == right[rc]
        cond = c if cond is None else (cond & c)
    rng = right[right_ts].between(
        left[left_ts] - F.expr(f"INTERVAL {before_s} SECONDS"),
        left[left_ts] + F.expr(f"INTERVAL {after_s} SECONDS"),
    )
    return left.join(right, cond & rng, how)


def stream_table_join(
    stream: DataFrame, table: DataFrame, on: list[tuple[str, str]],
    how: str = "inner", broadcast_table: bool = True,
) -> DataFrame:
    """J4 (static variant) — enrich stream records from a table snapshot.

    The table side is broadcast by default: dimension lookup without a
    shuffle of the (huge) stream side.
    """
    t = F.broadcast(table) if broadcast_table else table
    cond = None
    for sc, tc in on:
        c = stream[sc] == t[tc]
        cond = c if cond is None else (cond & c)
    return stream.join(t, cond, how)


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
) -> DataFrame:
    """J4 (temporal) — for each left row, the latest right row with
    right.ts <= left.ts and equal key (stream record enriched with the
    table value current at its arrival time).

    Implemented as union + sort-within-key + last(ignorenulls) — a single
    shuffle on the key and NO range cross-product, so it scales linearly
    where a join-then-rank approach would explode on dense keys. Right
    rows sort before left rows at equal ts (a table update at exactly the
    stream record's ts is visible, matching "current value at arrival").
    """
    lcols = left.columns
    tagged_l = left.select(
        F.col(key).alias("_k"), F.col(left_ts).alias("_ts"), F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_l"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_r_{c}") for c in right_payload],
    )
    tagged_r = right.select(
        F.col(key).alias("_k"), F.col(right_ts).alias("_ts"), F.lit(0).alias("_side"),
        F.lit(None).cast(tagged_l.schema["_l"].dataType).alias("_l"),
        *[F.col(c).alias(f"_r_{c}") for c in right_payload],
    )
    w = (
        Window.partitionBy("_k")
        .orderBy(F.col("_ts"), F.col("_side"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    unioned = tagged_l.unionByName(tagged_r)
    filled = unioned.select(
        "_side", "_l",
        *[F.last(f"_r_{c}", ignorenulls=True).over(w).alias(f"_r_{c}") for c in right_payload],
    )
    return filled.filter(F.col("_side") == 1).select(
        *[F.col(f"_l.{c}").alias(c) for c in lcols],
        *[F.col(f"_r_{c}").alias(c) for c in right_payload],
    )


def table_table_join(
    left_snap: DataFrame, right_snap: DataFrame, on: list[tuple[str, str]],
    how: str = "inner",
) -> DataFrame:
    """J5/J6 — PK join of two latest-per-key snapshots (see ktable.py).

    Tombstoned keys are already absent from the snapshots, which yields
    the reference's retraction end-state (TopologiesTest.scala:219-253).
    """
    cond = None
    for lc, rc in on:
        c = left_snap[lc] == right_snap[rc]
        cond = c if cond is None else (cond & c)
    return left_snap.join(right_snap, cond, how)


def fk_join(
    left: DataFrame, right: DataFrame, fk: str, right_key: str,
    how: str = "inner", broadcast_right: bool = True,
) -> DataFrame:
    """J7/J8 — KTable foreign-key join: join key extracted from the LEFT
    VALUE (ForeignJoin.scala:40), N left rows : 1 right row.

    Null FK rows: inner drops them, left keeps them with null right side
    (the well-defined semantics the reference's edge-case tests document,
    minus Kafka's own bugs — TopologiesTest.scala:100-217).

    Scale: right side (the FK target) is usually dimension-like ->
    broadcast; for fact-fact FK joins pass broadcast_right=False and the
    shuffle partitions on the FK, with AQE handling FK skew.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, left[fk] == r[right_key], how)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Hot-key (skew) join: salt the left key into `salt` sub-keys and
    replicate the right side once per salt value, so a single hot key's
    rows spread over `salt` partitions instead of one straggler task.

    Use when one side has pathological key skew AND the right side is
    too big to broadcast; AQE's skew-join split handles moderate skew
    automatically (engine.RUNTIME_CONF), this is the explicit tool for
    the extreme case. Cost: right side is materialized `salt` times —
    size the factor to the skew, not the cluster.

    The salt is deterministic (hash of the whole left row), so results
    are stable across retries; note fully-identical left rows hash to
    the SAME salt, so a hot key made of duplicate rows does not spread.
    Output columns = left ⧺ right minus the synthetic salt columns.

    Only inner/left are supported: the right side is replicated once
    per salt value, so right/full would emit `salt` copies of every
    unmatched right row.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how in ('inner', 'left'), got {how!r}: "
            "right-preserving joins would duplicate unmatched right rows "
            "once per salt value"
        )
    l = left.withColumn(
        "_salt", F.pmod(F.xxhash64(F.struct(*left.columns)), F.lit(salt)).cast("int")
    )
    r = right.join(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
        ),
        how="cross",
    )
    j = l.join(
        r, (l[left_key] == r[right_key]) & (l["_salt"] == r["_salt"]), how
    )
    return j.drop("_salt")


def semi_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    broadcast_right: bool = True,
) -> DataFrame:
    """LEFT SEMI join: left rows with >=1 match, right columns dropped.

    Not in the reference surface (SURVEY §2.5: no semi/anti joins) —
    free Spark extension. Semi beats inner+distinct at scale: the right
    side deduplicates inside the join (no post-join explosion), and a
    broadcast semi join never shuffles the left side at all.
    """
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, left[left_key] == r[right_key], "left_semi")


def anti_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    broadcast_right: bool = True,
) -> DataFrame:
    """LEFT ANTI join: left rows with NO match (NOT EXISTS). The
    relational complement of semi_join; same broadcast/shuffle notes."""
    r = F.broadcast(right) if broadcast_right else right
    return left.join(r, left[left_key] == r[right_key], "left_anti")
