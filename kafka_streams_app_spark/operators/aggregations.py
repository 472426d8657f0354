"""Aggregations + event-time windowing (SURVEY.md §2.3-§2.4).

Reference semantics:
- continuous count per key (/root/reference/src/main/java/com/ayoubom/kafka/WordCount.java:56)
- tumbling windowed count
  (/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedGrouping.scala:43-45)
- windowed reduce (integer sum)
  (/root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:355-367)
- session-windowed count (TopologiesTest.scala:410-418)
- emit-on-window-close / suppress
  (/root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedGroupAtClose.scala:33,
   TopologiesTest.scala:522,542)

Scale notes: every aggregation here is a hash aggregate with map-side
partial aggregation (Spark does partial+final automatically; the
reference shuffles raw records to a single stateful agg). Window starts
are projected as epoch seconds (BIGINT) so results are engine-portable.

Floating-point determinism: double sums are computed by casting to
DECIMAL first and back to DOUBLE after — exact and order-independent, so
a 32-partition Spark sum bit-matches a single-threaded oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def exact_sum(col: str | Column, scale: tuple[int, int] = (30, 6)) -> Column:
    """Order-independent SUM for doubles, exact in s-digit fixed point.

    r12-r14 form (kept below as exact_sum_decimal):
    sum(cast(x AS DECIMAL(30,6))) — exact, but every row pays a
    Double.toString + BigDecimal construction in the cast and the
    >18-digit accumulator adds on the non-compact BigDecimal path.

    r15 form (this): the SAME fixed-point sum as TWO long sums that
    whole-stage codegen runs as plain FP + integer adds —
    units      = floor(x)                       (exact for |x| < 2^52)
    frac_units = floor((x - floor(x)) * 10^s + 0.5)
    The one-row combine reassembles sum(units)*10^s + sum(frac_units)
    in DECIMAL(38,0) and performs ONE exact decimal division + ONE
    double conversion. Measured: tpch_q1 1.20 s -> 0.52 s at sf0.1.

    Exactness contract: identical to the decimal form whenever each
    x's fractional part carries <= s significant decimal digits AND
    the double can represent that decimal exactly, i.e.
    ulp(x) < 0.5 * 10^-s — at s=6 that means |x| < ~2^32 (~4.3e9), a
    much narrower window than the 2^52 floor-exactness bound (every
    money/quantity/measure column in the registry fits; re-verified by
    the full oracle gate at sf0.01 and sf0.1 after this change). For
    longer mantissas or wider magnitudes the half-up rounding here
    acts on the BINARY double (x - floor(x)) * 10^s while the decimal
    cast acts on the shortest decimal representation — they can differ
    within half an ulp of the s-th decimal per row and accumulate; use
    exact_sum_decimal for wide-magnitude columns. Any such divergence
    hash-mismatches the oracle, which is the tripwire.

    Non-finite inputs (NaN/±Inf) are nulled BEFORE the floor/frac
    split, so they are skipped exactly as the decimal cast skips them
    (a decimal cast maps non-finite to null); without this the floor
    would raise ARITHMETIC_OVERFLOW under Spark 4's default ANSI mode
    (and silently corrupt the total with ANSI off) — ADVICE r15.

    Scale bounds: frac_units < 10^s per row, so its long sum overflows
    past ~9.2e18 / 10^s rows per group (~9.2e12 at s=6); the units sum
    bound depends on magnitude (|sum| < 9.2e18). Under Spark 4's
    default ANSI mode an overflow RAISES rather than wrapping — swap
    in exact_sum_decimal for the >1e13-rows-per-group regime.
    """
    _, s = scale
    mult = 10 ** s
    x = F.col(col) if isinstance(col, str) else col
    # skip NaN/±Inf the way the decimal form does (cast -> null):
    # floor(±Inf) overflows LONG, which aborts the job under ANSI.
    xd = x.cast("double")
    x = F.when(~(F.isnan(xd) | (F.abs(xd) == F.lit(float("inf")))), x)
    fl = F.floor(x)
    frac_units = F.floor((x - fl) * F.lit(float(mult)) + F.lit(0.5)).cast("long")
    units = F.sum(fl.cast("long")).cast("decimal(38,0)")
    fsum = F.sum(frac_units).cast("decimal(38,0)")
    total = units * F.lit(mult).cast("decimal(38,0)") + fsum
    return (
        (total / F.lit(mult).cast("decimal(38,0)"))
        .cast(f"decimal(38,{s})")
        .cast("double")
    )


def exact_sum_decimal(col: str | Column, scale: tuple[int, int] = (30, 6)) -> Column:
    """Order-independent SUM for doubles via exact decimal accumulation
    (the r12-r14 exact_sum; see exact_sum for when to prefer which)."""
    p, s = scale
    x = F.col(col) if isinstance(col, str) else col
    return F.sum(x.cast(f"decimal({p},{s})")).cast("double")


def count_per_key(df: DataFrame, keys: list[str], out: str = "cnt") -> DataFrame:
    """A1 — running count per key; batch view = final counts."""
    return df.groupBy(*keys).agg(F.count(F.lit(1)).alias(out))


def windowed_count(
    df: DataFrame, ts: str, keys: list[str], duration_s: int,
    slide_s: int | None = None, out: str = "cnt",
) -> DataFrame:
    """A2/W1/W3 — tumbling (or hopping) windowed count per key.

    Output: window_start_s BIGINT, *keys, cnt.
    """
    slide = f"{slide_s} seconds" if slide_s else f"{duration_s} seconds"
    w = F.window(ts, f"{duration_s} seconds", slide)
    return (
        df.groupBy(w.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias(out))
        .select(
            F.unix_seconds(F.col("w.start")).alias("window_start_s"),
            *keys, out,
        )
    )


def windowed_agg(
    df: DataFrame, ts: str, keys: list[str], duration_s: int, **aggs: Column
) -> DataFrame:
    """A3 — windowed reduce/aggregate (any commutative Column agg)."""
    w = F.window(ts, f"{duration_s} seconds")
    return (
        df.groupBy(w.alias("w"), *keys)
        .agg(*[c.alias(n) for n, c in aggs.items()])
        .select(F.unix_seconds(F.col("w.start")).alias("window_start_s"), *keys,
                *aggs.keys())
    )


def session_count(
    df: DataFrame, ts: str, keys: list[str], gap_s: int, out: str = "cnt"
) -> DataFrame:
    """A4/W4 — session windows with inactivity gap; start = first event ts.

    Output: *keys, session_start_s BIGINT, cnt.
    Spark's session_window merges per-key sessions pre-shuffle where
    possible; state is bounded by the watermark in streaming mode.

    Boundary semantics: Spark merges an event into a session iff
    ts <= last_ts + gap (contiguous [t, t+gap) ranges merge) — the SAME
    inclusive bound as Kafka's SessionWindows, verified by porting
    /root/reference/src/test/scala/com/ayoubom/kafka/TopologiesTest.scala:88-95
    (bar piped at t+2 and t+4 with gap 2s merges into one session in
    both engines; pinned by tests/test_semantics.py).
    """
    w = F.session_window(ts, f"{gap_s} seconds")
    return (
        df.groupBy(w.alias("w"), *keys)
        .agg(F.count(F.lit(1)).alias(out))
        .select(*keys, F.unix_seconds(F.col("w.start")).alias("session_start_s"), out)
    )


def windowed_distinct_count(
    df: DataFrame, ts: str, keys: list[str], value: str,
    duration_s: int, approx: bool = False, rsd: float = 0.05,
    out: str = "n_distinct",
) -> DataFrame:
    """Windowed DISTINCT cardinality per key (e.g. unique users per
    event_type per window) — the other classic windowed aggregate next
    to count/sum.

    Exact mode: Spark plans count_distinct as a two-stage aggregate —
    partial de-dup of (key, window, value) map-side, then the count on
    the co-partitioned stream — so the exchange carries distinct
    triples, not events. approx=True is the 100 TB sketch dial:
    approx_count_distinct (HyperLogLog++) keeps the agg single-pass
    with one fixed-size sketch per (key, window) through map-side
    combine; rsd trades sketch bytes for error. The oracle checks the
    exact path (a sketch has no cross-engine bit contract).

    Output: window_start_s BIGINT, *keys, n_distinct BIGINT.
    """
    w = F.window(ts, f"{duration_s} seconds")
    agg = (
        F.approx_count_distinct(value, rsd) if approx
        else F.count_distinct(F.col(value))
    )
    return (
        df.groupBy(w.alias("w"), *keys)
        .agg(agg.alias(out))
        .select(
            F.unix_seconds(F.col("w.start")).alias("window_start_s"),
            *keys, out,
        )
    )


def windowed_topn_values(
    df: DataFrame, ts: str, keys: list[str], value: str,
    duration_s: int, n: int = 3,
) -> DataFrame:
    """Exact top-n heavy hitters per (key, window): the values with the
    highest occurrence counts inside each window, rank-stable (ties ->
    lower value first, cast to string for a total order).

    Plan: one map-side-combined hash agg on (key, window, value), then
    a rank window inside each (key, window) partition — two exchanges,
    both carrying aggregated rows. At 100 TB with ultra-wide value
    domains the sketch dial is a space-saving/count-min summary per
    partition merged at the reducer (approximate counts, exact top-set
    with high probability); this exact form is correct at any scale,
    just shuffle-heavier.

    Output: window_start_s BIGINT, *keys, value, cnt, rank.
    """
    w = F.window(ts, f"{duration_s} seconds")
    counted = (
        df.groupBy(w.alias("w"), *keys, F.col(value).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.unix_seconds(F.col("w.start")).alias("window_start_s"),
            *keys, "value", "cnt",
        )
    )
    rank_w = Window.partitionBy("window_start_s", *keys).orderBy(
        F.col("cnt").desc(), F.col("value").cast("string")
    )
    return (
        counted.withColumn("rank", F.row_number().over(rank_w))
        .filter(F.col("rank") <= n)
    )


def closed_windows_only(
    windowed: DataFrame, source: DataFrame, ts: str, duration_s: int
) -> DataFrame:
    """W5/W6 batch analogue of emit-on-window-close / suppress.

    Keeps only windows whose end <= max observed event time ("stream
    time"), i.e. exactly the set a zero-grace on-close emitter would have
    produced. The max is a scalar agg broadcast into the filter — no
    driver round-trip in the plan.
    """
    stream_time = source.agg(F.max(F.col(ts)).alias("mx"))
    return (
        windowed.crossJoin(F.broadcast(stream_time))
        .filter(F.col("window_start_s") + duration_s <= F.unix_seconds(F.col("mx")))
        .drop("mx")
    )


def assemble_sessions(
    df: DataFrame, ts: str, keys: list[str], gap_s: int,
    event_col: str, max_events: int | None = None,
) -> DataFrame:
    """Sessionized sequence assembly: group each key's events into
    inactivity-gap sessions and emit the session's event sequence in
    time order — the "turn user activity into training examples" step
    (conversation assembly, clickstream-to-sequence, agent-trajectory
    extraction all have this shape).

    Determinism: events inside a session are ordered by (ts, event)
    via array_sort over (epoch, event) structs — a total order even
    when timestamps collide, so the assembled string is engine-
    portable. max_events truncates each session AFTER ordering (the
    training-window cap); n_events always reports the full count.

    Plan: ONE shuffle on (key, session_window) — Spark's session
    windows merge within partitions before the exchange; collect_list
    is a partial-aggregating sequence build, and the sort happens once
    per assembled session, not per event. At 100 TB the bound to watch
    is events-per-session (a bot key with one infinite session);
    max_events caps the emitted sequence but not the collected state —
    put a per-key rate guard upstream if keys are adversarial.

    Output: *keys, session_start_s BIGINT, n_events BIGINT,
    sequence STRING (events joined by '>').
    """
    w = F.session_window(ts, f"{gap_s} seconds")
    pairs = F.struct(
        F.unix_seconds(F.col(ts)).alias("t"), F.col(event_col).alias("e")
    )
    grouped = df.groupBy(w.alias("w"), *keys).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.array_sort(F.collect_list(pairs)).alias("_seq"),
    )
    seq = F.transform(F.col("_seq"), lambda s: s["e"])
    if max_events is not None:
        seq = F.slice(seq, 1, max_events)
    return grouped.select(
        *keys,
        F.unix_seconds(F.col("w.start")).alias("session_start_s"),
        "n_events",
        F.array_join(seq, ">").alias("sequence"),
    )
