"""Incremental trailing-n rolling average: the streaming twin of
operators/analytics.py:rolling_stats.

Kafka-Streams-aggregate shape (state updated per record in arrival
order, one emission per input record — the same contract as
streaming/zscore.py): per key the state is the ring of the last n
values as exact DECIMAL(30,6) micro-unit integers (computed JVM-side
by zscore.with_micro_units, so the double→decimal rounding is
Spark's). Each record appends to the ring, trims to n, and emits

    roll_avg = (sum(ring) / 10⁶) / len(ring)

— the integer ring sum is exact; the two double divisions are the
same operation sequence as the oracle's CAST(SUM(decimal) AS DOUBLE)
/ count(*) (the decimal→double conversion of an integer-valued
decimal IS the correctly-rounded sum/10⁶ while the sum stays below
2^53 micro-units, i.e. window sums < ~9·10⁹ in value units — far
beyond any trailing-n frame), so stream output == the batch
window-function result row for row.

State: one string of ≤ n comma-joined micro-unit ints per key —
bounded by n, unbounded-width ints, never wraps. Scale: identical
shuffle/state layout to the other TWS operators (hash-partitioned by
key, RocksDB); per-record work is O(n) on tiny ints.
"""

from __future__ import annotations

import logging

from bisect import bisect_left, bisect_right
from collections import deque
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from kafka_streams_app_spark.streaming.replay import run_stateful

_U = 1_000_000

_LOG = logging.getLogger(__name__)

_STATE_SCHEMA = StructType([StructField("ring", StringType(), True)])


class _RollingAvg(StatefulProcessor):
    def __init__(self, keys: list[str], seq_col: str, value_col: str, n: int):
        self.keys = keys
        self.seq_col = seq_col
        self.value_col = value_col
        self.n = n
        self.out_columns = keys + [seq_col, value_col, "roll_n", "roll_avg"]

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.state = handle.getValueState("ring", _STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows)).sort_values(self.seq_col, kind="stable")
        ring: deque[int] = deque(
            int(x) for x in self.state.get()[0].split(",") if x
        ) if self.state.exists() else deque()
        # running exact-int sum: O(1) per record instead of O(n) re-sum,
        # with deque.popleft O(1) eviction (a list's pop(0) shifts the
        # whole ring)
        s = sum(ring)
        out: list[tuple] = []
        for seq, val, u in zip(
            pdf[self.seq_col].tolist(),
            pdf[self.value_col].tolist(),
            pdf["zu"].tolist(),
        ):
            ring.append(int(u))
            s += int(u)
            if len(ring) > self.n:
                s -= ring.popleft()
            cnt = len(ring)
            out.append(key + (seq, val, cnt, (s / 1e6) / cnt))
        self.state.update((",".join(str(x) for x in ring),))
        yield pd.DataFrame(out, columns=self.out_columns)

    def close(self) -> None:
        pass


def _plan(df: DataFrame, keys, seq_col, value_col, n):
    proc = _RollingAvg(keys, seq_col, value_col, n)
    in_schema = df.schema
    out_schema = StructType(
        [StructField(k, in_schema[k].dataType, True) for k in keys]
        + [
            StructField(seq_col, in_schema[seq_col].dataType, True),
            StructField(value_col, DoubleType(), True),
            StructField("roll_n", LongType(), True),
            StructField("roll_avg", DoubleType(), True),
        ]
    )
    return proc, out_schema


def _prepared(df, keys, seq_col, value_col):
    needed = list(dict.fromkeys(keys + [seq_col, value_col, "zu"]))
    return df.select(*needed).na.drop(subset=keys)


def rolling_avg(
    df: DataFrame,
    keys: list[str],
    seq_col: str,
    value_col: str,
    n: int = 10,
) -> DataFrame:
    """Incremental trailing-n rolling average over a streaming or batch
    DataFrame carrying zscore.with_micro_units' `zu` column
    (streaming/replay.py:run_stateful)."""
    df = _prepared(df, keys, seq_col, value_col)
    proc, out_schema = _plan(df, keys, seq_col, value_col, n)
    return run_stateful(df, keys, proc, out_schema)


_TIME_STATE_SCHEMA = StructType([StructField("ring", StringType(), True)])


class _TimeRollingAvg(StatefulProcessor):
    """Trailing-HORIZON (wall-clock) rolling aggregate — the streaming
    twin of operators/analytics.py:rolling_time_stats, under the same
    Kafka-Streams-aggregate contract as _RollingAvg: one emission per
    input record whose frame is the records with (ts_s, seq) at or
    before its own and ts_s in (cur - horizon, cur] — in EVENT order,
    not arrival order.

    Peer note (what distinguishes this from the batch RANGE frame): a
    batch RANGE frame gives every same-second row the WHOLE
    same-second group including later peers; an incremental operator
    cannot see future peers, so each record's frame cuts at its own
    (ts_s, seq) position — the oracle is the correlated form with
    exactly that cut, all-integer comparisons.

    Out-of-order arrival (the r12 ADVICE hazard): a row may arrive in
    a LATER micro-batch than rows with larger ts_s. Appending it at
    the ring tail would silently pollute its frame with future events,
    so instead:

    - the ring is kept SORTED by (ts_s, seq); a late row is
      bisect-inserted at its event-time position and its frame is read
      off the sorted ring exactly;
    - rows already emitted whose frame should have included the late
      row (ts_s in [late, late + horizon), at-or-after it in event
      order) are RE-EMITTED with corrected win_n/win_sum/win_avg —
      update-mode changelog semantics; a sink applying last-wins per
      (key, seq) converges to the batch/oracle result;
    - correctness is guaranteed for lateness ≤ ``lateness_s``:
      eviction keeps everything within horizon + lateness of the
      per-key max ts_s, so no frame member a tolerated late row needs
      has been discarded. A row later than that is DEAD-LETTERED by
      default (``on_late='dead_letter'``): it is NOT inserted (its
      frame may already be evicted, so any emission would be silent
      corruption) and is instead emitted as a marker row with
      win_n = -1 and NULL win_sum/win_avg — countable and routable
      downstream (``filter(win_n = -1)``), while the in-bound rows
      stay exact as if the dropped row never arrived. Every (key,
      batch) that dead-letters also logs an executor-side WARNING so
      the degradation is visible without downstream instrumentation
      (r14 ADVICE). At 100× a
      misconfigured lateness then degrades observably instead of
      killing the query. ``on_late='fail'`` is the opt-in strict
      mode: RAISE on the first beyond-bound row. lateness_s=0 still
      handles same-second seq disorder exactly either way.

    State: "maxts|t:q:u:vhex,..." — the sorted ring of
    (ts_s, seq, micro-units, value-bits) within horizon + lateness of
    the per-key max event time, bounded by (horizon+lateness) x
    per-key event rate (the honest bound of any wall-clock frame; the
    ROWS-frame twin bounds by n instead). Per-record work is
    O(frame) — same as the sum it must produce. seq values must be
    integral (the driver contract uses event_id longs); value bits
    round-trip via float.hex() so re-emitted rows carry the exact
    original double.
    """

    def __init__(self, keys: list[str], seq_col: str, ts_col: str,
                 value_col: str, horizon_s: int, lateness_s: int = 0,
                 on_late: str = "dead_letter"):
        if on_late not in ("dead_letter", "fail"):
            raise ValueError(
                f"on_late must be 'dead_letter' or 'fail', got {on_late!r}"
            )
        self.keys = keys
        self.seq_col = seq_col
        self.ts_col = ts_col
        self.value_col = value_col
        self.horizon_s = horizon_s
        self.lateness_s = lateness_s
        self.on_late = on_late
        self.out_columns = keys + [
            ts_col, seq_col, value_col, "win_n", "win_sum", "win_avg"
        ]

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.state = handle.getValueState("ring", _TIME_STATE_SCHEMA)

    def _emit(self, key, ring, pos):
        """Frame of ring[pos]: entries at index ≤ pos with
        ts > ring[pos].ts - horizon, read off the sorted ring."""
        ts_s, seq, _, vhex = ring[pos]
        start = bisect_right(ring, ts_s - self.horizon_s, key=lambda e: e[0])
        s = sum(ring[i][2] for i in range(start, pos + 1))
        cnt = pos + 1 - start
        return key + (
            ts_s, seq, float.fromhex(vhex), cnt, s / 1e6, (s / 1e6) / cnt
        )

    def handleInputRows(self, key, rows, timerValues) -> Iterator[pd.DataFrame]:
        pdf = pd.concat(list(rows)).sort_values(
            [self.ts_col, self.seq_col], kind="stable"
        )
        ring: list[tuple[int, int, int, str]] = []
        max_ts: int | None = None
        if self.state.exists():
            blob = self.state.get()[0]
            head, sep, body = blob.partition("|")
            if not sep:
                # pre-r13 checkpoints stored a bare 't:u,...' ring with
                # no 'maxts|' head; int(blob) would crash opaquely, so
                # name the incompatibility instead (r13 ADVICE)
                raise ValueError(
                    "rolling_time_avg: incompatible state format "
                    f"(legacy ring blob {blob[:40]!r}... without the "
                    "'maxts|' head, written by a pre-out-of-order "
                    "version); restart from a fresh checkpoint"
                )
            max_ts = int(head) if head else None
            for x in body.split(","):
                if x:
                    parts = x.split(":", 3)
                    if len(parts) != 4:
                        raise ValueError(
                            "rolling_time_avg: incompatible state "
                            f"format (ring entry {x!r} is not "
                            "'t:q:u:vhex'; written by a pre-out-of-order "
                            "version); restart from a fresh checkpoint"
                        )
                    t, q, u, vhex = parts
                    ring.append((int(t), int(q), int(u), vhex))
        out: list[tuple] = []
        n_dead = 0
        for ts_s, seq, val, u in zip(
            pdf[self.ts_col].tolist(),
            pdf[self.seq_col].tolist(),
            pdf[self.value_col].tolist(),
            pdf["zu"].tolist(),
        ):
            ts_s, seq = int(ts_s), int(seq)
            if max_ts is not None and ts_s < max_ts - self.lateness_s:
                if self.on_late == "fail":
                    raise ValueError(
                        f"rolling_time_avg: record (ts_s={ts_s}, "
                        f"{self.seq_col}={seq}) arrived {max_ts - ts_s}s "
                        f"behind per-key stream time {max_ts}, beyond "
                        f"lateness_s={self.lateness_s}; its frame may "
                        "already be evicted. Raise lateness_s or feed the "
                        "source in (ts, seq) order."
                    )
                # dead-letter: do NOT insert (frame members may be
                # evicted); emit a countable marker row instead
                out.append(key + (ts_s, seq, float(val), -1, None, None))
                n_dead += 1
                continue
            entry = (ts_s, seq, int(u), float(val).hex())
            pos = bisect_left(ring, entry[:2], key=lambda e: e[:2])
            ring.insert(pos, entry)
            out.append(self._emit(key, ring, pos))
            # changelog corrections for already-emitted later rows whose
            # frame now includes this (late) row
            for j in range(pos + 1, len(ring)):
                if ring[j][0] >= ts_s + self.horizon_s:
                    break
                out.append(self._emit(key, ring, j))
            max_ts = ts_s if max_ts is None else max(max_ts, ts_s)
        cutoff = max_ts - self.horizon_s - self.lateness_s
        ring = ring[bisect_right(ring, cutoff, key=lambda e: e[0]):]
        self.state.update(
            (f"{max_ts}|" + ",".join(
                f"{t}:{q}:{u}:{vhex}" for t, q, u, vhex in ring
            ),)
        )
        if n_dead:
            # dead-lettering must be VISIBLE without downstream
            # instrumentation (r14 ADVICE): the aggregates this batch
            # excludes are quietly smaller otherwise. Executor-side
            # log, one line per (key, batch) that dropped anything.
            _LOG.warning(
                "rolling_time_avg: dead-lettered %d row(s) for key %s "
                "beyond lateness_s=%d (emitted as win_n=-1 markers); "
                "raise lateness_s or use on_late='fail' if late data "
                "must not be excluded",
                n_dead, key, self.lateness_s,
            )
        yield pd.DataFrame(out, columns=self.out_columns)

    def close(self) -> None:
        pass


def _time_plan(df, keys, seq_col, ts_col, value_col, horizon_s, lateness_s=0,
               on_late="dead_letter"):
    proc = _TimeRollingAvg(
        keys, seq_col, ts_col, value_col, horizon_s, lateness_s, on_late
    )
    in_schema = df.schema
    out_schema = StructType(
        [StructField(k, in_schema[k].dataType, True) for k in keys]
        + [
            StructField(ts_col, LongType(), True),
            StructField(seq_col, in_schema[seq_col].dataType, True),
            StructField(value_col, DoubleType(), True),
            StructField("win_n", LongType(), True),
            StructField("win_sum", DoubleType(), True),
            StructField("win_avg", DoubleType(), True),
        ]
    )
    return proc, out_schema


def _time_prepared(df, keys, seq_col, ts_col, value_col):
    needed = list(dict.fromkeys(keys + [seq_col, ts_col, value_col, "zu"]))
    return df.select(*needed).na.drop(subset=keys)


def rolling_time_avg(
    df: DataFrame,
    keys: list[str],
    seq_col: str,
    ts_col: str,
    value_col: str,
    horizon_s: int = 300,
    lateness_s: int = 0,
    on_late: str = "dead_letter",
) -> DataFrame:
    """Incremental trailing-horizon rolling aggregate over a streaming
    or batch DataFrame (streaming/replay.py:run_stateful) carrying
    zscore.with_micro_units' `zu` column and an integer epoch-seconds
    `ts_col`.

    lateness_s bounds tolerated cross-batch event-time disorder: late
    rows within it are bisect-inserted and already-emitted frames they
    belong to are re-emitted corrected (last-wins per (key, seq) — the
    max-win_n row — converges to the batch result); rows later than it
    are dead-lettered (win_n = -1 marker rows, countable downstream,
    plus an executor-side WARNING log per affected key-batch)
    by default, or fail fast with on_late='fail'."""
    df = _time_prepared(df, keys, seq_col, ts_col, value_col)
    proc, out_schema = _time_plan(
        df, keys, seq_col, ts_col, value_col, horizon_s, lateness_s, on_late
    )
    return run_stateful(df, keys, proc, out_schema)

