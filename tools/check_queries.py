"""Local mirror of the driver's correctness gate.

Runs every __spark_entry__.queries() entry on Spark and its oracle_sql()
twin on DuckDB at sf0.01, then compares row count, column-name set, and
order-insensitive values (exact for ints/strings, exact for our
determinism-engineered doubles; any mismatch prints the diff head).

Usage: GATE_SF_DIR=/root/testdata/sf0.1 python tools/check_queries.py [name ...]

The SF dir defaults to sf0.01 (the driver's scale) and is overridable via
GATE_SF_DIR so the same gate can verify results at sf0.1 — the scale the
bench runs at — per the r7 verdict's top ask (scale-sensitive dials like
max_df caps and LSH banding bind differently at 10x data).

Compare modes (GATE_COMPARE env, default "stream" — the r9 verdict #3 fix):

- "stream": MEMORY-FLAT compare at any SF. The Spark side computes an
  order-insensitive result signature (row count + the per-row md5 split
  into two 64-bit halves, each summed exactly as Python bigints) in the
  EXECUTORS via rdd.mapPartitions — one tiny (cnt, s1, s2) triple per
  partition reaches the driver, so driver memory no longer scales with
  the result (the r9 sf0.1 gate needed a 56 GiB driver to collect the
  two FK-changelog results; this mode retires that runbook note). The
  DuckDB side streams the same accumulator over fetchmany() chunks.
  Both sides run the IDENTICAL Python normalization (norm_cell), so
  there is zero cross-engine float/timestamp formatting risk — the
  signature matches iff the old sorted-rows compare matched (md5 is
  collision-free for our purposes; the summed-halves pair is a 128-bit
  commutative digest). On a signature mismatch with row counts under
  GATE_DIFF_CAP (default 200k), the entry is re-run in "collect" mode
  to print the first value diffs.
- "collect": the original r1-r10 behavior — full driver-side collect +
  sorted normalized rows + diff head. Still the default path for
  printing diffs; use for debugging single entries.

Every run appends one JSONL record per entry (name, verdict, error,
wall seconds) to .scratch/gate_logs/gate_<utc-stamp>_<pid>.jsonl — the
flight recorder: a failing entry's name survives even if stdout is
truncated or the terminal is lost (r6 verdict: one under-load flake
lost its name to output truncation; this makes that impossible).
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import sys
import time
from pathlib import Path

import duckdb

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

SF_DIR = os.environ.get("GATE_SF_DIR", "/root/testdata/sf0.01")
COMPARE_MODE = os.environ.get("GATE_COMPARE", "stream")  # stream | collect
DIFF_CAP = int(os.environ.get("GATE_DIFF_CAP", "200000"))

TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)  # full precision — we engineered bit-equality
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    return str(v)


def normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in order) for r in rows)


def _sig_accumulate(rows, order):
    """Order-insensitive signature of an iterable of indexable rows.

    Returns (count, sum-of-md5-high-halves, sum-of-md5-low-halves); the
    sums are exact Python bigints (commutative + associative, so partition
    partials merge by plain addition). Two results have equal signatures
    iff their normalized row multisets are md5-equal — the same criterion
    as the sorted-rows compare, without materializing the rows.
    """
    cnt = s1 = s2 = 0
    for r in rows:
        d = hashlib.md5(
            "|".join(norm_cell(r[i]) for i in order).encode()
        ).digest()
        s1 += int.from_bytes(d[:8], "big")
        s2 += int.from_bytes(d[8:], "big")
        cnt += 1
    return cnt, s1, s2


def spark_signature(sdf, cols):
    """Distributed signature: accumulate per executor partition, merge the
    tiny per-partition triples on the driver. Driver memory is O(partitions),
    flat in result size — this is the r9 verdict #3 fix (the old collect
    needed a 56 GiB driver for the sf0.1 FK-changelog entries)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    parts = sdf.rdd.mapPartitions(
        lambda it: [_sig_accumulate(it, order)]
    ).collect()
    return (
        sum(p[0] for p in parts),
        sum(p[1] for p in parts),
        sum(p[2] for p in parts),
    )


def duck_signature(res, cols, chunk=65536):
    """Streaming signature over DuckDB fetchmany chunks — same accumulator,
    same normalization, flat memory."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    cnt = s1 = s2 = 0
    while True:
        rows = res.fetchmany(chunk)
        if not rows:
            break
        c, a, b = _sig_accumulate(rows, order)
        cnt += c
        s1 += a
        s2 += b
    return cnt, s1, s2


def main() -> int:
    only = set(sys.argv[1:])
    import __spark_entry__ as e
    from kafka_streams_app_spark.engine import get_spark

    log_dir = ROOT / ".scratch" / "gate_logs"
    log_dir.mkdir(parents=True, exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    sf_tag = Path(SF_DIR).name  # e.g. sf0.01 / sf0.1 — makes the artifact self-describing
    log_path = log_dir / f"gate_{sf_tag}_{stamp}_{os.getpid()}.jsonl"
    log_f = open(log_path, "a", buffering=1)  # line-buffered: flushed per entry
    log_f.write(json.dumps({"sf_dir": SF_DIR}) + "\n")

    def record(name: str, verdict: str, err: str | None, wall: float) -> None:
        log_f.write(json.dumps({
            "entry": name, "verdict": verdict, "error": err,
            "wall_s": round(wall, 2),
        }) + "\n")

    print(f"gate log: {log_path}")
    spark = get_spark(shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        # driver testdata tables are single parquet FILES; scale-smoke
        # builds are Spark-written DIRECTORIES of part files — DuckDB
        # needs a glob for the latter
        p = f"{SF_DIR}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")

    qs, oracles = e.queries(), e.oracle_sql()

    def diff_head(name, fn, sql):
        """Collect-mode re-run for the first value diffs (small results only)."""
        srows = [tuple(r) for r in fn(spark, SF_DIR).collect()]
        scols = fn(spark, SF_DIR).columns
        res = con.execute(sql)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
        sn, dn = normalize(srows, scols), normalize(drows, dcols)
        diffs = [(a, b) for a, b in zip(sn, dn) if a != b]
        print(f"FAIL {name}: {len(diffs)} value diffs of {len(sn)} rows; head:")
        for a, b in diffs[:3]:
            print(f"  spark: {a}\n  duck : {b}")
        return (f"{len(diffs)} value diffs of {len(sn)}; head: "
                f"spark={diffs[0][0][:200]!r} duck={diffs[0][1][:200]!r}"
                if diffs else "sorted compare found no diff (hash anomaly)")

    n_pass = n_fail = n_weak = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        stream = COMPARE_MODE == "stream"
        try:
            sdf = fn(spark, SF_DIR)
            scols = sdf.columns
            if stream and name in oracles:
                ssig = spark_signature(sdf, scols)
                srows = None
            else:
                srows = [tuple(r) for r in sdf.collect()]
                ssig = None
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {ex}")
            record(name, "fail", f"spark error: {ex}", time.time() - t0)
            n_fail += 1
            # a JVM death (OOM) would cascade-fail every later entry on
            # the dead session (the r11 sf0.1 chunk-1 casualty shape) —
            # probe and rebuild so one bad entry costs one verdict
            try:
                spark.sql("SELECT 1").collect()
            except Exception:  # noqa: BLE001
                print("-- spark session dead; rebuilding JVM --")
                try:
                    spark.stop()
                except Exception:  # noqa: BLE001
                    pass
                spark = get_spark(shuffle_partitions=8)
            continue
        el = time.time() - t0
        if name not in oracles:
            print(f"weak {name}: rows={len(srows)} (no oracle) [{el:.1f}s]")
            record(name, "weak", None, el)
            n_weak += 1
            continue
        try:
            res = con.execute(oracles[name])
            dcols = [d[0] for d in res.description]
            if stream:
                dsig = duck_signature(res, dcols)
            else:
                drows = res.fetchall()
        except Exception as ex:  # noqa: BLE001
            print(f"FAIL {name}: duckdb error: {ex}")
            record(name, "fail", f"duckdb error: {ex}", el)
            n_fail += 1
            continue
        if sorted(scols) != sorted(dcols):
            print(f"FAIL {name}: cols spark={sorted(scols)} duck={sorted(dcols)}")
            record(name, "fail", f"cols spark={sorted(scols)} duck={sorted(dcols)}", el)
            n_fail += 1
            continue
        if stream:
            n_s, n_d = ssig[0], dsig[0]
        else:
            n_s, n_d = len(srows), len(drows)
        if n_s != n_d:
            print(f"FAIL {name}: rows spark={n_s} duck={n_d}")
            record(name, "fail", f"rows spark={n_s} duck={n_d}", el)
            n_fail += 1
            continue
        if stream:
            if ssig != dsig:
                if n_s <= DIFF_CAP:
                    err = diff_head(name, fn, oracles[name])
                else:
                    err = (f"signature mismatch over {n_s} rows "
                           f"(> GATE_DIFF_CAP={DIFF_CAP}; rerun entry with "
                           f"GATE_COMPARE=collect for diffs)")
                    print(f"FAIL {name}: {err}")
                record(name, "fail", err, el)
                n_fail += 1
                continue
        else:
            sn, dn = normalize(srows, scols), normalize(drows, dcols)
            if sn != dn:
                diffs = [(a, b) for a, b in zip(sn, dn) if a != b]
                print(f"FAIL {name}: {len(diffs)} value diffs of {len(sn)} rows; head:")
                for a, b in diffs[:3]:
                    print(f"  spark: {a}\n  duck : {b}")
                record(name, "fail",
                       f"{len(diffs)} value diffs of {len(sn)}; head: "
                       f"spark={diffs[0][0][:200]!r} duck={diffs[0][1][:200]!r}", el)
                n_fail += 1
                continue
        print(f"PASS {name}: rows={n_s} [{el:.1f}s]")
        record(name, "pass", None, el)
        n_pass += 1
    summary = f"{n_pass} pass, {n_weak} weak (no oracle), {n_fail} fail"
    log_f.write(json.dumps({"summary": summary}) + "\n")
    log_f.close()
    print(f"\n{summary}  (log: {log_path})")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
