"""The benchmark's two workloads.

Each workload function takes a ``Run`` (session, seed, measurement
window, tracer, memory sampler) and fills in its end-to-end numbers,
per-layer numbers and the outcome counts. The program is only called
through its public functions: ``__spark_entry__.queries()`` entries,
``sources.catalog``, ``streaming`` builders, ``streaming.sinks.StoreMirror``
and ``iq_service.IQService``.
"""

from __future__ import annotations

import itertools
import json
import os
import statistics
import threading
import time
import urllib.error
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as registry
from kafka_streams_app_spark.iq_service import IQService
from kafka_streams_app_spark.sources import catalog
from kafka_streams_app_spark.streaming import windows as stream_windows
from kafka_streams_app_spark.streaming.sinks import StoreMirror
from pyspark.sql.streaming.readwriter import DataStreamWriter

from perfbench import gen, oracle
from perfbench.measure import (
    RssSampler, Tracer, count_python_nodes, execution_count, job_totals, jobs_since,
    max_job_id, percentile, progress_totals, python_nodes_since, union_seconds,
)

# the repository's fixed sf0.01 test tables
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")

# Halves as their executed plans show them (checked on every run). The
# list is short enough for two passes in a 12 s run, with a full
# measurement of both workloads (48 runs) still inside the hour.
BATCH_JVM = ["t1_wordcount", "a2_windowed_count", "j5_table_join_inner",
             "j8_fk_join_inner_agg", "tpch_q3_top_revenue"]
BATCH_PY = ["dedup_minhash_lsh", "sim_semdedup"]

LIVE_RATE = 2000  # events per second, open loop
LIVE_TICK_S = 0.5
LIVE_USERS = 2000
ZIPF_EXPONENT = 1.1
LIVE_WINDOW_S = 10
LIVE_GRACE_S = 5
LIVE_WARM_TICKS = 4
BURST_EVENTS = 20_000  # one burst file each, after the window
BURSTS = 6  # the first warms the query up for large batches and is not scored

IQ_REQUESTS = 40  # in the batch workload's IQ phase, Q1 and Q4 in turn
GEN_REPS = 3


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    trace: bool
    tracer: Tracer
    rss: RssSampler
    rng: np.random.Generator = None
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    errors: list = field(default_factory=list)
    gen_s: float = 0.0
    warmup_s: float = 0.0

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)

    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {exc}"[:300])


# -- instrumentation hooks --------------------------------------------------

class Hooks:
    """Wraps the registry's source loaders so a traced run gets `sources`
    spans, and every run learns which tables each entry read."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.tables: list[str] = []
        self._saved = []

    def __enter__(self) -> Hooks:
        tracer, tables = self.tracer, self.tables

        def wrap_loader(fn):
            def load(spark, sf_dir, name):
                tables.append(name)
                with tracer.span(f"{fn.__name__}:{name}", "sources"):
                    return fn(spark, sf_dir, name)
            return load

        for attr in ("load_table", "load_stream"):
            orig = getattr(registry, attr)
            self._saved.append((attr, orig))
            setattr(registry, attr, wrap_loader(orig))
        return self

    def __exit__(self, *exc) -> None:
        for attr, orig in reversed(self._saved):
            setattr(registry, attr, orig)


@contextmanager
def sink_spans(tracer: Tracer, traced_batch):
    """While a query starts, wrap the function it hands to foreachBatch,
    so each micro-batch id that `traced_batch` picks runs its sink write
    inside a `sinks` span (and that span's job group)."""
    orig = DataStreamWriter.foreachBatch

    def foreach_batch(writer, func):
        def write_batch(batch_df, batch_id):
            if not traced_batch(batch_id):
                return func(batch_df, batch_id)
            with tracer.span(f"write_batch:{batch_id}", "sinks"):
                return func(batch_df, batch_id)
        return orig(writer, write_batch)

    DataStreamWriter.foreachBatch = foreach_batch
    try:
        yield
    finally:
        DataStreamWriter.foreachBatch = orig


def _more_traced_passes(run: Run, passes_done: int) -> bool:
    """A traced run alternates untraced and traced passes and ends on an
    untraced one after at least three, so the traced passes sit between
    untraced ones and warm-up drift does not pass for tracing overhead."""
    return run.trace and (passes_done < 3 or passes_done % 2 == 0)


def timed_median(fn, reps: int = GEN_REPS) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


# -- interactive queries ------------------------------------------------------

@dataclass
class IQStats:
    q1: list = field(default_factory=list)
    q4: list = field(default_factory=list)
    non200: int = 0
    mismatches: int = 0
    started: float = 0.0
    ended: float = 0.0
    wall_started: float = 0.0
    wall_ended: float = 0.0

    @property
    def all(self) -> list:
        return self.q1 + self.q4


def _get(port: int, path: str) -> tuple[int, object]:
    """One GET over a loopback connection (the service speaks HTTP/1.0,
    so each request opens its own connection)."""
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=30) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, None


def _rows_key(rows: list[dict]) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def _expected(pdf: pd.DataFrame) -> list[str]:
    return _rows_key([{k: (v.item() if hasattr(v, "item") else v) for k, v in r.items()}
                      for r in pdf.to_dict("records")])


def iq_snapshot_phase(run: Run, kv: tuple[str, str, object],
                      win: tuple[str, str, object]) -> IQStats:
    """Closed-loop IQ over two materialized snapshots: `kv` and `win` are
    (store name, key column, DataFrame); `win` is keyed by its key column
    and `window_start_s`. Each answer is compared with a pandas read of
    the same store file."""
    spark, svc, stats = run.spark, IQService(), IQStats()
    stores = {}
    for (name, key, df), start_col in ((kv, None), (win, "window_start_s")):
        path = os.path.join(run.work, "stores", name)
        df.write.mode("overwrite").parquet(path)
        svc.register(name, spark.read.parquet(path), key,
                     key_parser=str if df.schema[key].dataType.typeName() == "string" else int,
                     start_col=start_col)
        stores[name] = (key, pq.read_table(path).to_pandas())
    port = svc.start()
    kv_name, win_name = kv[0], win[0]
    try:
        stats.started, stats.wall_started = time.perf_counter(), time.time()
        for i in range(IQ_REQUESTS):
            if i % 2 == 0:
                key_col, pdf = stores[kv_name]
                k = pdf[key_col].iloc[int(run.rng.integers(0, len(pdf)))]
                path, want = f"/state/keyvalue/{kv_name}/{k}", pdf[pdf[key_col] == k]
                bucket = stats.q1
            else:
                key_col, pdf = stores[win_name]
                row = pdf.iloc[int(run.rng.integers(0, len(pdf)))]
                k, s = row[key_col], int(row["window_start_s"])
                path = f"/state/windowed/{win_name}/{k}/{s - 60}/{s + 60}"
                want = pdf[(pdf[key_col] == k) & pdf["window_start_s"].between(s - 60, s + 60)]
                bucket = stats.q4
            run.attempted += 1
            with run.tracer.span(path.split("/")[2], "iq"):
                t0 = time.perf_counter()
                status, body = _get(port, path)
                bucket.append(time.perf_counter() - t0)
            if status != 200:
                stats.non200 += 1
                run.fail(f"iq {path}", f"HTTP {status}")
            elif _rows_key(body) != _expected(want):
                stats.mismatches += 1
        stats.ended, stats.wall_ended = time.perf_counter(), time.time()
    finally:
        svc.stop()
    run.wrong += stats.mismatches
    return stats


# -- shared metric assembly ----------------------------------------------------

def _iq_metrics(run: Run, stats: IQStats, window_s: float) -> None:
    lat = stats.all
    run.e2e["iq_latency_p50_s"] = (percentile(lat, 50), "s")
    run.e2e["iq_latency_p90_s"] = (percentile(lat, 90), "s")
    run.e2e["iq_per_s"] = (len(lat) / window_s if window_s > 0 else 0.0, "req/s")
    run.layer["iq.q1_p50_s"] = (percentile(stats.q1, 50), "s")
    run.layer["iq.q4_p50_s"] = (percentile(stats.q4, 50), "s")
    run.layer["iq.non200"] = (stats.non200, "count")
    run.report["iq_samples"] = len(lat)


def _spark_layer_metrics(run: Run, jobs: list[dict], units: list[tuple[float, float]],
                         build_spans: list[tuple[float, float]], per: int = 1) -> None:
    """spark.* totals over `jobs`, and driver.gap_s: the time inside the
    measured units covered neither by a job nor by a plan build. Totals
    are divided by `per`, the number of traced passes."""
    tot = job_totals(jobs)
    run.layer.update({
        "spark.jobs": (tot["jobs"] / per, "count"), "spark.stages": (tot["stages"] / per, "count"),
        "spark.tasks": (tot["tasks"] / per, "count"),
        "spark.executor_run_s": (tot["run_s"] / per, "s"),
        "spark.executor_cpu_s": (tot["cpu_s"] / per, "s"),
        "spark.gc_s": (tot["gc_s"] / per, "s"),
        "spark.input_bytes": (tot["input_bytes"] / per, "bytes"),
        "spark.shuffle_read_bytes": (tot["shuffle_read_bytes"] / per, "bytes"),
        "spark.shuffle_write_bytes": (tot["shuffle_write_bytes"] / per, "bytes"),
        "spark.spill_bytes": (tot["spill_bytes"] / per, "bytes"),
        "spark.task_skew": (tot["skew"], "ratio"),
    })
    gap = 0.0
    for s, e in units:
        inside = [(max(a, s), min(b, e)) for a, b in
                  [(j["start"], j["end"]) for j in jobs if j["start"] and j["end"]] + build_spans
                  if b > s and a < e]
        gap += (e - s) - union_seconds(inside)
    run.layer["driver.gap_s"] = (gap / per, "s")


def _self_time_metrics(run: Run, self_times: dict[str, float], unattributed: float,
                       self_sum: float, traced_wall: float, untraced_wall: float) -> None:
    """`self_times` and `unattributed` are per unit (a pass or a traced
    micro-batch); `self_sum` is the layers' summed self time of a traced
    unit, set against the untraced unit wall."""
    run.report["self_times_s"] = self_times
    run.report["unattributed_s"] = unattributed
    run.layer["trace.overhead_frac"] = (
        traced_wall / untraced_wall - 1.0 if untraced_wall > 0 else 0.0, "ratio")
    run.layer["trace.self_sum_frac"] = (self_sum / untraced_wall if untraced_wall > 0 else 0.0,
                                        "ratio")


def _streaming_layer_metrics(run: Run, progress: list[dict], wall: float) -> None:
    pt = progress_totals(progress)
    run.report["streaming"] = pt
    share = (lambda x: x / wall if wall > 0 else 0.0)
    run.layer.update({
        "streaming.batches": (pt["batches"], "count"),
        "streaming.busy_share": (share(pt["trigger_s"]), "ratio"),
        "streaming.add_batch_share": (share(pt["add_batch_s"]), "ratio"),
        "streaming.floor_share": (share(pt["trigger_s"] - pt["add_batch_s"]), "ratio"),
        "streaming.state_rows_total": (pt["state_rows_total"], "count"),
        "streaming.state_memory_bytes": (pt["state_memory_bytes"], "bytes"),
        "streaming.rows_dropped_by_watermark": (pt["rows_dropped_by_watermark"], "count"),
    })


def _iq_jobs_per_request(spark, job0: int, stats: IQStats) -> float:
    """The service runs each request's jobs on its own handler thread, so
    they are found by time: nothing else runs during the IQ phase."""
    jobs = [j for j in jobs_since(spark.sparkContext, job0)
            if j["start"] and stats.wall_started <= j["start"] <= stats.wall_ended]
    return len(jobs) / max(len(stats.all), 1)


def _span_sum(tracer: Tracer, layer: str, since: int) -> float:
    return sum(s.end - s.start for s in tracer.spans[since:] if s.layer == layer)


def _jobs_in_groups(jobs: list[dict], tracer: Tracer, layer: str) -> int:
    groups = {s.group for s in tracer.spans if s.layer == layer}
    return sum(1 for j in jobs if j["group"] in groups)


# -- batch_registry -------------------------------------------------------------

@dataclass
class Passes:
    walls: dict = field(default_factory=lambda: {False: [], True: []})  # traced? -> walls
    entry_walls: dict = field(default_factory=dict)
    units: list = field(default_factory=list)  # traced pass intervals (epoch s)
    builds: list = field(default_factory=list)  # plan build intervals (epoch s)
    measured_s: float = 0.0
    job0: int = 0
    span0: int = 0


def measured_passes(run: Run, names: list[str], data: str) -> Passes:
    """Run passes over the registry entries `names` through the noop sink,
    in an order the seed shuffles per pass, for --seconds. With --trace 1
    the passes alternate untraced and traced (see _more_traced_passes)."""
    spark, tracer, qs = run.spark, run.tracer, registry.queries()
    ps = Passes(entry_walls={n: [] for n in names}, job0=max_job_id(spark) + 1,
                span0=len(tracer.spans))
    start = time.perf_counter()
    k = 0
    while time.perf_counter() - start < run.seconds or _more_traced_passes(run, k):
        traced = run.trace and k % 2 == 1
        tracer.enabled = traced
        p0 = time.time()
        with tracer.span(f"pass{k}", "bench"):
            for name in [names[i] for i in run.rng.permutation(len(names))]:
                run.attempted += 1
                t0 = time.perf_counter()
                try:
                    with tracer.span(name, "operators"):
                        b0 = time.time()
                        df = qs[name](spark, data)
                        ps.builds.append((b0, time.time()))
                    with tracer.span(name, "spark"):
                        df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # noqa: BLE001 - a failing entry is counted, not fatal
                    run.fail(name, e)
                    continue
                ps.entry_walls[name].append(time.perf_counter() - t0)
        p1 = time.time()
        ps.walls[traced].append(p1 - p0)
        if traced:
            ps.units.append((p0, p1))
        k += 1
    tracer.enabled = False
    ps.measured_s = time.perf_counter() - start
    return ps


def _pass_metrics(run: Run, ps: Passes, events_per_pass: int, iq: IQStats) -> None:
    """End-to-end metrics of the pass workload; per-layer ones when traced."""
    spark, tracer = run.spark, run.tracer
    wall = statistics.median(ps.walls[False])
    samples = [w for ws in ps.entry_walls.values() for w in ws]
    run.e2e["wall_s"] = (wall, "s")
    run.e2e["events_per_s"] = (events_per_pass / wall, "events/s")
    run.e2e["emit_latency_p50_s"] = (percentile(samples, 50), "s")
    run.e2e["emit_latency_p90_s"] = (percentile(samples, 90), "s")
    _iq_metrics(run, iq, iq.ended - iq.started)
    run.report["passes"] = len(ps.walls[False]) + len(ps.walls[True])
    run.report["pass_walls_s"] = ps.walls[False]
    run.report["measured_s"] = ps.measured_s
    for name, walls in ps.entry_walls.items():
        run.report[f"batch.{name}.wall_s"] = statistics.median(walls) if walls else None
    run.layer["live.backlog_events_end"] = (0, "count")
    run.layer["sinks.mirror_files"] = (0, "count")
    run.layer["sinks.mirror_bytes"] = (0, "bytes")
    run.layer["gen.events"] = (0, "count")  # fixed fixtures, no generator
    _streaming_layer_metrics(run, [], 0.0)  # no streaming query runs
    if not run.trace:
        return
    in_units = (lambda t: any(s <= t <= e for s, e in ps.units))
    jobs = [j for j in jobs_since(spark.sparkContext, ps.job0) if in_units(j["start"] or 0)]
    n_traced = len(ps.walls[True])
    _spark_layer_metrics(run, jobs, ps.units, [b for b in ps.builds if in_units(b[0])],
                         per=n_traced)
    # the pass span's own time is the benchmark's loop, not a layer's:
    # it is reported as unattributed and left out of the layers' sum
    self_t = {k: v / n_traced for k, v in tracer.self_times(ps.span0).items() if k != "iq"}
    unattributed = self_t.pop("bench", 0.0)
    _self_time_metrics(run, self_t, unattributed, sum(self_t.values()),
                       statistics.median(ps.walls[True]), wall)
    run.layer["sources.load_s"] = (_span_sum(tracer, "sources", ps.span0) / n_traced, "s")
    run.layer["sources.load_jobs"] = (_jobs_in_groups(jobs, tracer, "sources") / n_traced,
                                      "count")
    run.layer["operators.build_s"] = (self_t.get("operators", 0.0), "s")
    run.layer["operators.build_jobs"] = (
        _jobs_in_groups(jobs, tracer, "operators") / n_traced, "count")
    run.layer["iq.jobs_per_request"] = (_iq_jobs_per_request(spark, ps.job0, iq), "ratio")


def _check_against_oracle(run: Run, data: str, spark_results: dict) -> None:
    """DuckDB side of the output check, outside every timed region."""
    sqls = registry.oracle_sql()
    duck = oracle.Oracle(data)
    try:
        for name, res in spark_results.items():
            err = oracle.compare(duck, sqls[name], res)
            if err:
                run.wrong += 1
                run.errors.append(f"{name}: {err}")
    finally:
        duck.close()


def batch_registry(run: Run) -> None:
    spark, tracer = run.spark, run.tracer
    qs = registry.queries()
    data = FIXTURES
    names = BATCH_JVM + BATCH_PY
    with Hooks(tracer) as hooks:
        # warm-up: each entry once, computing its result signature (the
        # output check's Spark side) instead of a noop write
        spark_results, entry_tables, py_nodes, warm = {}, {}, {}, {}
        t0 = time.perf_counter()
        for name in names:
            run.attempted += 1
            n_tab, ex0, e0 = len(hooks.tables), execution_count(spark), time.perf_counter()
            try:
                df = qs[name](spark, data)
                # the half check: nodes in eager build-time executions plus
                # nodes in the result's own physical plan
                py_nodes[name] = python_nodes_since(spark, ex0) + count_python_nodes(
                    str(df._jdf.queryExecution().executedPlan().toString()))
                spark_results[name] = oracle.spark_side(df)
            except Exception as e:  # noqa: BLE001 - a failing entry is counted, not fatal
                run.fail(name, e)
            entry_tables[name] = hooks.tables[n_tab:]
            warm[name] = time.perf_counter() - e0
        # and one noop pass: without it the first measured pass ran slow
        for name in names:
            run.attempted += 1
            try:
                qs[name](spark, data).write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 - a failing entry is counted, not fatal
                run.fail(name, e)
        run.warmup_s = time.perf_counter() - t0
        run.report["warmup_entry_s"] = warm
        ps = measured_passes(run, names, data)

    # IQ over two batch snapshots: a table-join result and a windowed count
    tracer.enabled = run.trace
    iq = iq_snapshot_phase(run, ("j5_store", "user_id", qs["j5_table_join_inner"](spark, data)),
                           ("a2_store", "event_type", qs["a2_windowed_count"](spark, data)))
    tracer.enabled = False
    run.rss.freeze()
    c0 = time.perf_counter()
    _check_against_oracle(run, data, spark_results)
    run.report["check_s"] = time.perf_counter() - c0

    rows = {t: pq.ParquetFile(os.path.join(data, f"{t}.parquet")).metadata.num_rows
            for t in set(hooks.tables)}
    _pass_metrics(run, ps, sum(rows[t] for n in names for t in entry_tables.get(n, [])), iq)
    run.report["python_nodes"] = py_nodes
    run.report["half_confirmed"] = (all(py_nodes.get(n) == 0 for n in BATCH_JVM)
                                    and all(py_nodes.get(n, 0) > 0 for n in BATCH_PY))
    run.layer["spark.python_nodes"] = (sum(py_nodes.values()), "count")


def _progress_end(p: dict) -> float:
    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    return start + p.get("durationMs", {}).get("triggerExecution", 0) / 1000.0


# -- live_ingest_iq -------------------------------------------------------------

def _file_offsets(checkpoint: str) -> dict[str, int]:
    """File name -> the file source's log offset that admitted it, from
    the source log in the checkpoint."""
    out = {}
    src = os.path.join(checkpoint, "sources", "0")
    for fn in os.listdir(src) if os.path.isdir(src) else []:
        if fn.startswith("."):
            continue
        with open(os.path.join(src, fn)) as f:
            for line in f:
                line = line.strip()
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _log_offset(offset) -> int:
    if offset is None:
        return -1
    if isinstance(offset, str):
        offset = json.loads(offset)
    return int(offset["logOffset"]) if isinstance(offset, dict) else int(offset)


def _batch_of_offset(progress: list[dict]) -> dict[int, int]:
    """Source log offset -> id of the micro-batch that read it."""
    out = {}
    for p in progress:
        src = p.get("sources") or [{}]
        lo, hi = _log_offset(src[0].get("startOffset")), _log_offset(src[0].get("endOffset"))
        for off in range(lo + 1, hi + 1):
            out[off] = p["batchId"]
    return out


def _live_trace_metrics(run: Run, progress: list[dict], data_batches: list[dict],
                        window: tuple[float, float], n_requests: int) -> None:
    """Per-layer numbers of a traced live run. Odd micro-batches run their
    sink write in a `sinks` span, even ones do not; the two kinds
    interleave, so growth of the state and the mirror over the run
    cancels out of the overhead. Per traced micro-batch:

    - `spark`: the union of its jobs' intervals, from the status store;
    - `sinks`: the foreachBatch span minus that job time;
    - `streaming`: the progress phases outside addBatch (offsets, WAL,
      planning, commit).

    Each is measured on its own, so the part of the trigger wall that none
    covers is left over as unattributed."""
    spark, tracer = run.spark, run.tracer
    w_start, w_end = window
    spans = {int(s.name.split(":")[1]): s for s in tracer.spans
             if s.layer == "sinks" and s.name.startswith("write_batch:")}
    traced = [p for p in data_batches if p["batchId"] in spans]
    untraced = [p for p in data_batches if p["batchId"] not in spans]
    jobs = jobs_since(spark.sparkContext, 0)
    run_ids = {p["runId"] for p in progress}
    units, batch_jobs, self_t, sums, rest = [], [], [], [], []
    for p in traced:
        sp = spans[p["batchId"]]
        end = _progress_end(p)
        unit = (end - p["durationMs"]["triggerExecution"] / 1000.0, end)
        mine = [j for j in jobs if j["start"] and j["end"] and (
            j["group"] == sp.group or (j["group"] in run_ids and unit[0] <= j["start"] <= unit[1]))]
        spark_s = union_seconds([(max(j["start"], sp.start), min(j["end"], sp.end))
                                 for j in mine if j["group"] == sp.group])
        streaming_s = sum(v for k, v in p["durationMs"].items()
                          if k not in ("triggerExecution", "addBatch")) / 1000.0
        layers = {"streaming": streaming_s, "sinks": (sp.end - sp.start) - spark_s,
                  "spark": spark_s}
        units.append(unit)
        batch_jobs += mine
        self_t.append(layers)
        sums.append(sum(layers.values()))
        rest.append(unit[1] - unit[0] - sums[-1])
    n = max(len(traced), 1)
    trig = (lambda ps: statistics.median(p["durationMs"]["triggerExecution"] / 1000.0
                                         for p in ps) if ps else 0.0)
    _spark_layer_metrics(run, batch_jobs, units, [], per=n)
    _self_time_metrics(run, {k: sum(t[k] for t in self_t) / n for k in ("streaming", "sinks",
                                                                        "spark")},
                       sum(rest) / n, statistics.median(sums) if sums else 0.0,
                       trig(traced), trig(untraced))
    run.report["traced_batches"] = [p["batchId"] for p in traced]
    known = run_ids | {s.group for s in tracer.spans}
    iq_jobs = [j for j in jobs if j["group"] not in known
               and j["start"] and w_start <= j["start"] <= w_end]
    run.layer["iq.jobs_per_request"] = (len(iq_jobs) / max(n_requests, 1), "ratio")
    run.layer["sources.load_jobs"] = (_jobs_in_groups(jobs, tracer, "sources"), "count")
    run.layer["operators.build_jobs"] = (_jobs_in_groups(jobs, tracer, "operators"), "count")


def live_ingest_iq(run: Run) -> None:
    spark, tracer = run.spark, run.tracer
    base = os.path.join(run.work, "live")
    watched = os.path.join(base, "events.parquet")
    staging = os.path.join(run.work, "live_staging")
    ckpt = os.path.join(run.work, "live_ckpt")
    per_tick = int(LIVE_RATE * LIVE_TICK_S)
    tick_us = int(LIVE_TICK_S * 1e6)
    n_ticks = LIVE_WARM_TICKS + int(np.ceil(run.seconds / LIVE_TICK_S)) + 2
    ticks: list[pa.Table] = []
    users = gen.key_order(np.random.default_rng(run.seed), LIVE_USERS)

    def generate() -> None:
        rng = np.random.default_rng(run.seed + 1)
        ticks[:] = [gen.tick_events(rng, k * per_tick, per_tick, 0, tick_us, users,
                                    ZIPF_EXPONENT) for k in range(n_ticks)]
        # the bursts: one second of stamps each, written after the window
        ticks.extend(gen.tick_events(rng, n_ticks * per_tick + b * BURST_EVENTS, BURST_EVENTS,
                                     0, 1_000_000, users, ZIPF_EXPONENT)
                     for b in range(BURSTS))

    run.gen_s = timed_median(generate)
    for d in (watched, staging):
        os.makedirs(d, exist_ok=True)
    sent: list[pa.Table] = []
    files: dict[str, tuple[int, np.ndarray]] = {}  # file -> (tick, stamps in s)
    gen_log: list[tuple[int, float, float]] = []  # (tick, due, written)

    def write_tick(k: int, t_start: float) -> None:
        t = ticks[k]
        stamps_us = t.column("ts").cast(pa.int64()).to_numpy() + int(t_start * 1e6)
        t = t.set_column(1, "ts", pa.array(stamps_us, pa.timestamp("us")))
        name = f"tick-{k:05d}.parquet"
        gen.write_parquet(t, os.path.join(staging, name))
        os.rename(os.path.join(staging, name), os.path.join(watched, name))
        sent.append(t)
        files[name] = (k, stamps_us / 1e6)

    tracer.enabled = run.trace
    t0 = time.perf_counter()
    # the warm-up ticks are stamped back to back over the last two seconds
    t_warm = time.time() - LIVE_WARM_TICKS * LIVE_TICK_S
    write_tick(0, t_warm)
    with tracer.span("load_stream:events", "sources"):
        l0 = time.perf_counter()
        ev = catalog.load_stream(spark, base, "events")
        load_s = time.perf_counter() - l0
    with tracer.span("windowed_count_stream", "operators"):
        b0 = time.perf_counter()
        counts = stream_windows.windowed_count_stream(ev, "ts", ["user_id"], LIVE_WINDOW_S,
                                                      grace_s=LIVE_GRACE_S)
        build_s = time.perf_counter() - b0
    mirror = StoreMirror(spark, "live_counts", ["user_id", "window_start_s"],
                         path=os.path.join(run.work, "mirror"))
    ex0 = execution_count(spark)
    if run.trace:
        with sink_spans(tracer, lambda batch_id: batch_id % 2 == 1):
            query = mirror.attach(counts, checkpoint=ckpt)
    else:
        query = mirror.attach(counts, checkpoint=ckpt)
    svc = IQService()
    port = None
    stop = threading.Event()
    stats = IQStats()
    view_walls: list[float] = []
    try:
        for k in range(1, LIVE_WARM_TICKS):
            write_tick(k, t_warm + k * LIVE_TICK_S)
        query.processAllAvailable()
        svc.register("live_counts", mirror.view(), "user_id", key_parser=int,
                     start_col="window_start_s")
        port = svc.start()
        for _ in range(3):
            _get(port, "/state/keyvalue/live_counts/0")
        run.warmup_s = time.perf_counter() - t0
        run.layer["spark.python_nodes"] = (python_nodes_since(spark, ex0), "count")

        def generator() -> None:
            t_start = time.time()
            for i, k in enumerate(range(LIVE_WARM_TICKS, n_ticks)):
                due = t_start + (i + 1) * LIVE_TICK_S
                delay = due - time.time()
                if delay > 0 and stop.wait(delay):
                    return
                write_tick(k, due - LIVE_TICK_S)
                gen_log.append((k, due, time.time()))

        def client() -> None:
            rng = np.random.default_rng(run.seed + 2)
            for i in itertools.count():
                if stop.is_set():
                    return
                user = int(gen.zipf_keys(rng, 1, users, ZIPF_EXPONENT)[0])
                if i % 2 == 0:
                    path, bucket = f"/state/keyvalue/live_counts/{user}", stats.q1
                else:
                    now = int(time.time())
                    path, bucket = (f"/state/windowed/live_counts/{user}/{now - 60}/{now}",
                                    stats.q4)
                q0 = time.perf_counter()
                try:
                    status, _ = _get(port, path)
                except OSError as e:
                    status = 0
                    run.errors.append(f"iq {path}: {e}"[:300])
                if stop.is_set():
                    return  # the window closed while this request was in flight
                bucket.append(time.perf_counter() - q0)
                run.attempted += 1
                if status != 200:
                    stats.non200 += 1
                    run.failed += 1

        w_start = time.time()
        stats.started = time.perf_counter()
        threads = [threading.Thread(target=generator, name="gen"),
                   threading.Thread(target=client, name="iq-client")]
        for th in threads:
            th.start()
        last_bid = -1
        while time.time() - w_start < run.seconds:
            lp = query.lastProgress
            if lp is not None and lp["batchId"] != last_bid:
                last_bid = lp["batchId"]
                with tracer.span("view", "sinks"):
                    v0 = time.perf_counter()
                    svc.register("live_counts", mirror.view(), "user_id", key_parser=int,
                                 start_col="window_start_s")
                    view_walls.append(time.perf_counter() - v0)
            time.sleep(0.05)
        stop.set()
        w_end = time.time()
        stats.ended = time.perf_counter()
        for th in threads:
            th.join(timeout=60)
        query.processAllAvailable()
        # capacity: bursts dropped one at a time on the idle query
        bursts_from = query.lastProgress["batchId"]
        for b in range(BURSTS):
            run.attempted += 1
            write_tick(n_ticks + b, time.time() - 1.0)
            query.processAllAvailable()
        run.rss.freeze()
        progress = [json.loads(p.json) if hasattr(p, "json") else dict(p)
                    for p in query.recentProgress]
    finally:
        stop.set()
        svc.stop()
        query.stop()

    # emit latency: event stamp -> end of the micro-batch that took its file
    batch_end = {p["batchId"]: _progress_end(p) for p in progress}
    offset_batch = _batch_of_offset(progress)
    fb = {name: offset_batch.get(off) for name, off in _file_offsets(ckpt).items()}
    lat = []
    for name, (k, stamps) in files.items():
        if not LIVE_WARM_TICKS <= k < n_ticks or fb.get(name) not in batch_end:
            continue
        lat.append(batch_end[fb[name]] - stamps)
    lat = np.concatenate(lat) if lat else np.zeros(0)
    data_batches = [p for p in progress if p.get("numInputRows", 0) > 0
                    and w_start <= _progress_end(p) <= w_end]
    written_by_end = per_tick * (LIVE_WARM_TICKS + sum(1 for _, _, w in gen_log if w <= w_end))
    done_by_end = sum(p.get("numInputRows", 0) for p in progress if _progress_end(p) <= w_end)
    backlog = max(written_by_end - done_by_end, 0)
    lags = [w - d for _, d, w in gen_log]

    # final check: mirrored counts against a pandas recount of every event sent
    all_sent = pa.concat_tables(sent)
    truth = pd.DataFrame({
        "user_id": all_sent.column("user_id").to_numpy(),
        "window_start_s": all_sent.column("ts").cast(pa.int64()).to_numpy() // 10**6
        // LIVE_WINDOW_S * LIVE_WINDOW_S,
    })
    want = truth.groupby(["user_id", "window_start_s"]).size()
    got = mirror.view().toPandas().set_index(["user_id", "window_start_s"])["cnt"]
    joined = pd.concat([want.rename("want"), got.rename("got")], axis=1)
    mism = int((joined["want"] != joined["got"]).sum())
    run.wrong += mism
    if mism:
        run.errors.append(f"live_counts: {mism} of {len(joined)} (user, window) counts differ")
    run.attempted += len(data_batches)

    window = w_end - w_start
    triggers = [p["durationMs"]["triggerExecution"] / 1000.0 for p in data_batches]
    run.e2e["wall_s"] = (statistics.median(triggers) if triggers else 0.0, "s")
    burst_rates = [p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000.0)
                   for p in progress if p["batchId"] > bursts_from and p["numInputRows"] > 0]
    run.e2e["events_per_s"] = (statistics.median(burst_rates[1:]), "events/s")
    run.e2e["emit_latency_p50_s"] = (float(np.percentile(lat, 50)) if len(lat) else 0.0, "s")
    run.e2e["emit_latency_p90_s"] = (float(np.percentile(lat, 90)) if len(lat) else 0.0, "s")
    _iq_metrics(run, stats, window)
    mfiles = [f for f in os.listdir(mirror.path) if f.endswith(".parquet")]
    run.layer["sinks.mirror_files"] = (len(mfiles), "count")
    run.layer["sinks.mirror_bytes"] = (sum(os.path.getsize(os.path.join(mirror.path, f))
                                           for f in mfiles), "bytes")
    run.layer["gen.events"] = (per_tick * (LIVE_WARM_TICKS + len(gen_log)), "count")
    run.layer["live.backlog_events_end"] = (backlog, "count")
    _streaming_layer_metrics(run, data_batches, window)
    run.layer["sources.load_s"] = (load_s, "s")
    run.layer["operators.build_s"] = (build_s, "s")
    ts_sent = pa.concat_tables(sent[:-BURSTS]).column("ts").cast(pa.int64()).to_numpy()
    run.report.update({
        "measured_s": window, "gen.lag_p99_s": percentile(lags, 99),
        "gen.out_of_order_share": gen.out_of_order_share(ts_sent),
        "live.batches_in_window": len(data_batches), "live.events_sent": int(len(truth)),
        "live.burst_rates": burst_rates, "sinks.view_p50_s": percentile(view_walls, 50),
        # flagged, not scored: the generator fell behind its schedule, or
        # more was waiting at the end than two micro-batches plus a tick take in
        "valid": bool(percentile(lags, 99) < LIVE_TICK_S and backlog <= LIVE_RATE * (
            2 * run.e2e["wall_s"][0] + LIVE_TICK_S)),
    })
    if run.trace:
        run.report["batches"] = [(p["batchId"], round(_progress_end(p) - w_start, 3),
                                  p["durationMs"], p.get("numInputRows", 0)) for p in progress]
        _live_trace_metrics(run, progress, data_batches, (w_start, w_end), len(stats.all))
