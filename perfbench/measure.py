"""Measurement helpers: spans, Spark's status store, query progress and
process-tree memory.

Everything here observes the program from outside. A span wraps one
call into a layer; when tracing is on it also tags the call's Spark jobs
with a job group, so the status store can attribute executor time to the
layer that submitted the job. With tracing off a span is a no-op.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "TransformWithStateInPySpark")


def count_python_nodes(plan: str) -> int:
    return sum(plan.count(n) for n in PYTHON_NODES)


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]); 0.0 when empty."""
    vals = sorted(values)
    if not vals:
        return 0.0
    pos = (len(vals) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(vals) - 1)
    return vals[lo] + (vals[hi] - vals[lo]) * (pos - lo)


@dataclass
class Span:
    name: str
    layer: str
    start: float
    parent: int | None
    thread: int
    end: float = 0.0
    group: str | None = None


@dataclass
class Tracer:
    """In-memory span recorder. ``enabled`` may be flipped between
    passes, so one run can alternate traced and untraced passes."""

    sc: object
    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            sp = Span(name, layer, time.time(), stack[-1] if stack else None,
                      threading.get_ident(), group=f"bench:{layer}:{idx}")
            self.spans.append(sp)
        prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(sp.group, f"{layer}:{name}")
        stack.append(idx)
        try:
            yield
        finally:
            stack.pop()
            sp.end = time.time()
            if prev_group is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(prev_group, "")

    def self_times(self, since: int = 0) -> dict[str, float]:
        """Per-layer self time: each span's duration minus the part its
        children (same thread) cover."""
        spans = self.spans[since:]
        child = [0.0] * len(self.spans)
        for sp in spans:
            if sp.parent is not None:
                child[sp.parent] += sp.end - sp.start
        out: dict[str, float] = {}
        for i, sp in enumerate(spans, start=since):
            out[sp.layer] = out.get(sp.layer, 0.0) + (sp.end - sp.start) - child[i]
        return out

    def dump(self) -> list[dict]:
        return [{"id": i, "name": s.name, "layer": s.layer, "start": s.start,
                 "end": s.end, "parent": s.parent, "thread": s.thread}
                for i, s in enumerate(self.spans)]


def _opt(o):
    return o.get() if o.isDefined() else None


def jobs_since(sc, min_job_id: int) -> list[dict]:
    """Every job in the status store with id >= min_job_id, with its
    group, interval and per-stage totals."""
    store = sc._jsc.sc().statusStore()
    jl = store.jobsList(None)
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    out = []
    for i in range(jl.size()):
        jd = jl.apply(i)
        if jd.jobId() < min_job_id:
            continue
        sub, done = _opt(jd.submissionTime()), _opt(jd.completionTime())
        job = {"id": jd.jobId(), "group": _opt(jd.jobGroup()),
               "start": sub.getTime() / 1000.0 if sub else None,
               "end": done.getTime() / 1000.0 if done else None,
               "stages": 0, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
               "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
               "spill_bytes": 0, "skew": 1.0}
        ids = str(jd.stageIds().mkString(","))
        for sid in filter(None, ids.split(",")):
            try:
                sd = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - stage evicted from the store
                continue
            if sd.status().toString() == "SKIPPED":
                continue
            job["stages"] += 1
            job["tasks"] += sd.numTasks()
            job["run_s"] += sd.executorRunTime() / 1000.0
            job["cpu_s"] += sd.executorCpuTime() / 1e9
            job["gc_s"] += sd.jvmGcTime() / 1000.0
            job["input_bytes"] += sd.inputBytes()
            job["shuffle_read_bytes"] += sd.shuffleReadBytes()
            job["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            job["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            summ = store.taskSummary(int(sid), sd.attemptId(), q)
            if summ.isDefined():
                d = summ.get().executorRunTime()
                med, mx = d.apply(0), d.apply(1)
                if med > 0:
                    job["skew"] = max(job["skew"], mx / med)
        out.append(job)
    return out


def max_job_id(sc) -> int:
    jl = sc._jsc.sc().statusStore().jobsList(None)
    return max((jl.apply(i).jobId() for i in range(jl.size())), default=-1)


def execution_count(spark) -> int:
    return spark._jsparkSession.sharedState().statusStore().executionsCount()


def python_nodes_since(spark, first: int) -> int:
    """Python/Arrow boundary nodes in the physical plans of the SQL
    executions recorded after the first `first` ones."""
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount() - first
    if n <= 0:
        return 0
    execs = store.executionsList(first, n)
    return sum(count_python_nodes(str(execs.apply(i).physicalPlanDescription()))
               for i in range(execs.size()))


def union_seconds(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[0] is not None and iv[1] is not None):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_totals(jobs: list[dict]) -> dict[str, float]:
    keys = ("stages", "tasks", "run_s", "cpu_s", "gc_s", "input_bytes",
            "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    tot = {k: sum(j[k] for j in jobs) for k in keys}
    tot["jobs"] = len(jobs)
    tot["skew"] = max((j["skew"] for j in jobs), default=1.0)
    return tot


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """Sum micro-batch phases and state-operator numbers over progress
    events. Times in seconds."""
    tot = {"batches": 0, "trigger_s": 0.0, "add_batch_s": 0.0, "query_planning_s": 0.0,
           "wal_commit_s": 0.0, "commit_offsets_s": 0.0, "latest_offset_s": 0.0,
           "state_commit_s": 0.0, "state_update_s": 0.0, "state_rows_total": 0,
           "state_memory_bytes": 0, "rows_dropped_by_watermark": 0}
    triggers, floors = [], []
    for p in progress:
        d = p.get("durationMs", {})
        trig = d.get("triggerExecution", 0) / 1000.0
        add = d.get("addBatch", 0) / 1000.0
        tot["batches"] += 1
        tot["trigger_s"] += trig
        tot["add_batch_s"] += add
        tot["query_planning_s"] += d.get("queryPlanning", 0) / 1000.0
        tot["wal_commit_s"] += d.get("walCommit", 0) / 1000.0
        tot["commit_offsets_s"] += d.get("commitOffsets", 0) / 1000.0
        tot["latest_offset_s"] += d.get("latestOffset", 0) / 1000.0
        triggers.append(trig)
        floors.append(trig - add)
        for op in p.get("stateOperators", []):
            tot["state_commit_s"] += op.get("commitTimeMs", 0) / 1000.0
            tot["state_update_s"] += op.get("allUpdatesTimeMs", 0) / 1000.0
            tot["state_rows_total"] = max(tot["state_rows_total"], op.get("numRowsTotal", 0))
            tot["state_memory_bytes"] = max(tot["state_memory_bytes"],
                                            op.get("memoryUsedBytes", 0))
            tot["rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
    tot["trigger_p50_s"] = percentile(triggers, 50)
    tot["floor_p50_s"] = percentile(floors, 50)
    return tot


def _proc_table() -> dict[int, tuple[int, str, str]]:
    """pid -> (parent pid, state, command name) for every process, from /proc."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                head, rest = f.read().rsplit(")", 1)
        except OSError:
            continue
        fields = rest.split()
        out[int(name)] = (int(fields[1]), fields[0], head.split("(", 1)[1])
    return out


def descendants(root_pid: int, table: dict | None = None) -> list[int]:
    table = _proc_table() if table is None else table
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root_pid, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def alive(pids: list[int]) -> list[int]:
    table = _proc_table()
    return [p for p in pids if p in table and table[p][1] != "Z"]


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def tree_memory_bytes(root_pid: int) -> int:
    """Resident memory of root_pid and its java and python descendants
    (the JVM and Spark's Python workers). Python processes are counted as
    PSS, so pages that forked workers share are counted once. The JVM
    shares next to nothing, and walking its page tables for PSS takes
    tens of milliseconds and stalls it, so its RSS counter is read
    instead. Other descendants are skipped: the JVM spawns short-lived
    helper processes that briefly report the JVM's whole address space."""
    table = _proc_table()
    total = _pss_bytes(root_pid)
    for p in descendants(root_pid, table):
        if table[p][2] == "java":
            total += _rss_bytes(p)
        elif table[p][2].startswith("python"):
            total += _pss_bytes(p)
    return total


class RssSampler:
    """Samples the peak resident memory of this process tree (driver, JVM,
    Python workers; see ``tree_memory_bytes``) on a background thread."""

    def __init__(self, interval_s: float = 0.5) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(pid))
            self._stop.wait(self.interval_s)

    def freeze(self) -> None:
        """Stop sampling: the peak is fixed from here on, so the output
        checks that follow the measured phase do not count."""
        self._stop.set()
        if self._thread.is_alive():
            self._thread.join(timeout=5)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self.freeze()
