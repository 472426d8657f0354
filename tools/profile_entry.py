"""Profile registry entries layer by layer.

Usage:
  python tools/profile_entry.py NAME [NAME ...] [--sf DIR] [--runs N]
      [--plan-dir DIR] [--scale MULT]

Each named ``__spark_entry__.queries()`` entry runs once untimed to warm
up, then ``--runs`` times. A run is three spans:

- ``build``: the registry call, which also runs a streaming entry's
  micro-batches;
- ``plan``: Catalyst planning of the returned frame
  (``queryExecution().executedPlan()``);
- ``execute``: a noop write of the frame.

Each span tags its Spark jobs with a job group (``perfbench.measure.Tracer``).
Micro-batch jobs run under their streaming query's own group, its runId,
so they form a fourth layer, ``streaming``, found through the runIds of
the progress events. Per layer the report gives wall time and the status
store's job totals: jobs, stages, tasks, executor run/CPU/GC seconds,
input/shuffle/spill bytes and task skew. The wall of ``streaming`` is
the summed micro-batch trigger time, which lies inside ``build``.

One JSON line per entry describes the run with the lowest wall time. It
adds the summed micro-batch phases and state numbers, the Python/Arrow
plan nodes of the SQL executions the run made (``python_nodes``), and
the five jobs with the most executor time. ``cold`` is the same report
for the warm-up run, so a fresh process shows its first-run cost.
``--sf`` defaults to the correctness gate's scale. With ``--plan-dir``,
each entry's ``explain("formatted")`` is written to ``DIR/NAME.txt``.

With ``--scale MULT``, each entry is then profiled again on MULT
replicas of the ``--sf`` tables it read (``tools/scale_smoke.py``
builds them on first use), and that second line adds ``mult`` and
``wall_ratio``, its best wall over the first line's. A ratio near 1
means fixed costs dominate; a ratio above MULT flags a superlinear
term.
"""

from __future__ import annotations

import argparse
import json
import re
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql.streaming import StreamingQueryListener  # noqa: E402

import __spark_entry__ as registry  # noqa: E402
from kafka_streams_app_spark.engine import get_spark  # noqa: E402
from perfbench.measure import (  # noqa: E402
    Tracer, execution_count, job_totals, jobs_since, max_job_id, progress_totals,
)
from tools.check_queries import SF_DIR  # noqa: E402
from tools.scale_smoke import replica  # noqa: E402

# plans/audit.py:plan_report's python_evals list; tests/test_profile_entry.py
# pins the two counts together
PYTHON_NODES = ("ArrowEvalPython", "MapInPandas", "MapInArrow",
                "FlatMapGroupsInPandas", "FlatMapGroupsInArrow", "TransformWithStateIn")
LAYERS = ("build", "plan", "execute", "streaming")


class ProgressLog(StreamingQueryListener):
    """Every query progress event of the session, as a dict."""

    def __init__(self) -> None:
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


def plan_tree(description: str) -> str:
    """The operator tree of a formatted physical plan description, with
    operator ids and statistics stripped. The description names every
    node twice, in the tree and in the details below it, and an adaptive
    plan lists its nodes once more under ``== Initial Plan ==``; only the
    tree of the plan that ran is kept."""
    tree, initial_at = [], None
    for line in description.split("== Physical Plan ==", 1)[-1].strip("\n").splitlines():
        if not line.strip():
            break
        depth = len(line) - len(line.lstrip(" :+-"))
        if initial_at is not None and depth > initial_at:
            continue
        initial_at = None
        if "== Initial Plan ==" in line:
            initial_at = line.index("+-")
            continue
        tree.append(line)
    return re.sub(r" \(\d+\)|, Statistics\([^)]*\)", "", "\n".join(tree))


def plan_descriptions(spark, first: int) -> list[str]:
    """The physical plan descriptions of the SQL executions after the
    first `first`."""
    store = spark._jsparkSession.sharedState().statusStore()
    execs = store.executionsList(first, max(store.executionsCount() - first, 0))
    return [str(execs.apply(i).physicalPlanDescription()) for i in range(execs.size())]


def plan_python_nodes(spark, first: int) -> int:
    """Python/Arrow nodes in the distinct plans of the SQL executions
    after the first `first`: a plan that ran once per micro-batch counts
    once."""
    trees = {plan_tree(d) for d in plan_descriptions(spark, first)}
    return sum(tree.count(node) for tree in trees for node in PYTHON_NODES)


def scanned_tables(spark, first: int, sf: str) -> list[str]:
    """The tables under `sf` that the SQL executions after the first
    `first` scanned."""
    pattern = re.compile(re.escape(str(Path(sf).resolve())) + r"/(\w+)\.parquet")
    return sorted({t for d in plan_descriptions(spark, first) for t in pattern.findall(d)})


def profile_run(spark, tracer: Tracer, progress_log: ProgressLog, fn, sf: str):
    """One build/plan/execute run of a registry function; returns the
    run's report and the frame it built."""
    sc = spark.sparkContext
    job0, ex0 = max_job_id(sc) + 1, execution_count(spark)
    span0, prog0 = len(tracer.spans), len(progress_log.events)
    t0 = time.perf_counter()
    with tracer.span("build", "build"):
        df = fn(spark, sf)
    with tracer.span("plan", "plan"):
        df._jdf.queryExecution().executedPlan()
    with tracer.span("execute", "execute"):
        df.write.format("noop").mode("overwrite").save()
    wall = time.perf_counter() - t0
    # the status store and the progress log are fed by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()

    progress = progress_log.events[prog0:]
    stream = progress_totals(progress)
    spans = tracer.spans[span0:]
    walls = {s.layer: s.end - s.start for s in spans}
    walls["streaming"] = stream["trigger_s"]
    layer_of = {s.group: s.layer for s in spans}
    layer_of.update(dict.fromkeys((p["runId"] for p in progress), "streaming"))
    jobs = jobs_since(sc, job0)
    for j in jobs:
        j["layer"] = layer_of[j["group"]]
    layers = {layer: {"wall_s": walls[layer],
                      **job_totals([j for j in jobs if j["layer"] == layer])}
              for layer in LAYERS}
    top = sorted(jobs, key=lambda j: -j["run_s"])[:5]
    report = {
        "wall_s": wall,
        "layers": layers,
        "streaming": stream,
        "python_nodes": plan_python_nodes(spark, ex0),
        "top_jobs": [{"id": j["id"], "layer": j["layer"], "run_s": j["run_s"],
                      "cpu_s": j["cpu_s"], "stages": j["stages"], "tasks": j["tasks"],
                      "wall_s": j["end"] - j["start"]}
                     for j in top],
    }
    return report, df


def profile_entry(spark, tracer, progress_log, name: str, fn, sf: str, runs: int,
                  plan_dir: Path | None = None) -> dict:
    """The report of the fastest of `runs` runs after one warm-up run,
    whose own report is kept as ``cold``."""
    cold, df = profile_run(spark, tracer, progress_log, fn, sf)
    if plan_dir is not None:
        plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        (plan_dir / f"{name}.txt").write_text(plan)
    warm = [profile_run(spark, tracer, progress_log, fn, sf)[0] for _ in range(runs)]
    best = min(warm, key=lambda r: r["wall_s"])
    return {"entry": name, "sf": Path(sf).name, "walls_s": [r["wall_s"] for r in warm],
            **best, "cold": cold}


def rounded(x):
    if isinstance(x, float):
        return round(x, 4)
    if isinstance(x, dict):
        return {k: rounded(v) for k, v in x.items()}
    if isinstance(x, list):
        return [rounded(v) for v in x]
    return x


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("names", nargs="+", metavar="NAME")
    ap.add_argument("--sf", default=SF_DIR, help="input tables (default: %(default)s)")
    ap.add_argument("--runs", type=int, default=3, help="timed runs per entry")
    ap.add_argument("--plan-dir", type=Path, help="write each entry's formatted plan here")
    ap.add_argument("--scale", type=int, metavar="MULT",
                    help="also profile on MULT replicas of the --sf tables")
    args = ap.parse_args()
    if args.runs < 1:
        ap.error("--runs must be at least 1")
    if args.scale is not None and args.scale < 2:
        ap.error("--scale must be at least 2")

    queries = registry.queries()
    unknown = [n for n in args.names if n not in queries]
    if unknown:
        ap.error(f"not registry entries: {', '.join(unknown)}")
    if args.plan_dir is not None:
        args.plan_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark(app_name="profile-entry")
    spark.sparkContext.setLogLevel("ERROR")
    progress_log = ProgressLog()
    spark.streams.addListener(progress_log)
    tracer = Tracer(spark.sparkContext, enabled=True)
    for name in args.names:
        ex0 = execution_count(spark)
        report = profile_entry(spark, tracer, progress_log, name, queries[name], args.sf,
                               args.runs, args.plan_dir)
        print(json.dumps(rounded(report)), flush=True)
        if args.scale:
            big = replica(spark, args.sf, args.scale, scanned_tables(spark, ex0, args.sf))
            scaled = profile_entry(spark, tracer, progress_log, name, queries[name], big,
                                   args.runs)
            scaled.update(mult=args.scale, wall_ratio=scaled["wall_s"] / report["wall_s"])
            print(json.dumps(rounded(scaled)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
