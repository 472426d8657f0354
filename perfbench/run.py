"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The last line of
standard output is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it is the full report: the host record, every metric the workload
defines (with its unit) and the per-entry walls. A traced run also
writes its spans and per-layer self times to
``.bench_out/trace-<workload>-<seed>.json``.

All scratch data (inputs, checkpoints, Spark local dirs, temp files)
lives under ``.bench_work/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
# import the benchmark's modules as the `perfbench` package, not from the script dir
sys.path = [p for p in sys.path if Path(p or ".").resolve() != ROOT / "perfbench"]
WORKLOADS = ("batch_registry", "live_ingest_iq")

END_TO_END = ("setup_s", "wall_s", "events_per_s", "emit_latency_p50_s",
              "emit_latency_p90_s", "iq_latency_p50_s", "iq_latency_p90_s", "iq_per_s",
              "peak_rss_mb")


def _prepare_env(work: Path) -> None:
    """Process environment for the session, set before the JVM starts.

    Spark's Python workers import the program's modules by name, so the
    checkout root goes on their PYTHONPATH (the engine adds only its
    ``_vendor`` shim). Temp files, Spark local dirs and the warehouse
    stay inside the checkout."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(path)
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(tmp)
    # a fixed 1 GB heap: a heap that grows on demand made peak RSS jump
    # between runs of the same workload
    os.environ["SPARK_DRIVER_MEM"] = "1g"
    # spark-submit's launcher JVM takes its options from SPARK_LAUNCHER_OPTS
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--conf spark.sql.warehouse.dir={work / 'warehouse'} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options '-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    # bench.wait_for_settle records the host's load; never wait here
    os.environ["SPARK_GRAFT_BENCH_SETTLE_MAX_S"] = "0"
    tempfile.tempdir = str(tmp)
    sys.path.insert(0, str(ROOT))


def _stop_processes(spark, children: list[int]) -> None:
    """Stop the session and the JVM, then wait for every process this run
    started (the JVM and its Python workers) to end."""
    from pyspark import SparkContext

    from perfbench.measure import alive

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while alive(children) and time.time() < deadline:
        time.sleep(0.1)
    for pid in alive(children):
        os.kill(pid, signal.SIGKILL)


def _cpu_times() -> list[int]:
    """The host's aggregate CPU counters (user .. steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _metric_block(values: dict) -> dict:
    return {k: {"value": float(v), "unit": u} for k, (v, u) in values.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "kafka_streams_app_spark", "bench.py",
                           "tools/check_queries.py") if not (ROOT / p).exists()]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing})", file=sys.stderr)
        return 2

    work = ROOT / ".bench_work" / f"{args.workload}-{os.getpid()}"
    _prepare_env(work)
    # Spark and its workers print to stdout; keep it for the result lines
    result_fd = os.dup(1)
    os.dup2(2, 1)
    try:
        return _run(args, work, result_fd)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if not any((ROOT / ".bench_work").iterdir()):
            (ROOT / ".bench_work").rmdir()


def _run(args, work: Path, result_fd: int) -> int:
    import bench
    from kafka_streams_app_spark.engine import get_spark

    from perfbench import workloads
    from perfbench.measure import RssSampler, Tracer, descendants

    loadavg_start, cpu_start = os.getloadavg(), _cpu_times()
    settle = bench.wait_for_settle()
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        try:
            spark.sparkContext.setLogLevel("ERROR")
            run = workloads.Run(spark=spark, seed=args.seed, seconds=args.seconds,
                                work=str(work), trace=bool(args.trace),
                                tracer=Tracer(spark.sparkContext), rss=rss)
            try:
                getattr(workloads, args.workload)(run)
            except Exception:  # noqa: BLE001 - reported, then a failing exit
                traceback.print_exc()
                return 1
            master = spark.sparkContext.master
        finally:
            _stop_processes(spark, descendants(os.getpid()))
    delta = [b - a for a, b in zip(cpu_start, _cpu_times())]
    steal = delta[7]
    host = {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": master,
        "loadavg_start": [round(x, 2) for x in loadavg_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        # share of CPU time the hypervisor gave to other guests during the run
        "steal_frac": round(steal / max(sum(delta), 1), 4),
        **settle,
    }
    run.e2e["setup_s"] = (get_spark_s + run.gen_s + run.warmup_s, "s")
    run.e2e["peak_rss_mb"] = (rss.peak / 2**20, "MB")
    run.layer["engine.get_spark_s"] = (get_spark_s, "s")
    run.layer["wrong_results"] = (run.wrong, "count")
    run.layer["failed_frac"] = (run.failed / max(run.attempted, 1), "ratio")
    report = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "host": host,
        "setup_parts_s": {"get_spark": get_spark_s, "input_generation_median": run.gen_s,
                          "warmup": run.warmup_s},
        "end_to_end": _metric_block(run.e2e),
        "per_layer": _metric_block(run.layer) if args.trace else None,
        "details": run.report, "errors": run.errors,
    }
    if args.trace:
        out = ROOT / ".bench_out"
        out.mkdir(exist_ok=True)
        (out / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(
            {"report": report, "spans": run.tracer.dump()}, default=str))
    chosen = run.layer if args.trace else {k: run.e2e[k] for k in END_TO_END}
    result = {"correct": run.wrong == 0 and run.failed == 0, "attempted": run.attempted,
              "failed": run.failed, "metrics": _metric_block(chosen)}
    with os.fdopen(result_fd, "w") as out_f:
        out_f.write(json.dumps(report, default=str) + "\n")
        out_f.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
