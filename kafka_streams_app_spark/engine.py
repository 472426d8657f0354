"""SparkSession factory and session configuration.

The reference app configures its runtime via StreamsConfig properties
(/root/reference/src/main/java/com/ayoubom/kafka/WordCount.java:45-49,
 /root/reference/src/main/scala/com/ayoubom/kafka/apps/WindowedGrouping.scala:53-61).
Here the analogue is a tuned SparkSession: AQE on (runtime re-planning,
skew-join handling, partition coalescing), Arrow enabled for the few
pandas-UDF operators, UTC session time, and the parquet nanos escape
hatch needed for the driver-generated ``events`` table.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Runtime-settable confs, applied both at build time and defensively onto
# externally-created sessions (the verification driver builds its own).
RUNTIME_CONF = {
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark's vectorized
    # reader rejects; read as long ns and convert in the source catalog.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    # AQE: runtime shuffle-partition coalescing + skew-join splitting.
    # At 100 TB this is what keeps a static shuffle.partitions choice from
    # being a bottleneck — partitions re-split/merge from actual map stats.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDF exchange (minhash/simhash/multimodal operators).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Checkpoint writes (offset/commit logs, file-source log, state-store
    # delta and checksum files) go through Hadoop FileSystem instead of
    # FileContext. Without the native Hadoop library, FileContext's local
    # filesystem starts a readlink child process for its link checks:
    # 210 child processes per micro-batch at 4 state partitions against
    # 42 (chmod only) with this manager, trigger p50 ~330 -> ~200 ms on
    # 4 vCPUs (SCALE.md, "Per-micro-batch floor"). Safe where
    # exactly-once needs it, the offset log's no-overwrite writes: on
    # file: both managers check-then-rename for those and POSIX-rename
    # for overwrites; on HDFS FileSystem.rename atomically refuses to
    # replace an existing file, so a no-overwrite write still fails.
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
}


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session."""
    for k, v in RUNTIME_CONF.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # Non-settable on this build — keep going; readers fall back.
            pass
    return spark


def ensure_parallelism(df, min_partitions: int | None = None):
    """Rebalance a DataFrame up to cluster parallelism IF it has fewer
    partitions — the guard for compute-bound stages (minhash folds,
    simhash votes, LSH bucketing) fed by small scans.

    A small parquet file arrives as ONE partition, serializing the whole
    downstream chain on one core; repartitioning tiny inputs costs a
    negligible shuffle and unlocks N-way compute. On big inputs (100 TB
    => ~1e6 scan splits at 128 MB) the partition count already exceeds
    parallelism, so this is a no-op — no accidental full-data shuffle.

    Nuance: under AQE, getNumPartitions() on an already-shuffled input
    reflects POST-coalesce partitions, so a small shuffled input may get
    a second (small-data, cheap) exchange; large shuffled inputs keep
    >= parallelism partitions after coalescing and still no-op.
    """
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def estimated_plan_bytes(df) -> int:
    """The optimizer's size estimate for a DataFrame — file-size-derived
    for lake scans, Long.MaxValue for unknown-stat inputs (opaque UDF
    parents, RDD scans). Costs NO job; used by scale-gated dials
    (minhash hot-band cap, cms_topk single-scan materialization) that
    must stay plan-identical at bench/test scale while protecting
    cluster-scale runs. Unknown stats read as huge — the safe direction
    for unbounded inputs."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def _ensure_allocator_env() -> None:
    """Pin glibc malloc tunables for this process tree (JVM + forked
    Python workers) BEFORE the JVM launches.

    Why (r16, measured): the heavy Arrow/numpy stages allocate and free
    many tens-of-MB arrays per task. glibc's default dynamic mmap
    threshold caps at 32 MB, so every such array is a fresh mmap that
    is returned to the kernel on free — and on this host a minor page
    fault costs ~20 us (VM nested paging), so a single FK-join fan-out
    task spent 13 s of its 15 s wall in first-touch faults (stime, not
    utime; see OPTIMIZATION_r16.md). Raising the mmap/trim thresholds
    lets the main arena RETAIN and REUSE those pages across the
    dozens of sequential large allocations inside one task and across
    tasks of a reused worker: the same kernel microbench drops 20.8 s
    -> 9.9 s cold and 16.9 s -> 6.0 s warm. Production-neutral: this
    trades a bounded amount of retained RSS per worker (<= threshold
    per arena) for fault amortization; callers can override by
    pre-setting the variables.
    """
    for var, val in (
        ("MALLOC_MMAP_THRESHOLD_", str(256 * 1024 * 1024)),
        ("MALLOC_TRIM_THRESHOLD_", str(256 * 1024 * 1024)),
    ):
        os.environ.setdefault(var, val)


def get_spark(
    app_name: str = "kafka-streams-app-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a real cluster the caller passes the cluster master instead and the
    same conf applies unchanged.
    """
    _ensure_allocator_env()
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # The correctness gate collect()s full query results for the
        # value-hash compare; at sf0.1 several entries exceed the 1g
        # default (first seen: 2.5 GiB on the r9 sf0.1 gate). Only the
        # gate/driver path collects this much — production sinks never
        # collect — so a larger cap is safe here and env-overridable.
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_MAX_RESULT", "8g"))
    )
    for k, v in RUNTIME_CONF.items():
        b = b.config(k, v)
    return configure_session(b.getOrCreate())
