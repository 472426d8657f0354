"""Executed-plan audit: the scale-hygiene properties worth asserting.

For each DataFrame we inspect the *executed* (post-AQE-prep) plan
string for:
- pushed_filters: predicates that reached the parquet scan (PushedFilters)
- read_schema_cols: how many columns the scan actually reads (pruning)
- broadcast_joins / shuffle_joins: physical join strategy counts
- exchanges: shuffle count (each is a repartition-topic analogue; fewer
  is better at fixed correctness)
- codegen_stages: WholeStageCodegen span count (JVM-compiled pipelines)
- python_evals: Arrow/pandas UDF operators (the sanctioned Python path)
- rowwise_python: row-at-a-time BatchEvalPython — the SLOW path; any
  occurrence is a red flag and fails the audit

This is introspection of Spark's own explain output, kept string-level
on purpose: it audits exactly what an engineer reads in
.explain("formatted").
"""

from __future__ import annotations

import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def plan_report(df: DataFrame) -> dict:
    plan = df._jdf.queryExecution().executedPlan().toString()
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    read_schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    return {
        "pushed_filters": [p for p in pushed if p.strip()],
        "read_schema_cols": [
            len([c for c in s.split(",") if c.strip()]) for s in read_schemas
        ],
        "broadcast_joins": plan.count("BroadcastHashJoin")
        + plan.count("BroadcastNestedLoopJoin"),
        "shuffle_joins": plan.count("SortMergeJoin") + plan.count("ShuffledHashJoin"),
        "exchanges": plan.count("Exchange "),
        # executedPlan toString marks codegen'd operators "*(n) Op";
        # formatted explain spells it "WholeStageCodegen (n)" — count both
        "codegen_stages": len(
            set(re.findall(r"\*\((\d+)\)", plan))
            | set(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
        ),
        # "TransformWithStateIn": pyspark 4.0 names the TWS node
        # ...InPandas, 4.1 ...InPySpark
        "python_evals": sum(plan.count(node) for node in (
            "ArrowEvalPython", "MapInPandas", "MapInArrow",
            "FlatMapGroupsInPandas", "FlatMapGroupsInArrow",
            "TransformWithStateIn",
        )),
        "rowwise_python": plan.count("BatchEvalPython"),
    }


def audit_registry(
    spark: SparkSession,
    queries: dict[str, Callable[[SparkSession, str], DataFrame]],
    sf_dir: str,
    skip: set[str] | None = None,
) -> dict[str, dict]:
    """Run plan_report over every registry query (streaming entries that
    must execute to produce a plan can be skipped)."""
    # Audit the STATIC plan: under AQE the pre-execution plan string is
    # an unfinalized AdaptiveSparkPlan that hides codegen spans and
    # join choices, and the finalized plan isn't reachable from the
    # DataFrame handle. Static planning shows the same pushdown/pruning
    # and the size-estimate join strategy; AQE can only improve on it
    # at runtime (skew split, coalesce, SMJ->broadcast).
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    # patch the CONCRETE class: under Spark 4 instances are
    # pyspark.sql.classic.dataframe.DataFrame, whose collect overrides
    # the pyspark.sql.DataFrame base — patching only the base is a no-op
    try:
        from pyspark.sql.classic.dataframe import DataFrame as _CDF
    except ImportError:  # older layout: one class
        _CDF = DataFrame
    orig_collect = _CDF.collect
    counts = {"n": 0, "rows": 0}

    def counting_collect(self, *a, **kw):
        rows = orig_collect(self, *a, **kw)
        counts["n"] += 1
        counts["rows"] += len(rows)
        return rows

    try:
        # Driver-side collects during PLAN BUILD are only legitimate
        # when bounded by model size (codebooks, centroid sums), never
        # by data size (r12 verdict: PQ/IVF-PQ once collected the whole
        # query set) — count them and their row volume per query so the
        # audit table shows any new unbounded driver pull.
        _CDF.collect = counting_collect
        out: dict[str, dict] = {}
        for name, fn in queries.items():
            if skip and name in skip:
                continue
            counts["n"] = counts["rows"] = 0
            df = fn(spark, sf_dir)  # may (re)enable AQE via configure_session
            # the conf is read lazily when the physical plan is built, so
            # disable AQE after building the DataFrame, before plan access
            spark.conf.set("spark.sql.adaptive.enabled", "false")
            out[name] = plan_report(df)
            out[name]["build_collects"] = counts["n"]
            out[name]["build_collect_rows"] = counts["rows"]
            spark.conf.set("spark.sql.adaptive.enabled", prev)
        return out
    finally:
        _CDF.collect = orig_collect
        spark.conf.set("spark.sql.adaptive.enabled", prev)
