"""tools/profile_entry.py attributes a batch, a streaming and a
grouped-replay entry to its layers, counts the streaming entry's
micro-batch jobs (they run under the query's runId, not the caller's
job group) and counts Python/Arrow plan nodes with the plan audit's
list, which includes grouped replay's FlatMapGroupsInArrow. `--scale`
replicates the tables that an entry's plans scanned."""

from __future__ import annotations

from pathlib import Path

import pytest

import __spark_entry__ as registry
from kafka_streams_app_spark.plans.audit import plan_report
from perfbench.measure import Tracer, execution_count
from tools.profile_entry import ProgressLog, profile_entry, scanned_tables


@pytest.fixture(scope="module")
def sf(sf_dir):
    return str(Path(sf_dir).parent / "sf0.001")


@pytest.fixture(scope="module")
def reports(spark, sf):
    queries = registry.queries()
    log = ProgressLog()
    spark.streams.addListener(log)
    tracer = Tracer(spark.sparkContext, enabled=True)
    try:
        return {name: profile_entry(spark, tracer, log, name, queries[name], sf, runs=1)
                for name in ("t1_wordcount", "s_count_complete", "s_ktable_latest")}
    finally:
        spark.streams.removeListener(log)


def test_every_layer_is_reported(reports):
    for name in ("t1_wordcount", "s_count_complete", "s_ktable_latest"):
        layers = reports[name]["layers"]
        assert {"build", "plan", "execute"} <= set(layers), (name, sorted(layers))
        assert reports[name]["wall_s"] > 0
        assert layers["execute"]["jobs"] >= 1, name


def test_micro_batch_jobs_reach_the_streaming_layer(reports):
    r = reports["s_count_complete"]
    assert r["streaming"]["batches"] >= 1
    assert r["layers"]["streaming"]["jobs"] >= 1
    assert r["layers"]["streaming"]["run_s"] > 0
    assert r["layers"]["streaming"]["wall_s"] == r["streaming"]["trigger_s"]
    assert reports["t1_wordcount"]["streaming"]["batches"] == 0


def test_grouped_replay_nodes_counted_like_the_plan_audit(reports, spark, sf):
    expected = plan_report(registry.queries()["s_ktable_latest"](spark, sf))["python_evals"]
    assert expected >= 1
    assert reports["s_ktable_latest"]["python_nodes"] == expected


def test_scanned_tables_name_what_the_plans_read(spark, sf):
    ex0 = execution_count(spark)
    registry.queries()["tpch_q3_top_revenue"](spark, sf).write.format("noop").mode(
        "overwrite").save()
    assert scanned_tables(spark, ex0, sf) == ["customer", "lineitem", "orders"]
