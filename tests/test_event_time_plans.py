"""The plan contract behind one event-time builder for batch and stream
input (operators/aggregations.py, operators/joins.py, topologies.py):
each builder always watermarks its input (windowed_count, session_count
and windowed_grouping by grace_s, the others with no delay), and

- on a batch input Spark drops the watermark as withWatermark adds it
  (EliminateEventTimeWatermark), so no plan holds an EventTimeWatermark
  and the executed plan is the same whatever the grace;
- on a streaming input the analyzed plan holds one EventTimeWatermark
  per input, on its event-time column, with the grace as its delay.

Plans only: nothing here runs a Spark job or a streaming query."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark import topologies as T
from kafka_streams_app_spark.operators import aggregations as A
from kafka_streams_app_spark.operators import joins

EV = "key string, value int, ts timestamp"


def _side(df, prefix):
    return df.select(*[F.col(c).alias(f"{prefix}_{c}") for c in df.columns])


GRACES = (0, 30)
NO_DELAY = (0,)

# name -> (build(df, grace_s), event-time columns, graces the builder takes)
BUILDERS = {
    "windowed_count": (
        lambda df, g: A.windowed_count(df, "ts", ["key"], 10, grace_s=g), ["ts"],
        GRACES),
    "windowed_agg": (
        lambda df, _: A.windowed_agg(df, "ts", ["key"], 10, total=F.sum("value")),
        ["ts"], NO_DELAY),
    "session_count": (
        lambda df, g: A.session_count(df, "ts", ["key"], 2, grace_s=g), ["ts"],
        GRACES),
    "assemble_sessions": (
        lambda df, _: A.assemble_sessions(df, "ts", ["key"], 2, "value"), ["ts"],
        NO_DELAY),
    "interval_join": (
        lambda df, _: joins.interval_join(
            _side(df, "l"), _side(df, "r"), [("l_key", "r_key")], "l_ts", "r_ts",
            2, 2, "left"),
        ["l_ts", "r_ts"], NO_DELAY),
    "windowed_grouping": (
        lambda df, g: T.windowed_grouping(df, "key", "ts", 10, grace_s=g), ["ts"],
        GRACES),
}


def _watermarks(plan) -> list[tuple[str, str]]:
    """(event-time column, delay) of every EventTimeWatermark node in a
    JVM logical plan, depth first."""
    out = []
    if plan.nodeName() == "EventTimeWatermark":
        out.append((plan.eventTime().name(), plan.delay().toString()))
    children = plan.children()
    for i in range(children.size()):
        out += _watermarks(children.apply(i))
    return out


def _executed(df) -> str:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return re.sub(r"plan_id=\d+", "plan_id=", re.sub(r"#\d+L?", "#", plan))


@pytest.mark.parametrize("name", BUILDERS)
def test_batch_plan_drops_the_watermark(spark, name):
    build, _, graces = BUILDERS[name]
    batch = spark.createDataFrame([("a", 1, None)], EV)
    plans = [build(batch, g) for g in graces]
    for df in plans:
        qe = df._jdf.queryExecution()
        assert _watermarks(qe.analyzed()) == _watermarks(qe.optimizedPlan()) == []
        assert "EventTimeWatermark" not in _executed(df)
    assert len({_executed(df) for df in plans}) == 1


@pytest.mark.parametrize(
    "name,grace_s", [(n, g) for n, (_, _, gs) in BUILDERS.items() for g in gs]
)
def test_stream_plan_watermarks_each_input_by_grace(spark, tmp_path, name, grace_s):
    build, cols, _ = BUILDERS[name]
    stream = spark.readStream.schema(EV).parquet(str(tmp_path))
    analyzed = build(stream, grace_s)._jdf.queryExecution().analyzed()
    assert _watermarks(analyzed) == [(c, f"{grace_s} seconds") for c in cols]
