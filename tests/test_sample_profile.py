"""Pins for the streaming deterministic sample (streaming/sample.py)
and the one-pass column profile (operators/pipeline.py:profile_columns).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_app_spark.operators import pipeline
from kafka_streams_app_spark.sources.catalog import load_table
from kafka_streams_app_spark.streaming import sample as SSample
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay

SCHEMA = "source string, doc_id long"


def _build(k=3, seed=3):
    return lambda src: SSample.sample_topk(
        src, "source", "doc_id", k=k, seed=seed
    )


def _net_positive(changelog):
    net: dict[tuple, int] = {}
    for r in changelog:
        key = (r["source"], r["doc_id"])
        net[key] = net.get(key, 0) + r["op"]
    assert set(net.values()) <= {0, 1}  # enter/evict pairs cancel exactly
    return sorted(k for k, v in net.items() if v > 0)


def _batch_sample(spark, rows, k=3, seed=3):
    df = spark.createDataFrame(rows, SCHEMA)
    out = pipeline.stratified_fixed_k(df, "source", "doc_id", k=k, seed=seed)
    return sorted((r["source"], r["doc_id"]) for r in out.collect())


def test_changelog_evicts_and_matches_batch(spark):
    """20 ids through k=3 in four batches: the net-positive set equals
    the batch draw; displaced members emit exactly one -1."""
    rows = [("s", i) for i in range(20)]
    expected = _batch_sample(spark, rows)
    with MicroBatchReplay(spark, SCHEMA, _build(), "update") as r:
        for i in range(0, 20, 5):
            r.pipe(rows[i : i + 5])
        ch = r.drain()
    assert _net_positive(ch) == expected
    evictions = [x for x in ch if x["op"] == -1]
    additions = [x for x in ch if x["op"] == 1]
    assert len(additions) - len(evictions) == 3  # final |sample| = k
    assert len(evictions) > 0  # churn actually happened


def test_replay_net_positive_equals_micro_batches(spark):
    """The grouped-replay path (a batch frame into sample_topk) leaves
    the same net-positive set as the same rows piped through TWS in
    several micro-batches."""
    rows = [("a", i) for i in range(12)] + [("b", i) for i in range(9)]
    with MicroBatchReplay(spark, SCHEMA, _build(), "update") as r:
        for i in range(0, len(rows), 7):
            r.pipe(rows[i : i + 7])
        streamed = _net_positive(r.drain())
    replayed = _net_positive(
        _build()(spark.createDataFrame(rows, SCHEMA)).collect()
    )
    assert replayed == streamed == _batch_sample(spark, rows)


def test_final_set_invariant_to_batch_split_and_order(spark):
    """One batch vs per-row batches vs reversed arrival: same final
    set (bottom-k of a pure ranking is commutative and idempotent)."""
    rows = [("a", i) for i in range(10)] + [("b", i) for i in range(7)]
    expected = _batch_sample(spark, rows)

    def run(batches):
        with MicroBatchReplay(spark, SCHEMA, _build(), "update") as r:
            for batch in batches:
                r.pipe(batch)
            return _net_positive(r.drain())

    assert run([rows]) == expected
    assert run([[x] for x in rows]) == expected
    assert run([[x] for x in reversed(rows)]) == expected


def test_rejected_id_never_enters_after_threshold_tightens(spark):
    """Once a stratum holds k members all ranking below an id, that id
    produces NO changelog rows (state stays bounded at k, no churn)."""
    rows = [("s", i) for i in range(50)]
    with MicroBatchReplay(spark, SCHEMA, _build(k=3), "update") as r:
        r.pipe(rows)
        first = r.drain()
        final = _net_positive(first)
        # re-deliver every non-member: nothing may change
        members = {d for _, d in final}
        r.pipe([x for x in rows if x[1] not in members])
        assert r.drain() == []


def test_profile_columns_counts_nulls_distincts_lengths(spark):
    df = spark.createDataFrame(
        [(1, "aa", None), (2, "bbb", "x"), (3, None, "x"), (4, "aa", "y")],
        "id long, t string, g string",
    )
    rows = {r["col_name"]: r for r in pipeline.profile_columns(
        df, ["id", "t", "g"]
    ).collect()}
    assert (rows["id"]["n_nulls"], rows["id"]["n_distinct"]) == (0, 4)
    assert rows["id"]["sum_len"] == 4  # '1','2','3','4'
    assert (rows["t"]["n_nulls"], rows["t"]["n_distinct"]) == (1, 2)
    assert rows["t"]["sum_len"] == 2 + 3 + 2
    assert (rows["g"]["n_nulls"], rows["g"]["n_distinct"]) == (1, 2)
    assert rows["g"]["sum_len"] == 3


def test_profile_single_scan_plan(spark):
    """The profile reads the table ONCE: exactly one parquet scan in
    the physical plan (multi-distinct compiles to Expand, not to one
    aggregate-per-column over repeated scans)."""
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    plan = pipeline.profile_columns(
        docs, ["doc_id", "text", "lang"]
    )._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan


def test_profile_cell_stream_snapshot_equals_batch(spark):
    """Complete-mode cell snapshot == the same aggregate run in batch
    (commutative cells), nulls routed to bucket -1, state bounded at
    cols x 257 rows."""
    from kafka_streams_app_spark.streaming import windows as SW

    rows = [(i, f"t{i % 7}" if i % 5 else None) for i in range(200)]
    schema = "id long, t string"
    batch = sorted(
        tuple(r)
        for r in SW.profile_cell_stream(
            spark.createDataFrame(rows, schema), ["id", "t"], b=8
        ).collect()
    )
    with MicroBatchReplay(
        spark, schema,
        lambda src: SW.profile_cell_stream(src, ["id", "t"], b=8),
        "complete",
    ) as r:
        r.pipe(rows[:90])
        r.pipe(rows[90:])
        stream = sorted(tuple(x) for x in r.drain())
    assert stream == batch
    assert len(stream) <= 2 * 257
    null_cells = [x for x in stream if x[1] == -1]
    assert len(null_cells) == 1 and null_cells[0][0] == "t"
    assert null_cells[0][3] == 40  # every 5th of 200 rows has a null t
