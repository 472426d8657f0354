"""Sinks (S3/S5) + IQ-over-live-state (M5) pins.

The reference queries RocksDB stores over REST while the topology runs
(IQueriesService.java:78-176); here a StoreMirror maintains the store
from an update-mode streaming count and operators/iq.py queries run
against it between micro-batches.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import threading
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from kafka_streams_app_spark.iq_service import IQService
from kafka_streams_app_spark.operators import iq
from kafka_streams_app_spark.operators.aggregations import count_per_key
from kafka_streams_app_spark.operators.ktable import latest_per_key
from kafka_streams_app_spark.streaming import sinks
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay
from kafka_streams_app_spark.streaming.sinks import StoreMirror, _write_part, to_topic


def test_store_mirror_live_queries(spark):
    """WordCount counts-store lifecycle: counts visible to IQ queries
    after each batch, updated (not duplicated) on re-count."""
    mirror = StoreMirror(spark, "counts_store_test", ["word"])
    staging = tempfile.mkdtemp(prefix="iqsrc_")
    src = (
        spark.readStream.schema("word string, ts timestamp")
        .option("maxFilesPerTrigger", 1).parquet(staging)
    )
    counts = count_per_key(src, ["word"])
    q = mirror.attach(counts)

    def pipe(rows):
        spark.createDataFrame(rows, "word string, ts timestamp").coalesce(1) \
            .write.mode("append").parquet(staging)
        q.processAllAvailable()

    from datetime import datetime, timezone
    t = datetime(2024, 1, 1, tzinfo=timezone.utc)
    pipe([("hello", t), ("world", t), ("hello", t)])
    store = mirror.view()
    # Q1 point lookup over live state
    assert iq.point_lookup(store, "word", "hello").collect()[0]["cnt"] == 2
    # Q2 full scan
    assert {(r["word"], r["cnt"]) for r in iq.all_entries(store).collect()} == {
        ("hello", 2), ("world", 1),
    }
    pipe([("hello", t), ("alpha", t)])
    store = mirror.view()
    assert iq.point_lookup(store, "word", "hello").collect()[0]["cnt"] == 3
    # Q3 range scan: 'alpha'..'hello' (inclusive), excludes 'world'
    assert {r["word"] for r in iq.range_scan(store, "word", "a", "m").collect()} == {
        "alpha", "hello",
    }
    q.stop()


def _rows(df) -> set[tuple]:
    return {tuple(r) for r in df.collect()}


def _changelog_latest(spark, mirror) -> set[tuple]:
    """Latest-per-key over the parquet changelog, columns in view order."""
    changelog = spark.read.parquet(mirror.path)
    snap = latest_per_key(changelog, mirror.key_cols, order_by=["_batch"])
    return _rows(snap.select(*mirror.view().columns))


def _part_files(mirror) -> int:
    return sum(f.endswith(".parquet") for f in os.listdir(mirror.path))


def _jobs_started(spark, group: str, run) -> int:
    """Number of Spark jobs `run()` starts, counted by job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        run()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _windowed_mirror(spark, name: str):
    """A per-(word, window) count mirrored from a parquet staging dir;
    rows with word 'late' are dropped before the count, so a batch of
    only those emits no update rows. Like `aggregations.windowed_count`, the
    count emits (window_start_s, word, cnt): the key columns do not lead
    and are not in `key_cols` order."""
    staging = tempfile.mkdtemp(prefix="iqsrc_")
    src = (
        spark.readStream.schema("word string, window_start_s long")
        .option("maxFilesPerTrigger", 1).parquet(staging)
    )
    counts = src.filter(F.col("word") != "late") \
        .groupBy("word", "window_start_s").agg(F.count(F.lit(1)).alias("cnt")) \
        .select("window_start_s", "word", "cnt")
    mirror = StoreMirror(spark, name, ["word", "window_start_s"])
    ckpt = tempfile.mkdtemp(prefix=f"{name}_ckpt_")

    def feed(query, rows):
        spark.createDataFrame(rows, "word string, window_start_s long").coalesce(1) \
            .write.mode("append").parquet(staging)
        query.processAllAvailable()

    return mirror, counts, ckpt, feed


BATCHES = [
    [("hello", 0), ("world", 0), ("hello", 10)],
    [("hello", 0), ("alpha", 10)],          # updates (hello, 0)
    [("late", 0), ("late", 10)],            # emits no update rows
    [("world", 0), ("hello", 10), ("zeta", 20)],
    [("alpha", 10)],
]


def _http_rows(port: int, path: str) -> set[tuple]:
    with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
        return {tuple(row.values()) for row in json.loads(r.read())}


def test_store_mirror_snapshot_serves_without_jobs(spark, monkeypatch):
    """After every micro-batch: Q1-Q5 over the view start no Spark job,
    the view equals latest-per-key over the parquet changelog, an empty
    batch appends no file, and every earlier view still answers with the
    values it had when it was taken, as a frame and, registered in an
    IQService, over HTTP (Q1, Q4). Readers taking views concurrently
    (more threads than cores, short switch interval) only ever see the
    store as it was after some whole micro-batch. A frame derived from a
    view carries no snapshot and is answered through Catalyst."""
    mirror, counts, ckpt, feed = _windowed_mirror(spark, "snapshot_test")
    q = mirror.attach(counts, checkpoint=ckpt)
    svc = IQService()
    port = svc.start()
    taken: list[tuple] = []  # (view, its rows when taken)
    stop = threading.Event()
    seen: list[frozenset] = []
    errors: list[BaseException] = []

    def reader():
        try:
            while not stop.is_set():
                seen.append(frozenset(_rows(mirror.view())))
        except Exception as e:  # reported by the assertion below
            errors.append(e)

    readers = [threading.Thread(target=reader) for _ in range(os.cpu_count() + 1)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in readers:
            t.start()
        for n, batch in enumerate(BATCHES):
            files_before = _part_files(mirror)
            feed(q, batch)
            store = mirror.view()

            def queries(store=store):
                iq.point_lookup(store, "word", "hello").collect()
                iq.all_entries(store).collect()
                iq.range_scan(store, "word", "a", "m").collect()
                iq.window_fetch(store, "word", "hello", "window_start_s", 0, 10).collect()
                iq.window_fetch_all(store, "window_start_s", 10, 20).collect()

            assert _jobs_started(spark, f"mirror-iq-{n}", queries) == 0
            now = _rows(store)
            assert now == _changelog_latest(spark, mirror)
            if all(word == "late" for word, _ in batch):
                assert _part_files(mirror) == files_before
            svc.register(f"v{n}", store, "word", start_col="window_start_s")
            taken.append((store, now))
            for m, (old, rows) in enumerate(taken):
                assert _rows(old) == rows
                hello = {r for r in rows if r[0] == "hello"}
                assert _http_rows(port, f"/state/keyvalue/v{m}/hello") == hello
                assert _http_rows(port, f"/state/windowed/v{m}/hello/0/5") == {
                    r for r in hello if r[1] <= 5}
    finally:
        stop.set()
        for t in readers:
            t.join(timeout=60)
        sys.setswitchinterval(switch)
        q.stop()
        svc.stop()
    assert not any(t.is_alive() for t in readers)
    assert not errors
    assert seen and set(seen) <= {frozenset()} | {frozenset(rows) for _, rows in taken}
    assert {(w, s): c for w, s, c in taken[-1][1]} == {
        ("hello", 0): 2, ("hello", 10): 2, ("world", 0): 2,
        ("alpha", 10): 2, ("zeta", 20): 1,
    }
    assert {(w, s): c for w, s, c in taken[0][1]} == {
        ("hello", 0): 1, ("hello", 10): 1, ("world", 0): 1,
    }
    derived = taken[-1][0].filter(F.col("cnt") > 1)
    assert iq.snapshot_of(derived, ["word", "window_start_s"]) is None
    collected = []
    collect = type(derived).collect
    monkeypatch.setattr(type(derived), "collect",
                        lambda df: collected.append(df) or collect(df))
    svc = IQService()
    svc.register("derived", derived, "word", start_col="window_start_s")
    port = svc.start()
    try:
        assert _http_rows(port, "/state/keyvalue/derived/hello") == {("hello", 0, 2),
                                                                      ("hello", 10, 2)}
    finally:
        svc.stop()
    assert len(collected) == 1


@pytest.mark.parametrize("file_order", ["as_written", "aggregation"])
def test_store_mirror_restart_restores_snapshot(spark, file_order):
    """A new mirror on the same changelog and checkpoint restores the
    view from the changelog, then keeps counting from the checkpointed
    state. The view's columns are `key_cols` first before and after the
    restart. `aggregation` rewrites every changelog file in the
    aggregation's column order first, as older mirrors wrote them."""
    mirror, counts, ckpt, feed = _windowed_mirror(spark, "restart_test")
    q = mirror.attach(counts, checkpoint=ckpt)
    try:
        for batch in BATCHES[:3]:
            feed(q, batch)
        assert mirror.view().columns == ["word", "window_start_s", "cnt"]
        before = _rows(mirror.view())
    finally:
        q.stop()
    if file_order == "aggregation":
        for f in os.listdir(mirror.path):
            if f.endswith(".parquet"):
                part = os.path.join(mirror.path, f)
                table = pq.read_table(part)
                pq.write_table(table.select([*counts.columns, "_batch"]), part)
    restarted = StoreMirror(spark, "restart_test", ["word", "window_start_s"],
                            path=mirror.path)
    q = restarted.attach(counts, checkpoint=ckpt)
    try:
        assert restarted.view().columns == ["word", "window_start_s", "cnt"]
        assert _rows(restarted.view()) == before
        feed(q, BATCHES[3])
        after = _rows(restarted.view())
        assert after == _changelog_latest(spark, restarted)
        assert ("hello", 10, 2) in after and ("world", 0, 2) in after
    finally:
        q.stop()


@pytest.fixture(scope="module")
def uninterrupted(spark) -> set[tuple]:
    """The view after every batch of BATCHES, mirrored with no crash."""
    ref, counts, ckpt, feed = _windowed_mirror(spark, "crash_ref")
    q = ref.attach(counts, checkpoint=ckpt)
    try:
        for batch in BATCHES:
            feed(q, batch)
    finally:
        q.stop()
    return _rows(ref.view())


def test_store_mirror_replayed_batch_replaces_its_part(spark, uninterrupted):
    """The crash window between a mirrored micro-batch and its commit:
    with the last batch's commit deleted, Spark runs that batch again
    on restart. The replay replaces the batch's changelog file instead
    of adding one, and both the live mirror and a mirror restored from
    `path` equal the view of an uninterrupted run."""
    keys = ["word", "window_start_s"]
    mirror, counts, ckpt, feed = _windowed_mirror(spark, "crash_test")
    q = mirror.attach(counts, checkpoint=ckpt)
    try:
        for batch in BATCHES[:2]:
            feed(q, batch)
    finally:
        q.stop()
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt, "commits", name))
    parts = sorted(os.listdir(mirror.path))
    replayed = os.path.join(mirror.path, "part-000001.parquet")
    written = os.stat(replayed).st_mtime_ns
    restarted = StoreMirror(spark, "crash_test", keys, path=mirror.path)
    q = restarted.attach(counts, checkpoint=ckpt)
    try:
        q.processAllAvailable()
        assert q.recentProgress[0]["batchId"] == 1
        assert sorted(os.listdir(mirror.path)) == parts
        assert os.stat(replayed).st_mtime_ns != written
        for batch in BATCHES[2:]:
            feed(q, batch)
    finally:
        q.stop()
    assert _rows(restarted.view()) == uninterrupted
    assert _changelog_latest(spark, restarted) == uninterrupted
    restored = StoreMirror(spark, "crash_test", keys, path=mirror.path)
    assert _rows(restored.view()) == uninterrupted


def test_store_mirror_crash_before_rename(spark, monkeypatch, uninterrupted):
    """A crash inside the mirror's write, after a micro-batch's hidden
    changelog file is written and before its rename: the micro-batch
    fails, and a restart from the same checkpoint runs it again. The
    restore does not read the hidden file, the replay leaves one visible
    part per non-empty batch, and the view and the restored changelog
    equal those of an uninterrupted run."""
    keys = ["word", "window_start_s"]
    mirror, counts, ckpt, feed = _windowed_mirror(spark, "rename_crash")
    hidden = os.path.join(mirror.path, ".part-000001.parquet")
    replace = os.replace

    def crash_once(src, dst):
        if src == hidden:
            raise OSError("crashed before the rename")
        replace(src, dst)

    q = mirror.attach(counts, checkpoint=ckpt)
    try:
        feed(q, BATCHES[0])
        with monkeypatch.context() as m:
            m.setattr(sinks.os, "replace", crash_once)
            with pytest.raises(StreamingQueryException):
                feed(q, BATCHES[1])
    finally:
        q.stop()
    assert sorted(os.listdir(mirror.path)) == [".part-000001.parquet", "part-000000.parquet"]
    restarted = StoreMirror(spark, "rename_crash", keys, path=mirror.path)
    assert _rows(restarted.view()) == {("hello", 0, 1), ("world", 0, 1), ("hello", 10, 1)}
    q = restarted.attach(counts, checkpoint=ckpt)
    try:
        q.processAllAvailable()
        assert q.recentProgress[0]["batchId"] == 1
        for batch in BATCHES[2:]:
            feed(q, batch)
    finally:
        q.stop()
    assert sorted(os.listdir(mirror.path)) == [f"part-{b:06d}.parquet" for b in (0, 1, 3, 4)]
    assert _rows(restarted.view()) == uninterrupted
    assert _changelog_latest(spark, restarted) == uninterrupted
    restored = StoreMirror(spark, "rename_crash", keys, path=mirror.path)
    assert _rows(restored.view()) == uninterrupted


def test_store_mirror_compact(spark):
    """compact() rewrites the changelog to one snapshot with identical
    view contents (the Delta-upsert analogue) and leaves no temporary
    directory behind."""
    mirror = StoreMirror(spark, "compact_test", ["k"])
    for batch_id, rows in enumerate([[("a", 1), ("b", 2)], [("a", 3)]]):
        spark.createDataFrame(rows, "k string, v int") \
            .withColumn("_batch", F.lit(batch_id)) \
            .write.mode("append").parquet(mirror.path)
    before = {(r["k"], r["v"]) for r in mirror.view().collect()}
    assert before == {("a", 3), ("b", 2)}
    mirror.compact()
    assert {(r["k"], r["v"]) for r in mirror.view().collect()} == before
    parent, name = os.path.split(mirror.path.rstrip(os.sep))
    assert [d for d in os.listdir(parent) if d.startswith(name)] == [name]
    # the compacted changelog alone restores the same store
    restored = StoreMirror(spark, "compact_test", ["k"], path=mirror.path)
    assert {(r["k"], r["v"]) for r in restored.view().collect()} == before


def test_changelog_part_per_batch_id(tmp_path):
    """A micro-batch that Spark runs again (foreachBatch is at-least-once)
    replaces its own changelog file instead of adding a second one."""
    rows = pa.table({"k": ["a"], "v": [1]})
    _write_part(str(tmp_path), rows, 3)
    _write_part(str(tmp_path), rows.set_column(1, "v", pa.array([2])), 3)
    assert os.listdir(tmp_path) == ["part-000003.parquet"]
    assert pq.read_table(tmp_path).to_pydict() == {"k": ["a"], "v": [2], "_batch": [3]}


def test_to_topic_memory_and_parquet(spark, tmp_path):
    """S3: the same stream sinks to a memory 'topic' and a parquet
    'topic'; both drain identical rows."""
    staging = tempfile.mkdtemp(prefix="sinksrc_")
    src = (
        spark.readStream.schema("k string, v int")
        .option("maxFilesPerTrigger", 1).parquet(staging)
    )
    q1 = to_topic(src, "sink_mem_topic", format="memory")
    q2 = to_topic(src, "sink_pq_topic", format="parquet", path=str(tmp_path / "pq"))
    spark.createDataFrame([("a", 1), ("b", 2)], "k string, v int").coalesce(1) \
        .write.mode("append").parquet(staging)
    q1.processAllAvailable()
    q2.processAllAvailable()
    mem = {(r["k"], r["v"]) for r in spark.table("sink_mem_topic").collect()}
    pq = {(r["k"], r["v"]) for r in spark.read.parquet(str(tmp_path / "pq")).collect()}
    assert mem == pq == {("a", 1), ("b", 2)}
    q1.stop()
    q2.stop()


def test_key_routing_matches_actual_partition_placement(spark):
    """Q6 analogue: pmod(murmur3, n) must equal the partition a
    repartition(n, key) exchange actually routes each row to — the
    Spark-native answer to MetadataService.queryMetadataForKey."""
    from pyspark.sql import functions as F

    from kafka_streams_app_spark.operators.iq import key_routing

    df = spark.range(0, 1000).select(
        F.concat(F.lit("user-"), F.col("id")).alias("key")
    )
    n = 7
    predicted = key_routing(df, ["key"], n)
    actual = (
        df.repartition(n, "key")
        .select("key", F.spark_partition_id().alias("pid"))
    )
    joined = predicted.join(actual, "key")
    assert joined.filter(F.col("partition_id") != F.col("pid")).count() == 0
    assert joined.count() == 1000


def test_to_topic_console_runs(spark):
    """S5: the console/debug sink starts, drains a micro-batch, and
    terminates cleanly (output goes to driver stdout — the
    print(Printed.toSysOut) analogue; nothing to assert on content)."""
    import tempfile

    from kafka_streams_app_spark.streaming.sinks import to_topic

    src_dir = tempfile.mkdtemp(prefix="console_src_")
    spark.createDataFrame([(1, "x")], "id int, v string").write.mode(
        "append"
    ).parquet(src_dir)
    stream = spark.readStream.schema("id int, v string").parquet(src_dir)
    q = to_topic(stream, "debug_topic", format="console")
    try:
        q.processAllAvailable()
        assert q.isActive
    finally:
        q.stop()
