"""Checkpoint recovery: a stateful streaming query stopped mid-stream
and restarted from the SAME checkpoint must carry its state forward —
windows spanning the restart emit counts that include pre-restart rows,
and committed input files are not re-ingested.

This is the fault-tolerance contract the engine leans on at cluster
scale (the reference gets the same from RocksDB + changelog topics —
SURVEY §4.1); a restarted executor/driver must not double-count or
forget. Uses the fault-tolerant FILE sink (the memory sink used by the
test harness deliberately refuses checkpoint recovery)."""

from __future__ import annotations

import glob
import shutil
import tempfile
from datetime import datetime, timezone

from kafka_streams_app_spark.streaming import windows as SW


def _ts(s: int):
    return datetime.fromtimestamp(1_700_000_000 + s, tz=timezone.utc).replace(
        tzinfo=None
    )


SCHEMA = "key string, ts timestamp"


def _start(spark, staging, checkpoint, out_dir):
    src = spark.readStream.schema(SCHEMA).parquet(staging)
    out = SW.windowed_count_stream(src, "ts", ["key"], 10, grace_s=0)
    return (
        out.writeStream.format("parquet")
        .outputMode("append")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def _read_out(spark, out_dir):
    if not glob.glob(f"{out_dir}/*.parquet"):
        return {}
    return {
        (r["key"], r["window_start_s"]): r["cnt"]
        for r in spark.read.parquet(out_dir).collect()
    }


def test_windowed_count_survives_restart(spark):
    staging = tempfile.mkdtemp(prefix="ckpt_rec_src_")
    checkpoint = tempfile.mkdtemp(prefix="ckpt_rec_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="ckpt_rec_out_")
    try:
        q = _start(spark, staging, checkpoint, out_dir)
        # batch 1: three rows in window [0,10) — watermark stays at 4,
        # nothing emitted yet
        spark.createDataFrame(
            [("a", _ts(0)), ("a", _ts(2)), ("b", _ts(4))], SCHEMA
        ).coalesce(1).write.mode("append").parquet(staging)
        q.processAllAvailable()
        assert _read_out(spark, out_dir) == {}  # window still open
        q.stop()

        # restart from the same checkpoint
        q2 = _start(spark, staging, checkpoint, out_dir)
        # batch 2: one more row in [0,10) + a row at 15 that closes it
        spark.createDataFrame(
            [("a", _ts(7)), ("a", _ts(15))], SCHEMA
        ).coalesce(1).write.mode("append").parquet(staging)
        q2.processAllAvailable()
        got = _read_out(spark, out_dir)
        q2.stop()
        # the closed window counts rows from BOTH sides of the restart
        assert got[("a", 1_700_000_000)] == 3  # 0, 2, 7
        assert got[("b", 1_700_000_000)] == 1
    finally:
        for d in (staging, checkpoint, out_dir):
            shutil.rmtree(d, ignore_errors=True)


import pytest


@pytest.mark.parametrize("n_buckets", [4])
def test_tws_ktable_state_survives_restart(spark, n_buckets):
    """The transformWithStateInPandas latest-per-key state machine
    restarted from its checkpoint must remember pre-restart values: an
    update to a key written before the restart emits old_present=True
    with the OLD payload (RocksDB state restored), not a fresh insert.
    Recovery restores a MapState whose entries span multiple logical
    keys per grouping key (bucket)."""
    from kafka_streams_app_spark.streaming.ktable import ktable_changelog
    from kafka_streams_app_spark.streaming.replay import tws_available

    if not tws_available(spark):
        pytest.skip("TWS protobuf unavailable in this session")

    staging = tempfile.mkdtemp(prefix="ckpt_tws_src_")
    checkpoint = tempfile.mkdtemp(prefix="ckpt_tws_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="ckpt_tws_out_")
    schema = "user_id long, event_id long, value double"

    def start():
        src = spark.readStream.schema(schema).parquet(staging)
        changelog = ktable_changelog(
            src, ["user_id"], "event_id", ["event_id", "value"],
            n_buckets=n_buckets,
        )

        def write_batch(df, batch_id):  # idempotent per-batch dir
            df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

        return (
            changelog.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .start()
        )

    try:
        q = start()
        spark.createDataFrame(
            [(1, 10, 1.5), (2, 11, 2.5)], schema
        ).coalesce(1).write.mode("append").parquet(staging)
        q.processAllAvailable()
        q.stop()

        q2 = start()
        spark.createDataFrame([(1, 12, 9.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(staging)
        q2.processAllAvailable()
        q2.stop()

        rows = spark.read.option("basePath", out_dir).parquet(out_dir).collect()
        upd = [r for r in rows if r["user_id"] == 1 and r["new_event_id"] == 12]
        assert len(upd) == 1
        # state restored across restart: the old payload is the
        # pre-restart value, not a fresh insert
        assert upd[0]["old_present"] is True
        assert upd[0]["old_event_id"] == 10 and upd[0]["old_value"] == 1.5
    finally:
        for d in (staging, checkpoint, out_dir):
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("n_buckets", [4])
def test_tws_pk_join_state_survives_restart(spark, n_buckets):
    """PK-join state (both sides) restored across a restart: a right
    row arriving after the restart joins the LEFT value written before
    it. Covers the bucketed layout's two recovered MapStates."""
    from kafka_streams_app_spark.streaming.pk_join import pk_join
    from kafka_streams_app_spark.streaming.replay import tws_available
    from pyspark.sql import functions as F

    if not tws_available(spark):
        pytest.skip("TWS protobuf unavailable in this session")

    staging = tempfile.mkdtemp(prefix="ckpt_pkj_src_")
    checkpoint = tempfile.mkdtemp(prefix="ckpt_pkj_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="ckpt_pkj_out_")
    schema = "key string, side string, lval string, rval long, seq long"

    def start():
        src = spark.readStream.schema(schema).parquet(staging)
        left = src.filter(F.col("side") == "l").select("key", "lval", "seq")
        right = src.filter(F.col("side") == "r").select("key", "rval", "seq")
        join = pk_join(
            left, right, key="key", left_payload=["lval"],
            right_payload=["rval"], how="inner", n_buckets=n_buckets,
        )

        def write_batch(df, batch_id):  # idempotent per-batch dir
            df.write.mode("overwrite").parquet(f"{out_dir}/batch={batch_id}")

        return (
            join.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .start()
        )

    try:
        q = start()
        spark.createDataFrame(
            [("k1", "l", "alpha", None, 1)], schema
        ).coalesce(1).write.mode("append").parquet(staging)
        q.processAllAvailable()
        q.stop()

        q2 = start()
        spark.createDataFrame(
            [("k1", "r", None, 7, 2)], schema
        ).coalesce(1).write.mode("append").parquet(staging)
        q2.processAllAvailable()
        q2.stop()

        rows = spark.read.option("basePath", out_dir).parquet(out_dir).collect()
        joined = [r for r in rows if r["action"] == "upsert"]
        assert len(joined) == 1
        # left state restored across restart: pre-restart value joins
        assert joined[0]["lval"] == "alpha" and joined[0]["rval"] == 7
    finally:
        for d in (staging, checkpoint, out_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_restart_does_not_recount_processed_files(spark):
    """Restarting WITHOUT new data then adding only the closer row must
    yield the same counts — committed input files are not re-ingested
    (exactly-once over the file source's offset log)."""
    staging = tempfile.mkdtemp(prefix="ckpt_rec2_src_")
    checkpoint = tempfile.mkdtemp(prefix="ckpt_rec2_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="ckpt_rec2_out_")
    try:
        q = _start(spark, staging, checkpoint, out_dir)
        spark.createDataFrame(
            [("x", _ts(1)), ("x", _ts(3))], SCHEMA
        ).coalesce(1).write.mode("append").parquet(staging)
        q.processAllAvailable()
        q.stop()

        q2 = _start(spark, staging, checkpoint, out_dir)
        q2.processAllAvailable()  # no new files: nothing to do
        spark.createDataFrame([("x", _ts(12))], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(staging)
        q2.processAllAvailable()
        got = _read_out(spark, out_dir)
        q2.stop()
        assert got[("x", 1_700_000_000)] == 2  # not 4: files not re-read
    finally:
        for d in (staging, checkpoint, out_dir):
            shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("n_buckets", [4])
def test_fk_pipeline_survives_restart(spark, n_buckets):
    """r11 verdict #6: the FULL FK-join pipeline (ktable changelog ->
    fk instructions -> stateful join, one query) resumed from its
    checkpoint must (a) not re-read committed inputs, (b) not
    double-emit anything — the drain right after restart is EMPTY, (c)
    have both join stores AND the ktable state back: a post-restart
    right update joins the pre-restart subscription, and a post-restart
    FK move retracts via the pre-restart left value exactly once."""
    from kafka_streams_app_spark.streaming.fk_join import FKJoinReplay
    from kafka_streams_app_spark.streaming.replay import tws_available

    if not tws_available(spark):
        pytest.skip("TWS protobuf unavailable in this session")

    LEFT = "pk string, fk string, name string, is_delete boolean, seq long"
    RIGHT = "rk string, rank int, is_delete boolean, seq long"
    with FKJoinReplay(
        spark, LEFT, RIGHT,
        pk="pk", fk="fk", left_payload=["fk", "name"],
        left_tombstone="is_delete",
        right_key="rk", right_payload=["rank"], right_tombstone="is_delete",
        how="left", n_buckets=n_buckets, sink="parquet",
    ) as p:
        p.pipe_left([("3 bands", "adidas", "3 bands", False)])
        assert p.drain() == [("3 bands", "upsert", "3 bands", None)]
        p.pipe_right([("adidas", 3, False)])
        assert p.drain() == [("3 bands", "upsert", "3 bands", 3)]

        # ---- crash the query, resume from the same checkpoint ----
        p.restart()
        # (a)+(b): committed inputs not re-read, nothing re-emitted
        assert p.drain() == []

        # (c1) right store recovered: a right update joins the
        # subscription written before the crash
        p.pipe_right([("adidas", 5, False)])
        assert p.drain() == [("3 bands", "upsert", "3 bands", 5)]

        # (c2) ktable + subscription state recovered: an FK move issues
        # exactly one unsubscribe(adidas)+subscribe(puma) pair computed
        # against the PRE-crash left value — one upsert, rank of puma
        p.pipe_right([("puma", 7, False)])
        assert p.drain() == []  # no subscriber yet
        p.pipe_left([("3 bands", "puma", "3 bands", False)])
        assert p.drain() == [("3 bands", "upsert", "3 bands", 7)]

        # (c3) delete crosses the recovered state exactly once
        p.pipe_left([("3 bands", None, None, True)])
        assert p.drain() == [("3 bands", "delete", None, None)]
        p.pipe_left([("3 bands", None, None, True)])
        assert p.drain() == []


def _fk_pipes_around_crash(spark, n_buckets: int, crash: bool):
    """One pipe sequence through the FK pipeline. With crash=True the
    query is stopped after the first two pipes, a left file and a right
    file are staged while it is down, and the query restarts from its
    checkpoint. Returns (rows emitted for the staged input, end state
    reduced per pk by the (_seq, _minor) ordering tag)."""
    from kafka_streams_app_spark.streaming.fk_join import FKJoinReplay

    LEFT = "pk string, fk string, name string, is_delete boolean, seq long"
    RIGHT = "rk string, rank int, is_delete boolean, seq long"
    with FKJoinReplay(
        spark, LEFT, RIGHT,
        pk="pk", fk="fk", left_payload=["fk", "name"],
        left_tombstone="is_delete",
        right_key="rk", right_payload=["rank"], right_tombstone="is_delete",
        how="left", n_buckets=n_buckets, sink="parquet",
    ) as p:
        p.pipe_left([("a1", "adidas", "Ann", False)])
        assert p.drain() == [("a1", "upsert", "Ann", None)]
        p.pipe_right([("adidas", 3, False)])
        assert p.drain() == [("a1", "upsert", "Ann", 3)]
        if crash:
            p.query.stop()
        # an FK move (unsubscribe adidas / subscribe puma against the
        # pre-crash state), a new subscriber of adidas, then right
        # updates for both fks
        p.pipe_left([("a1", "puma", "Ann", False), ("b2", "adidas", "Bob", False)])
        p.pipe_right([("adidas", 5, False), ("puma", 7, False)])
        if crash:
            p.restart()
            p.settle()
        catch_up = sorted(p.drain(), key=repr)
        # nothing pending: an idle drain stays empty
        assert p.drain() == []
        end = {}
        for r in sorted(p.table().collect(), key=lambda r: (r._seq, r._minor)):
            end[r.pk] = (r.action, r.name, r.r_rank)
        return catch_up, end


@pytest.mark.parametrize("n_buckets", [4])
def test_fk_pipeline_crash_with_pending_input(spark, n_buckets):
    """Crash with input pending on BOTH sides: the query stops, a left
    and a right file are staged, and the query restarts from its one
    checkpoint. Each pending record must be applied exactly once (none
    lost, none doubled) — the catch-up rows and the end state per pk
    equal an uninterrupted run of the same pipes."""
    from kafka_streams_app_spark.streaming.replay import tws_available

    if not tws_available(spark):
        pytest.skip("TWS protobuf unavailable in this session")

    catch_up, end = _fk_pipes_around_crash(spark, n_buckets, crash=True)
    assert catch_up == sorted([
        ("a1", "upsert", "Ann", None),  # moved to (still absent) puma
        ("b2", "upsert", "Bob", 3),     # joins the recovered right store
        ("b2", "upsert", "Bob", 5),
        ("a1", "upsert", "Ann", 7),
    ], key=repr)
    assert end == {"a1": ("upsert", "Ann", 7), "b2": ("upsert", "Bob", 5)}
    assert (catch_up, end) == _fk_pipes_around_crash(
        spark, n_buckets, crash=False
    )


_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
_FS_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_checkpoints_written_through_filesystem_manager(spark):
    """Every engine session writes checkpoints through Spark's
    FileSystem-based manager (engine.RUNTIME_CONF), a session built
    elsewhere gets it from configure_session, a stateful query commits
    through it, and its offset log still refuses to replace a batch file
    (the exactly-once guarantee). A Spark upgrade that renames or moves
    the class fails here, at query start."""
    from py4j.protocol import Py4JJavaError

    from kafka_streams_app_spark.engine import configure_session

    assert spark.conf.get(_MANAGER_CONF) == _FS_MANAGER
    external = spark.newSession()
    external.conf.unset(_MANAGER_CONF)
    assert external.conf.get(_MANAGER_CONF, None) is None
    configure_session(external)
    assert external.conf.get(_MANAGER_CONF) == _FS_MANAGER

    staging = tempfile.mkdtemp(prefix="ckpt_fm_src_")
    checkpoint = tempfile.mkdtemp(prefix="ckpt_fm_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="ckpt_fm_out_")
    try:
        external.createDataFrame(
            [("a", _ts(0)), ("b", _ts(1))], SCHEMA
        ).coalesce(1).write.mode("append").parquet(staging)
        q = _start(external, staging, checkpoint, out_dir)
        try:
            q.processAllAvailable()
            assert q.lastProgress["stateOperators"][0]["numRowsTotal"] == 2
            fm = q._jsq.streamingQuery().offsetLog().fileManager()
            assert fm.getClass().getName() == _FS_MANAGER
        finally:
            q.stop()
        assert glob.glob(f"{checkpoint}/state/0/*/1.delta")
        batch0 = f"{checkpoint}/offsets/0"
        with open(batch0, "rb") as f:
            before = f.read()
        jpath = spark._jvm.org.apache.hadoop.fs.Path(batch0)
        out = fm.createAtomic(jpath, False)
        out.write(bytearray(b"not an offset"))
        with pytest.raises(Py4JJavaError, match="FileAlreadyExistsException"):
            out.close()
        with open(batch0, "rb") as f:
            assert f.read() == before
    finally:
        for d in (staging, checkpoint, out_dir):
            shutil.rmtree(d, ignore_errors=True)
