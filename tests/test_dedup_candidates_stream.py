"""Streaming near-dup candidate pins (streaming/dedup_candidates.py):
exactly-once pair emission across micro-batches, batch-split
invariance of the emitted set, the hot-bucket member cap, and
stream == grouped-replay == batch posting-list self-join equivalence.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_app_spark.functions.text import (
    winnowing_fingerprints,
    winnowing_fps_udf,
)
from kafka_streams_app_spark.sources.catalog import load_table
from kafka_streams_app_spark.streaming import dedup_candidates as DC
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay

SCHEMA = "doc_id long, text string"

# Documents built from a shared 8-token run (winnowing guarantees a
# shared fingerprint for any shared run of >= k + window - 1 = 8
# tokens) plus unique filler so the docs are not identical.
_RUN = "alpha bravo charlie delta echo foxtrot golf hotel"
_RUN2 = "india juliet kilo lima mike november oscar papa"


def _doc(i: int, extra: str) -> tuple[int, str]:
    return (i, f"{_RUN} {extra} one two three four five six seven")


def _build(max_members=None):
    return lambda src: DC.winnow_candidates(
        src, "text", "doc_id", max_members=max_members
    )


def _batch_pairs(spark, docs):
    """Batch posting-list self-join over the same fingerprint prefix."""
    df = spark.createDataFrame(docs, SCHEMA)
    fps = DC.winnow_fingerprints(df, "text", "doc_id")
    return sorted(
        tuple(r)
        for r in fps.alias("a")
        .join(
            fps.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.fp").alias("fp"),
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
        )
        .collect()
    )


def test_pair_emitted_once_when_later_member_arrives(spark):
    """Doc 2 arriving in batch 2 pairs against batch-1 state exactly
    once; a batch with no new bucket members emits nothing."""
    d1, d2 = _doc(1, "x y z"), _doc(2, "p q r")
    expected = _batch_pairs(spark, [d1, d2])
    assert len(expected) > 0
    with MicroBatchReplay(spark, SCHEMA, _build(), "update") as r:
        r.pipe([d1])
        assert r.drain() == []  # sole member: nothing to pair with
        r.pipe([d2])
        got = sorted(tuple(x) for x in r.drain())
        assert got == expected
        assert all(a == 1 and b == 2 for _, a, b in got)
        r.pipe([d1])  # re-delivery of a known member
        assert r.drain() == []  # idempotent: no duplicate pairs


def test_emitted_set_invariant_to_batch_split(spark):
    """One batch of 4 docs vs four batches of 1: same final pair set
    (the oracle contract), and every pair appears exactly once."""
    docs = [_doc(i, f"u{i} v{i} w{i}") for i in (1, 2, 3, 4)]
    expected = _batch_pairs(spark, docs)

    def run(split):
        with MicroBatchReplay(spark, SCHEMA, _build(), "update") as r:
            for batch in split:
                r.pipe(batch)
            return sorted(tuple(x) for x in r.drain())

    one = run([docs])
    per_doc = run([[d] for d in docs])
    assert one == per_doc == expected
    assert len(one) == len(set(one))  # exactly once, even within-batch


def test_max_members_freezes_hot_bucket(spark):
    """With max_members=2 the third+ member of a bucket neither emits
    nor joins: pairs stay bounded at C(2,2)=1 per bucket."""
    docs = [_doc(i, f"a{i} b{i} c{i}") for i in (1, 2, 3, 4)]
    with MicroBatchReplay(spark, SCHEMA, _build(max_members=2), "update") as r:
        for d in docs:
            r.pipe([d])
        got = [tuple(x) for x in r.drain()]
    assert len(got) > 0
    # every emitted pair is within the first two members
    assert all({a, b} <= {1, 2} for _, a, b in got)


def test_stream_equals_replay_equals_batch_on_documents(spark):
    """Real documents slice: stream (two batches) == grouped-replay ==
    the batch posting-list self-join, row for row."""
    docs_df = load_table(spark, "/root/testdata/sf0.001", "documents")
    rows = [
        (r["doc_id"], r["text"])
        for r in docs_df.select("doc_id", "text").orderBy("doc_id").collect()
    ]
    expected = _batch_pairs(spark, rows)
    assert len(expected) > 0
    replay = sorted(
        tuple(r)
        for r in DC.winnow_candidates(
            spark.createDataFrame(rows, SCHEMA), "text", "doc_id"
        ).collect()
    )
    assert replay == expected
    with MicroBatchReplay(spark, SCHEMA, _build(), "update") as r:
        half = len(rows) // 2
        r.pipe(rows[:half])
        r.pipe(rows[half:])
        stream = sorted(tuple(x) for x in r.drain())
    assert stream == expected


def test_udf_and_column_fingerprints_identical(spark):
    """The Arrow fingerprint-set UDF (the fast path) and the pure-
    Column winnowing produce the identical (fp, doc_id) set on real
    documents."""
    docs_df = load_table(spark, "/root/testdata/sf0.001", "documents")

    def fp_set(fps):
        return sorted(
            tuple(r)
            for r in docs_df.select(
                "doc_id", F.explode(fps(F.col("text"))).alias("fp")
            ).collect()
        )

    udf_set = fp_set(winnowing_fps_udf())
    col_set = fp_set(lambda c: winnowing_fingerprints(c, hash_fn="md5"))
    assert udf_set == col_set
    assert len(udf_set) > 0


def test_decontam_winnow_stream_flags_once_across_batches(spark):
    """Decontamination at ingest: docs sharing >= 2 fingerprints with
    the static benchmark flag exactly once regardless of which batch
    they arrive in; clean docs never appear; equals the batch join."""
    ref = [(100, f"{_RUN} bench filler {_RUN2}")]
    contaminated = [
        _doc(1, "c1 c2 c3"),  # shares the _RUN run with ref
        (2, f"{_RUN2} other words {_RUN}"),
    ]
    clean = [(3, "totally different words nine ten eleven twelve "
                 "thirteen fourteen fifteen sixteen seventeen")]
    ref_df = spark.createDataFrame(ref, SCHEMA)

    # batch twin: fingerprint join + count
    s_df = spark.createDataFrame(contaminated + clean, SCHEMA)
    s_fps = DC.winnow_fingerprints(s_df, "text", "doc_id")
    r_fps = DC.winnow_fingerprints(ref_df, "text", "doc_id").select("fp").distinct()
    expected = sorted(
        (r["doc_id"], r["n_shared"])
        for r in s_fps.join(r_fps, "fp")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
        .collect()
    )
    assert len(expected) > 0
    with MicroBatchReplay(
        spark, SCHEMA,
        lambda src: DC.decontam_winnow_stream(
            src, ref_df, "text", "doc_id", min_shared=2
        ),
        "update",
    ) as r:
        r.pipe(contaminated[:1] + clean)
        r.pipe(contaminated[1:])
        got = sorted((x["doc_id"], x["n_shared"]) for x in r.drain())
    assert got == expected
    assert 3 not in {d for d, _ in got}


def test_winnow_candidates_survive_restart(spark):
    """Crash recovery: the candidate operator restarted from its
    checkpoint pairs post-restart docs against PRE-restart bucket
    members exactly once, does not re-ingest committed inputs, and
    does not re-emit pre-restart pairs (fault-tolerant parquet sink)."""
    import glob
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(prefix="wc_rec_src_")
    checkpoint = tempfile.mkdtemp(prefix="wc_rec_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="wc_rec_out_")

    def start():
        src = spark.readStream.schema(SCHEMA).parquet(staging)
        out = DC.winnow_candidates(src, "text", "doc_id", n_buckets=4)

        # parquet refuses update mode; foreachBatch-append is the
        # fault-tolerant sink
        def write(bdf, _bid):
            bdf.write.mode("append").parquet(out_dir)

        return (
            out.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .start()
        )

    def read_out():
        if not glob.glob(f"{out_dir}/*.parquet"):
            return []
        return sorted(tuple(r) for r in spark.read.parquet(out_dir).collect())

    docs = [_doc(i, f"r{i} s{i} t{i}") for i in (1, 2, 3)]
    expected = _batch_pairs(spark, docs)
    assert len(expected) > 0
    try:
        q = start()
        spark.createDataFrame(docs[:2], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(staging)
        q.processAllAvailable()
        pre = read_out()
        assert pre == _batch_pairs(spark, docs[:2])
        q.stop()

        q2 = start()
        spark.createDataFrame(docs[2:], SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(staging)
        q2.processAllAvailable()
        got = read_out()
        q2.stop()
        # full pair set, each pair exactly once: doc 3 joined pre-crash
        # members from recovered state, and batch-1 pairs were not
        # re-emitted nor batch-1 files re-read
        assert got == expected
    finally:
        for d in (staging, checkpoint, out_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_hot_bucket_warn_fires_on_step_crossing(caplog):
    """r13 ADVICE: the hot-bucket warning must fire when a bulk batch
    JUMPS PAST a power-of-two step (exact equality never holds there),
    fire once per step, and stay silent under a cap or below 1024."""
    import logging

    from kafka_streams_app_spark.streaming.dedup_candidates import (
        _warn_hot_bucket,
    )

    logger = "kafka_streams_app_spark.streaming.dedup_candidates"
    with caplog.at_level(logging.WARNING, logger=logger):
        _warn_hot_bucket(1, 0, 1000, None)        # below threshold
        assert len(caplog.records) == 0
        _warn_hot_bucket(1, 1000, 1500, None)     # jumps past 1024
        assert len(caplog.records) == 1
        _warn_hot_bucket(1, 1500, 2000, None)     # same step: silent
        assert len(caplog.records) == 1
        _warn_hot_bucket(1, 2000, 5000, None)     # past 2048 AND 4096
        assert len(caplog.records) == 2
        _warn_hot_bucket(1, 0, 4096, 64)          # capped: silent
        assert len(caplog.records) == 2


def _capped_pairs(spark, docs, max_members):
    """Single-batch reference for the member cap: per fingerprint, only
    the first max_members docs (doc_id order) join and pair."""
    df = spark.createDataFrame(docs, SCHEMA)
    members: dict[int, list[int]] = {}
    for r in DC.winnow_fingerprints(df, "text", "doc_id").collect():
        members.setdefault(r["fp"], []).append(r["doc_id"])
    out = []
    for fp, ds in members.items():
        kept = sorted(set(ds))[:max_members]
        out.extend(
            (fp, a, b) for i, a in enumerate(kept) for b in kept[i + 1:]
        )
    return sorted(out)


def test_auto_layout_same_pair_set_mixed_ingest(spark):
    """The per-batch density switch (bulk batches on the whole-bucket
    blob, trickle batches on MapState) must preserve the exactly-once
    pair invariant: batch replays at several bucket counts (one bucket
    holding every fingerprint up to ~one per bucket), a MIXED ingest —
    bulk backfill batch, then per-doc trickle, then bulk again — and a
    pure per-doc trickle all equal the batch posting-list self-join;
    capped batch replays equal the single-batch cap reference."""
    docs = [_doc(i, f"g{i} h{i} i{i}") for i in range(1, 10)]
    expected = _batch_pairs(spark, docs)
    assert len(expected) > 0
    capped = _capped_pairs(spark, docs, 2)
    assert 0 < len(capped) < len(expected)
    df = spark.createDataFrame(docs, SCHEMA)
    for nb in (1, 4, 128):
        got = sorted(
            tuple(r)
            for r in DC.winnow_candidates(
                df, "text", "doc_id", n_buckets=nb
            ).collect()
        )
        assert got == expected, f"n_buckets={nb}"
        got_capped = sorted(
            tuple(r)
            for r in DC.winnow_candidates(
                df, "text", "doc_id", n_buckets=nb, max_members=2
            ).collect()
        )
        assert got_capped == capped, f"capped, n_buckets={nb}"

    def stream(split):
        with MicroBatchReplay(
            spark, SCHEMA,
            lambda src: DC.winnow_candidates(
                src, "text", "doc_id", n_buckets=4
            ),
            "update",
        ) as r:
            for batch in split:
                r.pipe(batch)
            return sorted(tuple(x) for x in r.drain())

    # bulk: blob economics; trickle: MapState; bulk again migrates
    # the trickled fps into the blob
    assert stream([docs[:5], [docs[5]], [docs[6]], docs[7:]]) == expected
    assert stream([[d] for d in docs]) == expected


def test_auto_layout_store_residency_and_migration():
    """Direct drive of _BucketPairsAuto (shim states, no Spark): a
    bulk batch (>= _BULK_THRESHOLD distinct fps) lands in the blob and
    DELETES migrated MapState entries (exactly-one-store invariant);
    a trickle batch lands new fps in MapState but keeps blob-resident
    fps updating in the blob; pairs are emitted exactly once across
    the stores."""
    import pandas as pd

    from kafka_streams_app_spark.streaming.dedup_candidates import (
        _BucketPairsAuto,
    )
    from kafka_streams_app_spark.streaming.replay import _HandleShim

    proc = _BucketPairsAuto()
    proc.init(_HandleShim())

    def feed(rows):
        pdf = pd.DataFrame(rows, columns=["fp", "doc_id"])
        out = list(proc.handleInputRows((0,), iter([pdf]), None))
        return sorted(
            tuple(t) for o in out for t in o.itertuples(index=False)
        )

    # trickle first: 2 distinct fps -> MapState
    assert feed([(1, 10), (2, 10)]) == []
    assert proc.map.getValue((1,)) == ("10",)
    assert not proc.blob.exists()
    # bulk: 8 distinct fps (2 existing + 6 new) -> blob; fp 1/2 migrate
    rows = [(f, 20) for f in range(1, 9)]
    assert feed(rows) == [(1, 10, 20), (2, 10, 20)]
    assert proc.map.getValue((1,)) is None
    assert proc.map.getValue((2,)) is None
    assert proc.blob.exists()
    # trickle after bulk: blob-resident fp 1 updates IN the blob and
    # pairs against both prior members; new fp 99 lands in MapState
    assert feed([(1, 30), (99, 30)]) == [(1, 10, 30), (1, 20, 30)]
    assert proc.map.getValue((1,)) is None
    assert proc.map.getValue((99,)) == ("30",)
    assert "1:10,20,30" in proc.blob.get()[0]


def test_auto_trickle_lazy_blob_parse():
    """r14 ADVICE: a pure-trickle batch touching only MAP-RESIDENT
    fingerprints must not read the bucket blob at all (the blob is
    parsed lazily, on the first map miss), so trickle economics hold
    once anything has migrated to the blob."""
    import pandas as pd

    from kafka_streams_app_spark.streaming.dedup_candidates import (
        _BucketPairsAuto,
    )
    from kafka_streams_app_spark.streaming.replay import _HandleShim

    proc = _BucketPairsAuto()
    proc.init(_HandleShim())

    def feed(rows):
        pdf = pd.DataFrame(rows, columns=["fp", "doc_id"])
        out = list(proc.handleInputRows((0,), iter([pdf]), None))
        return sorted(
            tuple(t) for o in out for t in o.itertuples(index=False)
        )

    # bulk: fps 1..8 -> blob; then a trickle lands fp 99 in MapState
    feed([(f, 20) for f in range(1, 9)])
    feed([(99, 30)])
    assert proc.map.getValue((99,)) == ("30",)

    reads = {"n": 0}
    real_get = proc.blob.get

    def counting_get():
        reads["n"] += 1
        return real_get()

    proc.blob.get = counting_get
    # map-resident fp only: ZERO blob reads
    assert feed([(99, 31)]) == [(99, 30, 31)]
    assert reads["n"] == 0
    # blob-resident fp: exactly ONE lazy parse (plus the rewrite path
    # re-serializing the parsed table, not re-reading)
    assert feed([(1, 40)]) == [(1, 20, 40)]
    assert reads["n"] == 1
    # brand-new fp in a trickle batch: map miss -> one parse, but the
    # new member lands in MapState and the blob is NOT rewritten
    blob_before = real_get()
    assert feed([(777, 50)]) == []
    assert reads["n"] == 2
    assert proc.map.getValue((777,)) == ("50",)
    assert real_get() == blob_before


def _distinct_fps(spark, docs) -> int:
    df = spark.createDataFrame(docs, SCHEMA)
    return DC.winnow_fingerprints(df, "text", "doc_id").select("fp").distinct().count()


def _run_restart_phases(spark, phase1_docs, phase2_docs):
    """Drive a REAL TWS checkpoint restart: phase 1 ingests one
    micro-batch per chunk, stops; phase 2 restarts the SAME checkpoint
    and ingests more. n_buckets=1, so a chunk's distinct fingerprint
    count alone decides trickle vs bulk. Returns the sorted emitted
    pair set (fault-tolerant parquet sink)."""
    import glob
    import shutil
    import tempfile

    staging = tempfile.mkdtemp(prefix="wc_xlay_src_")
    checkpoint = tempfile.mkdtemp(prefix="wc_xlay_ckpt_")
    out_dir = tempfile.mkdtemp(prefix="wc_xlay_out_")

    def start():
        src = spark.readStream.schema(SCHEMA).parquet(staging)
        out = DC.winnow_candidates(src, "text", "doc_id", n_buckets=1)

        def write(bdf, _bid):
            bdf.write.mode("append").parquet(out_dir)

        return (
            out.writeStream.foreachBatch(write)
            .outputMode("update")
            .option("checkpointLocation", checkpoint)
            .start()
        )

    try:
        for chunks in (phase1_docs, phase2_docs):
            q = start()
            for chunk in chunks:
                spark.createDataFrame(chunk, SCHEMA).coalesce(1).write.mode(
                    "append"
                ).parquet(staging)
                q.processAllAvailable()
            q.stop()
        if not glob.glob(f"{out_dir}/*.parquet"):
            return []
        return sorted(
            tuple(r) for r in spark.read.parquet(out_dir).collect()
        )
    finally:
        for d in (staging, checkpoint, out_dir):
            shutil.rmtree(d, ignore_errors=True)


def test_winnow_restart_map_resident_state_then_bulk(spark):
    """r14 verdict ask #7 + ADVICE: phase 1 trickles single docs, so
    the checkpoint holds the member lists in MapState; the restarted
    query then takes a BULK batch that migrates them into the blob.
    Emits exactly the batch pair set, each pair once."""
    docs = [_doc(i, f"xl{i} ya{i} zb{i}") for i in range(1, 8)]
    expected = _batch_pairs(spark, docs)
    assert len(expected) > 0
    phase1, phase2 = [docs[:1], docs[1:2]], [docs[2:]]
    assert all(_distinct_fps(spark, c) < DC._BULK_THRESHOLD for c in phase1)
    assert _distinct_fps(spark, phase2[0]) >= DC._BULK_THRESHOLD
    assert _run_restart_phases(spark, phase1, phase2) == expected


def test_winnow_restart_blob_resident_state_then_trickle(spark):
    """The other direction: phase 1 is one BULK batch, so the
    checkpoint holds the member lists in the blob; the restarted query
    then trickles single docs (blob-resident fingerprints must keep
    updating in the blob through the lazy-parse path). Emits exactly
    the batch pair set."""
    docs = [_doc(i, f"gb{i} hc{i} jd{i}") for i in range(1, 7)]
    expected = _batch_pairs(spark, docs)
    assert len(expected) > 0
    phase1, phase2 = [docs[:4]], [docs[4:5], docs[5:]]
    assert _distinct_fps(spark, phase1[0]) >= DC._BULK_THRESHOLD
    assert all(_distinct_fps(spark, c) < DC._BULK_THRESHOLD for c in phase2)
    assert _run_restart_phases(spark, phase1, phase2) == expected
