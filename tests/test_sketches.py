"""Pins for the mergeable-sketch family (operators/sketches.py):
HyperLogLog registers/estimate and Count-Min heavy hitters, plus the
streaming HLL twin and the SoftDeDup reweighting op.

The cross-engine bit-identity is pinned by the oracle entries
(events_hll_distinct / events_cms_topk / s_hll_registers /
corpus_softdedup); these tests pin the SKETCH MATH itself against
plain-Python twins and the statistical/structural guarantees the
oracle can't express (error bounds, upward bias, mergeability).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import functions as F

from kafka_streams_app_spark.operators import sketches as SK
from kafka_streams_app_spark.operators.pipeline import softdedup_weights
from kafka_streams_app_spark.streaming import windows as W
from kafka_streams_app_spark.streaming.harness import MicroBatchReplay


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_registers(values: list[str], b: int = 8) -> dict[int, int]:
    """Plain-Python HLL register twin (value-identical by construction)."""
    w_bits = 60 - b
    regs: dict[int, int] = {}
    for v in values:
        h = _h60(v)
        bucket = h & ((1 << b) - 1)
        w = h >> b
        rho = (w_bits + 1) if w == 0 else w_bits - (w.bit_length() - 1)
        regs[bucket] = max(regs.get(bucket, 0), rho)
    return regs


def test_hll_registers_match_python_twin(spark):
    vals = [f"user-{i}" for i in range(500)] * 3  # duplicates are no-ops
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    got = {
        (r.bucket, r.max_rho)
        for r in SK.hll_registers(df, [], "v", b=8).collect()
    }
    want = set(_py_registers([str(v) for v in set(vals)]).items())
    assert got == want


def test_hll_estimate_within_error_bound(spark):
    """Raw HLL relative error is ~1.04/sqrt(m) = 6.5% at m=256; pin a
    generous 4-sigma band on a 5000-distinct input (n >> 2.5m, so the
    raw estimator is in its regime and no correction applies)."""
    n = 5000
    df = spark.createDataFrame(
        [(f"u{i}",) for i in range(n)] * 2, "v string"
    ).withColumn("g", F.lit(1))
    row = SK.hll_distinct(df, ["g"], "v", b=8).collect()[0]
    est = SK.hll_linear_correction(row.est_distinct, row.used_registers, 256)
    assert abs(est - n) / n < 4 * 1.04 / math.sqrt(256)


def test_hll_small_range_correction(spark):
    """n << m: linear counting recovers the count far better than the
    raw estimator (which is biased high in this regime)."""
    n = 20
    df = spark.createDataFrame([(f"x{i}",) for i in range(n)], "v string")
    df = df.withColumn("g", F.lit(1))
    row = SK.hll_distinct(df, ["g"], "v", b=8).collect()[0]
    corrected = SK.hll_linear_correction(
        row.est_distinct, row.used_registers, 256
    )
    assert abs(corrected - n) <= 3  # linear counting is near-exact here
    assert row.est_distinct > corrected  # raw is biased high when n << m


def test_hll_registers_merge_across_splits(spark):
    """Mergeability (the property that makes the sketch map-side
    combinable and union-able across corpora): max-merging the two
    halves' register tables == the whole corpus' register table."""
    vals = [f"k{i}" for i in range(1000)]
    half_a = spark.createDataFrame([(v,) for v in vals[:500]], "v string")
    half_b = spark.createDataFrame([(v,) for v in vals[500:]], "v string")
    both = spark.createDataFrame([(v,) for v in vals], "v string")
    merged = (
        SK.hll_registers(half_a, [], "v")
        .unionByName(SK.hll_registers(half_b, [], "v"))
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    got = {(r.bucket, r.max_rho) for r in merged.collect()}
    want = {(r.bucket, r.max_rho) for r in SK.hll_registers(both, [], "v").collect()}
    assert got == want


def test_cms_estimate_is_upper_bound_and_tight_for_heavy(spark):
    """CMS point estimates never undercount (min-of-rows over pure
    increments), and the true heaviest item is recovered at rank 1 when
    it dominates."""
    rows = [("heavy",)] * 400 + [(f"t{i}",) for i in range(200)] * 2
    df = spark.createDataFrame(rows, "v string")
    top = SK.cms_topk(df, "v", d=4, w=64, n=10).collect()
    assert top[0].item == "heavy"
    truth = {"heavy": 400, **{f"t{i}": 2 for i in range(200)}}
    for r in top:
        assert r.est_cnt >= truth[r.item]


def test_cms_topk_self_scored_equals_explicit_candidates(spark):
    """The r15 self-scored fast path (candidates=None: sketch + item
    set from ONE per-item count aggregate) returns row-for-row the
    explicit-candidates path's result (sketch from raw rows), because
    a cell's count is the sum of its items' exact counts either way."""
    rows = (
        [("heavy",)] * 50
        + [(f"t{i}",) for i in range(40)] * 3
        + [(None,)] * 5
    )
    df = spark.createDataFrame(rows, "v string")
    cand = df.select("v").distinct()
    got = SK.cms_topk(df, "v", d=4, w=32, n=15).collect()
    want = SK.cms_topk(df, "v", d=4, w=32, n=15, candidates=cand).collect()
    assert [(r.item, r.est_cnt) for r in got] == [
        (r.item, r.est_cnt) for r in want
    ]


def test_cms_sketch_merges_by_cell_sum(spark):
    rows_a = [(f"a{i % 50}",) for i in range(300)]
    rows_b = [(f"b{i % 70}",) for i in range(300)]
    df_a = spark.createDataFrame(rows_a, "v string")
    df_b = spark.createDataFrame(rows_b, "v string")
    df_all = spark.createDataFrame(rows_a + rows_b, "v string")
    merged = (
        SK.cms_sketch(df_a, "v", d=4, w=64)
        .unionByName(SK.cms_sketch(df_b, "v", d=4, w=64))
        .groupBy("cell")
        .agg(F.sum("cnt").alias("cnt"))
    )
    got = {(r.cell, r.cnt) for r in merged.collect()}
    want = {(r.cell, r.cnt) for r in SK.cms_sketch(df_all, "v", d=4, w=64).collect()}
    assert got == want


def test_streaming_hll_registers_equal_batch(spark):
    """The streaming register table (complete mode, two micro-batches)
    equals the batch register table — the mergeable-across-batches
    proof through the real runtime."""
    from datetime import datetime, timezone

    t0 = datetime(2024, 5, 3, 9, 30, 0, tzinfo=timezone.utc)
    rows = [(f"u{i % 37}", i, t0) for i in range(200)]
    with MicroBatchReplay(
        spark,
        "v string, n int, ts timestamp",
        lambda src: SK.hll_registers(src, [], "v", b=8),
        output_mode="complete",
    ) as r:
        r.pipe(rows[:100])
        r.pipe(rows[100:])
        got = {(x.bucket, x.max_rho) for x in r.table().collect()}
    batch = spark.createDataFrame(rows, "v string, n int, ts timestamp")
    want = {
        (x.bucket, x.max_rho)
        for x in SK.hll_registers(batch, [], "v", b=8).collect()
    }
    assert got == want


def test_softdedup_weights_hand_corpus(spark):
    """Identical docs share every shingle -> weight 1e6*n/(n+4n) = 2e5;
    a novel doc keeps 1e6; a doc too short for one shingle keeps 1e6."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words appear nowhere else here"),
            (4, "too short"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_shingles, r.dup_shingles, r.weight_ppm)
        for r in softdedup_weights(docs, "text", "doc_id", k=3, alpha=4).collect()
    }
    assert got[1] == got[2] == (7, 7, 200_000)
    assert got[3] == (5, 0, 1_000_000)
    assert got[4] == (0, 0, 1_000_000)


def test_softdedup_partial_overlap_weight_is_exact_floor(spark):
    """Partial duplication: doc shares a 3-shingle prefix with another;
    weight is the exact integer floor(1e6*n/(n+4*dup))."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "alpha beta gamma zeta eta theta iota"),
        ],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_shingles, r.dup_shingles, r.weight_ppm)
        for r in softdedup_weights(docs, "text", "doc_id", k=3, alpha=4).collect()
    }
    # shared shingle: "alpha beta gamma" only
    n1, d1 = 3, 1
    n2, d2 = 5, 1
    assert got[1] == (n1, d1, 1_000_000 * n1 // (n1 + 4 * d1))
    assert got[2] == (n2, d2, 1_000_000 * n2 // (n2 + 4 * d2))


def test_weighted_sample_keeps_full_weight_always(spark):
    """weight_ppm=1e6 rows are kept unconditionally (novel docs never
    lost); weight_ppm=0 rows are never kept; the draw is a pure
    function of (salt, id) — rerunning reproduces the same set."""
    from kafka_streams_app_spark.operators.pipeline import weighted_sample

    rows = [(i, 1_000_000 if i % 3 == 0 else (0 if i % 3 == 1 else 500_000))
            for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, weight_ppm long")
    kept = {r.doc_id for r in weighted_sample(df, "weight_ppm", "doc_id").collect()}
    assert all(i in kept for i in range(0, 300, 3))      # w=1e6: all kept
    assert all(i not in kept for i in range(1, 300, 3))  # w=0: none kept
    again = {r.doc_id for r in weighted_sample(df, "weight_ppm", "doc_id").collect()}
    assert kept == again
    # half-weight stratum thins to roughly half (binomial, wide band)
    half = [i for i in kept if i % 3 == 2]
    assert 25 <= len(half) <= 75


def test_weighted_sample_matches_python_twin(spark):
    """Exact membership equals the md5 twin: keep iff
    int(md5('wsample|id')[:15], 16) % 1e6 < weight."""
    from kafka_streams_app_spark.operators.pipeline import weighted_sample

    rows = [(i, (i * 7919) % 1_000_001) for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, weight_ppm long")
    kept = {r.doc_id for r in weighted_sample(df, "weight_ppm", "doc_id").collect()}
    want = {
        i for i, w in rows
        if int(hashlib.md5(f"wsample|{i}".encode()).hexdigest()[:15], 16)
           % 1_000_000 < w
    }
    assert kept == want


def test_hll_windowed_registers_respect_window_boundaries(spark):
    """Same user in two different windows occupies registers in BOTH
    window groups; estimate per (window, key) sees only that window's
    values (pinned via the python register twin per group)."""
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2024, 5, 3, 9, 0, 0, tzinfo=timezone.utc)
    rows = [(f"u{i % 9}", t0 + timedelta(seconds=(i % 2) * 3600)) for i in range(40)]
    df = spark.createDataFrame(rows, "v string, ts timestamp")
    win = F.window("ts", "3600 seconds")
    keyed = df.select(F.unix_seconds(win["start"]).alias("ws"), "v")
    regs = SK.hll_registers(keyed, ["ws"], "v", b=8)
    by_win = {}
    for r in regs.collect():
        by_win.setdefault(r.ws, set()).add((r.bucket, r.max_rho))
    assert len(by_win) == 2
    for ws, got in by_win.items():
        vals = {v for v, ts in rows
                if int(ts.timestamp()) // 3600 * 3600 == ws}
        assert got == set(_py_registers(sorted(vals)).items())


def test_hll_windowed_stream_emits_register_block_on_close(spark):
    """Append mode: a window's register block is emitted exactly once,
    only after the watermark passes window end — and matches the batch
    registers of that window's values."""
    from datetime import datetime, timedelta, timezone

    t0 = datetime(2024, 5, 3, 9, 30, 0, tzinfo=timezone.utc)

    def ts(s):
        return t0 + timedelta(seconds=s)

    with MicroBatchReplay(
        spark,
        "v string, n int, ts timestamp",
        lambda src: W.hll_windowed_register_stream(src, "ts", [], "v", 10, b=8),
        output_mode="append",
    ) as r:
        r.pipe([("a", 1, ts(0)), ("b", 1, ts(2)), ("a", 1, ts(4))])
        assert r.drain() == []  # window open: suppressed
        r.pipe([("c", 1, ts(11))])  # watermark closes [t0, t0+10)
        emitted = {(x.window_start_s, x.bucket, x.max_rho) for x in r.drain()}
    t0s = int(t0.timestamp())
    want = {
        (t0s, b, rho) for b, rho in _py_registers(["a", "b"]).items()
    }
    assert emitted == want


def test_streaming_cms_cells_equal_batch(spark):
    """The streaming CMS cell table (complete mode, two micro-batches)
    equals the batch sketch cell for cell — the mergeable-across-
    batches proof for the second sketch."""
    from datetime import datetime, timezone

    t0 = datetime(2024, 5, 3, 9, 30, 0, tzinfo=timezone.utc)
    rows = [(f"u{i % 23}", i, t0) for i in range(300)]
    with MicroBatchReplay(
        spark,
        "v string, n int, ts timestamp",
        lambda src: SK.cms_sketch(src, "v", d=4, w=64),
        output_mode="complete",
    ) as r:
        r.pipe(rows[:150])
        r.pipe(rows[150:])
        got = {(x.cell, x.cnt) for x in r.table().collect()}
    batch = spark.createDataFrame(rows, "v string, n int, ts timestamp")
    want = {
        (x.cell, x.cnt)
        for x in SK.cms_sketch(batch, "v", d=4, w=64).collect()
    }
    assert got == want


def test_cms_topk_external_candidate_set(spark):
    """Scoring an externally supplied candidate set (the 100 TB shape —
    the sketch never stores items) returns exactly those candidates'
    min-of-rows estimates, equal to the full-distinct run's estimates
    for the same items."""
    rows = [(f"v{i % 40}",) for i in range(400)]
    df = spark.createDataFrame(rows, "v string")
    cand = spark.createDataFrame([("v0",), ("v7",), ("nope",)], "item string")
    got = {
        r.item: r.est_cnt
        for r in SK.cms_topk(df, "v", d=4, w=64, n=10, candidates=cand).collect()
    }
    full = {
        r.item: r.est_cnt
        for r in SK.cms_topk(df, "v", d=4, w=64, n=40).collect()
    }
    assert set(got) == {"v0", "v7", "nope"}
    assert got["v0"] == full["v0"] and got["v7"] == full["v7"]
    assert got["nope"] >= 0  # absent item still gets an (over)estimate


# --- histogram quantile sketch ----------------------------------------------


def _py_hist(vals, lo=0.0, hi=512.0, n=256):
    w = (hi - lo) / n
    out: dict[int, int] = {}
    for v in vals:
        if v is None:
            continue
        b = min(max(int(math.floor((v - lo) / w)), 0), n - 1)
        out[b] = out.get(b, 0) + 1
    return out


def test_hist_sketch_matches_python_twin(spark):
    """Bucketization vs the plain-Python twin, including the clamp of
    out-of-domain values to the edge buckets and null exclusion."""
    vals = [0.01, 1.99, 2.0, 511.9, 512.0, 600.0, -5.0, 250.5, None, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], "v double")
    got = {
        (r.bucket, r.cnt)
        for r in SK.hist_sketch(df, [], "v", 0.0, 512.0, 256).collect()
    }
    want = set(_py_hist(vals).items())
    assert got == want
    # clamp pins: 512.0/600.0 land in bucket 255, -5.0 in bucket 0
    assert _py_hist([512.0])[255] == 1 and _py_hist([-5.0])[0] == 1


def test_hist_quantiles_bucket_is_rank_exact(spark):
    """The reported bucket is the TRUE bucket of the ceil(q*n) order
    statistic (the sketch is rank-exact at bucket granularity), and
    est_hi is an upper bound within one bucket width."""
    import random

    rng = random.Random(7)
    vals = [rng.uniform(0, 490) for _ in range(1000)]
    df = spark.createDataFrame([("a", v) for v in vals], "k string, v double")
    qs = (500000, 900000, 990000)
    got = {
        r.q_ppm: (r.rank, r.bucket, r.est_hi)
        for r in SK.hist_quantiles(
            df, ["k"], "v", 0.0, 512.0, 256, qs
        ).collect()
    }
    s = sorted(vals)
    width = 512.0 / 256
    for q in qs:
        rank = (len(s) * q + 999999) // 1000000
        x = s[rank - 1]
        true_bucket = min(max(int(math.floor(x / width)), 0), 255)
        r_rank, r_bucket, r_est = got[q]
        assert r_rank == rank
        assert r_bucket == true_bucket
        assert x <= r_est <= x + width


def test_hist_sketch_merges_by_bucket_sum(spark):
    """Mergeability: bucket-wise summing the halves' sketches equals
    the whole corpus' sketch — the map-side-combine / cross-corpus
    union property."""
    vals = [float((i * 37) % 500) for i in range(400)]
    a = spark.createDataFrame([(v,) for v in vals[:200]], "v double")
    b = spark.createDataFrame([(v,) for v in vals[200:]], "v double")
    both = spark.createDataFrame([(v,) for v in vals], "v double")
    merged = (
        SK.hist_sketch(a, [], "v")
        .unionByName(SK.hist_sketch(b, [], "v"))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    got = {(r.bucket, r.cnt) for r in merged.collect()}
    want = {(r.bucket, r.cnt) for r in SK.hist_sketch(both, [], "v").collect()}
    assert got == want


def test_streaming_hist_cells_equal_batch(spark):
    """The streaming histogram (complete mode, two micro-batches)
    equals the batch sketch row for row — bounded state at
    keys x n_buckets across batches, through the real runtime."""
    from datetime import datetime, timezone

    t0 = datetime(2024, 5, 3, 9, 30, 0, tzinfo=timezone.utc)
    rows = [(f"k{i % 3}", float((i * 13) % 500), t0) for i in range(200)]
    with MicroBatchReplay(
        spark,
        "k string, v double, ts timestamp",
        lambda src: SK.hist_sketch(src, ["k"], "v"),
        output_mode="complete",
    ) as r:
        r.pipe(rows[:100])
        r.pipe(rows[100:])
        got = {(x.k, x.bucket, x.cnt) for x in r.table().collect()}
    batch = spark.createDataFrame(rows, "k string, v double, ts timestamp")
    want = {
        (x.k, x.bucket, x.cnt)
        for x in SK.hist_sketch(batch, ["k"], "v").collect()
    }
    assert got == want


def test_hist_quantiles_empty_input(spark):
    df = spark.createDataFrame([], "k string, v double")
    assert SK.hist_quantiles(df, ["k"], "v").count() == 0


# --- HLL set algebra (hll_setops) -------------------------------------------


def _setops_row(spark, a_vals, b_vals):
    df_a = spark.createDataFrame([(v,) for v in a_vals], "v string")
    df_b = spark.createDataFrame([(v,) for v in b_vals], "v string")
    return SK.hll_setops(df_a, df_b, "v", b=8).collect()[0]


def test_hll_setops_identical_sets(spark):
    """A == B: union registers == each side's, so est_union == est_a ==
    est_b exactly and est_intersect == est_a (inclusion-exclusion is
    exact when the estimates coincide bit for bit)."""
    vals = [f"u{i}" for i in range(500)]
    r = _setops_row(spark, vals, vals)
    assert r["est_a"] == r["est_b"] == r["est_union"] == r["est_intersect"]


def test_hll_setops_disjoint_sets_intersect_near_zero(spark):
    """Disjoint A, B (1000 each): est_intersect is within HLL noise of
    0 (|x| <= 3 * 1.04/sqrt(256) * |union|) and est_union within the
    same band of 2000."""
    a = [f"a{i}" for i in range(1000)]
    b = [f"b{i}" for i in range(1000)]
    r = _setops_row(spark, a, b)
    band = 3 * 1.04 / math.sqrt(256)
    assert abs(r["est_union"] - 2000) <= band * 2000
    assert abs(r["est_intersect"]) <= band * r["est_union"]


def test_hll_setops_matches_python_register_twin(spark):
    """est_union equals the estimate computed from the plain-Python
    max-merged register tables (sketch math pinned end to end)."""
    a = [f"x{i}" for i in range(300)]
    b = [f"x{i}" for i in range(150, 600)]  # 50% overlap
    ra, rb = _py_registers(a), _py_registers(b)
    merged = {k: max(ra.get(k, 0), rb.get(k, 0)) for k in set(ra) | set(rb)}
    m, w_bits = 256, 52
    num = SK.hll_alpha(m) * m * m * float(1 << (w_bits + 1))
    denom = sum(1 << (w_bits + 1 - r) for r in merged.values()) + (
        m - len(merged)
    ) * (1 << (w_bits + 1))
    r = _setops_row(spark, a, b)
    assert r["est_union"] == num / denom
    assert r["est_intersect"] == r["est_a"] + r["est_b"] - r["est_union"]


def test_softdedup_weights_random_vs_python_reference(spark):
    """Randomized pin for the r15 aggregate rewrite (n from size of the
    distinct-shingle array; dup = n - globally-unique count via the
    df==1 min(id) owner trick): exact (n, dup, weight) against a plain
    Python twin on a corpus dense enough to exercise shared, unique,
    and empty shingle sets."""
    import random

    from kafka_streams_app_spark.functions.text import shingle_list

    rng = random.Random(1519)
    vocab = [f"w{i}" for i in range(10)]
    docs = [
        (d, " ".join(rng.choice(vocab) for _ in range(rng.randint(0, 20))))
        for d in range(60)
    ]
    sh = {d: set(shingle_list(t, 3)) for d, t in docs}
    df_count: dict[str, int] = {}
    for s in sh.values():
        for g in s:
            df_count[g] = df_count.get(g, 0) + 1
    expect = {}
    for d, s in sh.items():
        n = len(s)
        dup = sum(1 for g in s if df_count[g] >= 2)
        w = 1_000_000 if n == 0 else (1_000_000 * n) // (n + 4 * dup)
        expect[d] = (n, dup, w)

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_shingles, r.dup_shingles, r.weight_ppm)
        for r in softdedup_weights(df, "text", "doc_id", k=3, alpha=4).collect()
    }
    assert got == expect
