"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

Each query is materialized through the `noop` data source so the full
plan executes (a bare .count() would let Catalyst prune computed
columns). Timings include plan + execution, excluding session startup.

Two groups:
- HEADLINE (23 queries, frozen since r5): the spine operators
  (scan->agg, windows, joins) plus the heaviest north-star ops —
  `value`/`queries` keep their historical meaning so BENCH_rN.json
  stays comparable across every round.
- CURATION (r12+): the paper-backed LLM-curation operators whose perf
  previously lived only in builder-run smokes; reported as separate
  `curation_total`/`curation_queries` keys in the SAME JSON line so
  the driver records both without perturbing the headline series.
- SKETCHES (r12b+): the mergeable-sketch family (HLL/CMS), SoftDeDup
  sampling, and the SCD2 point-in-time join; `sketch_total`/
  `sketch_queries` keys, same pattern.

`python bench.py --group headline|curation|sketches` runs one group
only (the single-group run reports that group's total as `value`).

`python bench.py --x10` (r16 verdict ask #6) ADDITIONALLY times the
HEADLINE set against 10 disjoint-content replicas of $SPARK_GRAFT_SF_DIR
(`tools/scale_smoke.py:replica`, which builds them on first use into
.scratch/scale_smoke/<sf>_x10) and emits `scale10_queries` (seconds at
x10) and `scale10_ratios` (x10 / sf wall per query) keys. Core-count
ratios at sf0.1 cannot show compute scaling — every query there is
fixed-overhead-bound — so this is the data-scaling signal; the two ANN
entries are EXCLUDED (their contract query sets grow with the corpus, so
an x10 run would measure the quadratic query-set construction, not the
engine). Off by default: the sf0.1 replica is a 133 MB scratch artifact
that takes 16-22 s to build at 4 cores, and the x10 sweep roughly
doubles the headline run.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry_mod
from kafka_streams_app_spark.engine import get_spark
from tools.scale_smoke import replica

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Headline set: the spine operators (scan->agg, windows, joins) plus the
# heaviest north-star ops (minhash dedup, ANN) — the queries whose cost
# profile matters at 100 TB. FROZEN: do not add entries (new operators
# get smoke coverage or the curation group; the series must stay
# comparable round over round).
HEADLINE = [
    "t1_wordcount",
    "a2_windowed_count",
    "a3_windowed_sum",
    "a4_session_count",
    "w3_hopping_count",
    "j1_interval_join_inner",
    "j4_asof_enrich",
    "j5_table_join_inner",
    "j8_fk_join_inner_agg",
    "q5_window_fetch_all",
    "dedup_exact",
    "dedup_minhash_lsh",
    "sim_cosine_topk",
    "sim_lsh_ann_topk",
    "text_quality",
    "text_pii_scrub",
    "pack_sequences",
    "tpch_q1_pricing",
    "tpch_q3_top_revenue",
    "tpch_q5_local_revenue",
    "tpch_q6_forecast_revenue",
    "tpch_q13_custdist",
    "tpch_q18_large_orders",
]

# Curation set (r11 verdict ask #3): the paper-backed pipeline ops.
CURATION = [
    "sim_semdedup",
    "cluster_kmeans",
    "dsir_select",
    "corpus_scrub_dup_spans",
    "dedup_minhash_lsh_cross",
    "sim_hard_negatives_ann",
]

# Sketch set (r12b): the mergeable-sketch family + SoftDeDup — reported
# as sketch_total/sketch_queries in the same JSON line, same pattern as
# the curation group.
SKETCHES = [
    "events_hll_distinct",
    "events_hll_windowed",
    "events_cms_topk",
    "events_hist_quantiles",
    "events_hll_setops",
    "corpus_softdedup_sample",
    "ktable_history_asof",
]

# Heavy-scan set (r15 optimization round): the scan-stage/Python-
# boundary operators the r15 round rewrote — winnowing (the CSE-guard
# fix), the JPEG codecs (the synth-parallelism fix), and the RK
# decontam scan. ADDED as a new group per the driver contract (existing
# groups and keys unchanged). r16: BASELINE_SEC rows frozen from the
# first settled official reading (BENCH_r15.json, settled: true), so
# the 2x rule now pins the r15 rewrites' 10-25x wins.
HEAVYSCAN = [
    "dedup_winnowing",
    "text_winnowing",
    "multimodal_jpeg_decode",
    "multimodal_jpeg_color_decode",
    "decontam_exact_ac",
]


# Frozen per-query baselines (r12 idle-host readings, BENCH_r12.json /
# BASELINE.md) for the 2x regression rule (r12 verdict ask #7): a query
# reading more than 2x its baseline — with a 0.8 s absolute floor so
# host-contention noise on sub-second queries can't flap the gate — is
# reported loudly on stderr and in the JSON's `regressions` key.
# SPARK_GRAFT_BENCH_STRICT=1 additionally makes the process exit 2.
# r16 RE-ANCHOR (r15 verdict ask #5): one idle-host settled reading at
# the r16-optimized shapes (loadavg_start 0.18, settled, settle
# attempts 0 — artifacts/opt_r16/bench_r16_final.json.raw) replaces
# the r12 rows, which had drifted 10-31% from reality on 13 queries.
# The r12 values remain in BASELINE.md's history tables.
# Readings only compare at the same core count, so the frozen sets are
# keyed by the configured SPARK_GRAFT_CPUS; a run at a count with no
# frozen set reports `regressions: null` and compares nothing.
BASELINE_SEC_32 = {
    # headline (r16 re-anchor, was r12)
    "t1_wordcount": 0.304, "a2_windowed_count": 0.419,
    "a3_windowed_sum": 0.524, "a4_session_count": 0.535,
    "w3_hopping_count": 0.497, "j1_interval_join_inner": 0.391,
    "j4_asof_enrich": 0.52, "j5_table_join_inner": 0.539,
    "j8_fk_join_inner_agg": 0.422, "q5_window_fetch_all": 0.301,
    "dedup_exact": 0.205, "dedup_minhash_lsh": 1.917,
    "sim_cosine_topk": 0.658, "sim_lsh_ann_topk": 0.908,
    "text_quality": 0.384, "text_pii_scrub": 1.001,
    "pack_sequences": 0.306, "tpch_q1_pricing": 0.512,
    "tpch_q3_top_revenue": 0.8, "tpch_q5_local_revenue": 0.893,
    "tpch_q6_forecast_revenue": 0.303, "tpch_q13_custdist": 0.488,
    "tpch_q18_large_orders": 0.903,
    # curation (r16 re-anchor, was r12)
    "sim_semdedup": 1.665, "cluster_kmeans": 1.136, "dsir_select": 1.534,
    "corpus_scrub_dup_spans": 1.682, "dedup_minhash_lsh_cross": 1.76,
    "sim_hard_negatives_ann": 1.055,
    # sketches (r16 re-anchor, was r12)
    "events_hll_distinct": 0.406, "events_hll_windowed": 0.462,
    "events_cms_topk": 0.467, "events_hist_quantiles": 0.311,
    "events_hll_setops": 0.415, "corpus_softdedup_sample": 1.096,
    "ktable_history_asof": 0.387,
    # heavyscan (r16 re-anchor; first frozen at the BENCH_r15 settled
    # reading per r15 verdict ask #4, refreshed by the same idle run)
    "dedup_winnowing": 2.074, "text_winnowing": 0.76,
    "multimodal_jpeg_decode": 0.694, "multimodal_jpeg_color_decode": 1.021,
    "decontam_exact_ac": 0.5,
}

# 4 vCPUs: one settled `SPARK_GRAFT_CPUS=4 python bench.py` run
# (BASELINE.md "4-core frozen set").
BASELINE_SEC_4 = {
    # headline
    "t1_wordcount": 0.417, "a2_windowed_count": 0.715,
    "a3_windowed_sum": 0.865, "a4_session_count": 0.889,
    "w3_hopping_count": 0.831, "j1_interval_join_inner": 0.672,
    "j4_asof_enrich": 0.78, "j5_table_join_inner": 0.829,
    "j8_fk_join_inner_agg": 0.698, "q5_window_fetch_all": 0.571,
    "dedup_exact": 0.408, "dedup_minhash_lsh": 3.062,
    "sim_cosine_topk": 0.908, "sim_lsh_ann_topk": 1.399,
    "text_quality": 0.728, "text_pii_scrub": 1.916, "pack_sequences": 0.58,
    "tpch_q1_pricing": 1.157, "tpch_q3_top_revenue": 1.623,
    "tpch_q5_local_revenue": 1.566, "tpch_q6_forecast_revenue": 0.497,
    "tpch_q13_custdist": 0.726, "tpch_q18_large_orders": 1.593,
    # curation
    "sim_semdedup": 1.375, "cluster_kmeans": 1.691, "dsir_select": 1.632,
    "corpus_scrub_dup_spans": 1.943, "dedup_minhash_lsh_cross": 2.346,
    "sim_hard_negatives_ann": 1.214,
    # sketches
    "events_hll_distinct": 0.53, "events_hll_windowed": 0.642,
    "events_cms_topk": 0.612, "events_hist_quantiles": 0.399,
    "events_hll_setops": 0.538, "corpus_softdedup_sample": 0.98,
    "ktable_history_asof": 0.479,
    # heavyscan
    "dedup_winnowing": 2.644, "text_winnowing": 1.206,
    "multimodal_jpeg_decode": 2.608, "multimodal_jpeg_color_decode": 6.523,
    "decontam_exact_ac": 0.655,
}

BASELINE_SEC = {32: BASELINE_SEC_32, 4: BASELINE_SEC_4}


# Settle guard (r14 verdict ask #2): the last TWO official driver
# readings were taken minutes after the gate storm (loadavg_start 3.97
# on r14) and carried uniform ~2x contention flags the builder then had
# to adjudicate with A/B twins. Refuse to measure on a visibly busy
# host: if 1-min loadavg exceeds the threshold, sleep-and-retry
# (bounded) and record the attempts + final loadavg in the JSON so a
# never-settled host is self-evident in the official artifact.
SETTLE_THRESHOLD = float(os.environ.get("SPARK_GRAFT_BENCH_SETTLE", "1.5"))
SETTLE_MAX_WAIT_S = float(
    os.environ.get("SPARK_GRAFT_BENCH_SETTLE_MAX_S", "600")
)
_SETTLE_STEP_S = 30.0


def wait_for_settle() -> dict:
    """Sleep in 30 s steps until 1-min loadavg <= SETTLE_THRESHOLD or
    the bounded budget runs out; returns the evidence dict."""
    attempts = 0
    waited = 0.0
    load = os.getloadavg()[0]
    while load > SETTLE_THRESHOLD and waited < SETTLE_MAX_WAIT_S:
        attempts += 1
        print(
            f"bench: host busy (1-min loadavg {load:.2f} > "
            f"{SETTLE_THRESHOLD}); settle attempt {attempts}, "
            f"{SETTLE_MAX_WAIT_S - waited:.0f}s budget left",
            file=sys.stderr,
        )
        time.sleep(_SETTLE_STEP_S)
        waited += _SETTLE_STEP_S
        load = os.getloadavg()[0]
    return {
        "settle_attempts": attempts,
        "settle_waited_s": round(waited, 1),
        "settle_threshold": SETTLE_THRESHOLD,
        "settled": load <= SETTLE_THRESHOLD,
    }


def check_regressions(per_query: dict[str, float], ncpus: int) -> list[str] | None:
    """Queries over 2x their frozen baseline at `ncpus` cores, or None
    when no set is frozen at that count (nothing is compared)."""
    baseline = BASELINE_SEC.get(ncpus)
    if baseline is None:
        print(f"bench: no frozen baseline at {ncpus} cores; "
              "regression check skipped", file=sys.stderr)
        return None
    bad = []
    for name, sec in per_query.items():
        base = baseline.get(name)
        if base is not None and sec > max(2.0 * base, 0.8):
            bad.append(name)
            print(
                f"BENCH REGRESSION: {name} {sec:.3f}s > 2x baseline "
                f"{base:.3f}s",
                file=sys.stderr,
            )
    return bad


def _bench_group(spark, queries, names: list[str]) -> dict[str, float]:
    # Warm-up (not timed): run every query once at the smallest SF.
    # This pays the one-time JVM JIT + Python-worker-pool startup
    # outside the measurement, so timings reflect steady-state per-query
    # cost (no result caching — different data directory).
    warm_dir = "/root/testdata/sf0.001"
    for name in names:
        queries[name](spark, warm_dir).write.format("noop").mode("overwrite").save()

    # best-of-3, INTERLEAVED: single runs on this box show intermittent
    # multi-second GC/contention spikes on otherwise sub-second queries
    # (r2 recorded j5/j8/dedup_exact at 2-5x their steady-state cost even
    # at best-of-2). Interleaving the passes (q1..qn, q1..qn, q1..qn)
    # decorrelates a host-contention burst from any one query's samples;
    # the per-query minimum reflects the plan's actual cost.
    per_query: dict[str, float] = {}
    for _ in range(3):
        for name in names:
            t0 = time.time()
            queries[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            el = time.time() - t0
            if name not in per_query or el < per_query[name]:
                per_query[name] = el
    return {n: round(v, 3) for n, v in per_query.items()}


def main() -> None:
    global SF_DIR
    group = "all"
    if "--group" in sys.argv:
        group = sys.argv[sys.argv.index("--group") + 1]
    settle = wait_for_settle()
    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]

    # Host-contention attribution (r13 verdict ask #2): r13's driver
    # reading was +19% UNIFORM over an idle-host twin of the same code.
    # Record the 1/5/15-min load averages at start AND end so a hot
    # reading carries its own evidence (loadavg >> ncpus => contention,
    # not regression).
    loadavg_start = list(os.getloadavg())
    out: dict = {"unit": "sec", "sf": float(sf)}
    if group in ("all", "headline"):
        hq = _bench_group(spark, queries, HEADLINE)
        out.update(
            metric="headline_total",
            value=round(sum(hq.values()), 3),
            queries=hq,
        )
    if group in ("all", "curation"):
        cq = _bench_group(spark, queries, CURATION)
        out["curation_total"] = round(sum(cq.values()), 3)
        out["curation_queries"] = cq
        if group == "curation":
            out.update(metric="curation_total", value=out["curation_total"])
    if group in ("all", "sketches"):
        sq = _bench_group(spark, queries, SKETCHES)
        out["sketch_total"] = round(sum(sq.values()), 3)
        out["sketch_queries"] = sq
        if group == "sketches":
            out.update(metric="sketch_total", value=out["sketch_total"])
    if group in ("all", "heavyscan"):
        xq = _bench_group(spark, queries, HEAVYSCAN)
        out["heavyscan_total"] = round(sum(xq.values()), 3)
        out["heavyscan_queries"] = xq
        if group == "heavyscan":
            out.update(metric="heavyscan_total", value=out["heavyscan_total"])
    if "--x10" in sys.argv:
        x10_dir = replica(spark, SF_DIR, 10)
        base_q = out.get("queries", {})
        # the ANN entries' query sets grow with the corpus — excluded
        # (see module docstring); everything else times the identical
        # plan at 10x the fact data.
        names = [n for n in HEADLINE
                 if n not in ("sim_cosine_topk", "sim_lsh_ann_topk")]
        saved = SF_DIR
        SF_DIR = x10_dir
        try:
            xq10 = _bench_group(spark, queries, names)
        finally:
            SF_DIR = saved
        out["scale10_queries"] = xq10
        out["scale10_ratios"] = {
            n: round(xq10[n] / base_q[n], 2)
            for n in names if base_q.get(n)
        }
    out["loadavg_start"] = [round(x, 2) for x in loadavg_start]
    out["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]
    # Report the CONFIGURED parallelism, not os.cpu_count(): the r15
    # driver's scaling heuristic (suspect_cpus_ignored) misfired because
    # this line echoed the host's 32 cores even when SPARK_GRAFT_CPUS=8
    # had correctly sized the master/shuffle partitions (engine.py).
    # Read from the session, so an unset SPARK_GRAFT_CPUS reports the
    # engine's default (local[32]) rather than the host's core count.
    out["ncpus"] = spark.sparkContext.defaultParallelism
    out["master"] = spark.sparkContext.master
    out["host_cpus"] = os.cpu_count()
    # null (not []) when no set is frozen at this core count
    regressions = check_regressions(
        {**out.get("queries", {}), **out.get("curation_queries", {}),
         **out.get("sketch_queries", {}), **out.get("heavyscan_queries", {})},
        out["ncpus"],
    )
    out["regressions"] = regressions
    out.update(settle)
    print(json.dumps(out))
    if regressions and os.environ.get("SPARK_GRAFT_BENCH_STRICT") == "1":
        sys.exit(2)


if __name__ == "__main__":
    main()
