"""Scale smoke: measure how the heavy operators scale when the corpus
grows 10x (sf0.1 -> ~sf1, the largest dataset this box holds comfortably).

Usage: python tools/scale_smoke.py [multiplier]
       python tools/scale_smoke.py longdoc   # chunk_documents doc-length pin
       python tools/scale_smoke.py decontam  # NLJ-vs-Aho-Corasick crossover
       python tools/scale_smoke.py dedup100  # 100x dedup headliner smoke
       python tools/scale_smoke.py recall100 # planted-twin LSH recall @ x100

Builds a ~sf1 dataset in .scratch/ by unioning sf0.1 `multiplier` times
with content made DISJOINT across replicas:
- documents: ids shifted AND every token prefixed with a replica tag
  (via tokens->transform->rejoin), so replicas share no shingles —
  otherwise each doc would gain (multiplier-1) near-duplicates and the
  dedup pair count would grow quadratically instead of linearly, which
  would measure the data construction, not the engine.
- events / lineitem / embeddings: key columns shifted per replica;
  value distributions untouched (aggregation group counts stay fixed,
  rows per group grow linearly — the pure scan/shuffle scaling shape).

Prints one JSON line per query: seconds at sf0.1, seconds at the
multiplied scale, and the time ratio. A scan-bound operator should show
ratio ~= multiplier x (single-pass), sublinear where fixed overheads
(session, Python UDF spin-up, stage scheduling) dominate at sf0.1;
a super-multiplier ratio flags a quadratic term — the regression this
tool exists to catch.
"""

from __future__ import annotations

import json
import tempfile
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

import __spark_entry__ as entry_mod
from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.sources.catalog import load_table

from pyspark.sql import functions as F

BASE = "/root/testdata/sf0.1"
SCRATCH = ROOT / ".scratch" / "scale_smoke"

QUERIES = [
    "t1_wordcount",          # explode + agg over documents
    "text_pii_scrub",        # pure regex scan
    "pack_sequences",        # per-stratum window prefix sum
    "a2_windowed_count",     # window bucketing + agg over events
    "tpch_q1_pricing",       # decimal scan-agg over lineitem
    "dedup_minhash_lsh",     # the heaviest: shingle+sig+band join+verify
    "dedup_containment",     # inverted-index self-join, directed ratios
    "corpus_line_dedup",     # chunk-line explode + hash agg (r6 op)
    "text_gopher_repetition",  # scan-stage list exprs, zero shuffle
    "embedding_dim_stats",   # posexplode + per-dim agg over embeddings
    "corpus_chunk",          # split+sequence+explode, scan stage (r7 op)
    # r11 analytics: the build shifts user_id per replica (rolling keys
    # x mult, rows/key constant -> linear) but keeps event_type fixed
    # (zscore/quantiles groups stay 5, rows/group x mult -> the
    # hot-key-partition-sort shape group_quantiles_disc documents)
    "events_rolling_avg",
    "events_zscore",
    "events_quantiles",
    # r10 ops: ID_SHIFT % 10 == 0 keeps the contract query's doc_id%10
    # ref/new bands intact per replica, and replicas are content-
    # disjoint, so cross-corpus dup volume grows linearly with mult
    "dedup_cross_corpus",
    "mix_sources",
    # r11-continuation ops: replicas are content-disjoint, so duplicated
    # 8-token runs exist only WITHIN a replica -> scrub volume linear;
    # dsir's bucket models are n_buckets-bounded regardless of corpus
    # size -> pure token-stream scaling
    "corpus_scrub_dup_spans",
    "dsir_select",
    # r11c aggregates: events replication multiplies user_id cardinality
    # (distinct/top-n/funnel/cohort keys x mult, per-key density fixed)
    "a5_windowed_distinct",
    "a6_windowed_topn",
    "a7_session_assembly",
    "a8_funnel",
    "a9_cohort_retention",
    "sample_fixed_k",
]

ID_SHIFT = 1_000_000_000


def build(spark, mult: int) -> str:
    out = SCRATCH / f"x{mult}"
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)

    docs = load_table(spark, BASE, "documents")
    reps = []
    for i in range(mult):
        tag = F.lit(f"r{i}")
        toks = F.filter(F.split(F.col("text"), r"\W+"), lambda t: t != "")
        reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * ID_SHIFT)).alias("doc_id"),
                F.array_join(
                    F.transform(toks, lambda t: F.concat(tag, t)), " "
                ).alias("text"),
                "lang", "source", "n_chars",
            )
        )
    _union_all(reps).write.parquet(str(out / "documents.parquet"))

    ev = spark.read.parquet(f"{BASE}/events.parquet")  # keep raw nanos ts
    _union_all([
        ev.select(
            (F.col("event_id") + F.lit(i * ID_SHIFT)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
            "event_type", "value", "props",
        )
        for i in range(mult)
    ]).write.parquet(str(out / "events.parquet"))

    li = load_table(spark, BASE, "lineitem")
    _union_all([
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * ID_SHIFT))
        for i in range(mult)
    ]).write.parquet(str(out / "lineitem.parquet"))

    em = load_table(spark, BASE, "embeddings")
    _union_all([
        em.withColumn("vec_id", F.col("vec_id") + F.lit(i * 1_000_000))
        for i in range(mult)
    ]).write.parquet(str(out / "embeddings.parquet"))

    # small dims: symlink-equivalent copy so load_table finds them
    for t in ("region", "nation", "customer", "supplier", "part", "orders"):
        shutil.copy(f"{BASE}/{t}.parquet", out / f"{t}.parquet")
    return str(out)


def _semdedup_runner(mod_at_big: int):
    """semdedup under a chosen codebook dial at the big scale.

    The codebook size m is SemDeDup's scale trade (mirror of LSH's
    n_planes): assignment costs n*m matmul work, within-cluster
    verification costs ~n^2/m pair work. mod 17 at 10x grows m with n
    (constant occupancy: verification linear, assignment quadratic);
    mod 170 at 10x holds m (assignment linear, verification pair count
    x100 within each replica-disjoint slice... except cross-replica
    cosines are ~0 here, so only the threshold filter output stays
    flat while pair VOLUME grows). Both dials measured; the deploy
    rule goes to SCALE.md."""
    from kafka_streams_app_spark.operators.similarity import semdedup

    def run(spark, d):
        mod = 17 if d == BASE else mod_at_big
        emb = load_table(spark, d, "embeddings")
        return semdedup(
            emb, "vec_id", "embedding", threshold=0.3, centroid_mod=(mod, 3)
        )

    return run


def _kmeans_runner(spark, d):
    """kmeans_lloyd at the contract dial (mod 17): codebook grows with
    n, so each of the 3 assignment passes is the n*m matmul shape —
    the quantity this smoke watches."""
    from kafka_streams_app_spark.operators.similarity import kmeans_lloyd

    emb = load_table(spark, d, "embeddings")
    return kmeans_lloyd(emb, "vec_id", "embedding", centroid_mod=(17, 3), iters=2)


def _union_all(dfs):
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out


def timed(fn, *args) -> float:
    t0 = time.monotonic()
    fn(*args).write.format("noop").mode("overwrite").save()
    return round(time.monotonic() - t0, 3)


def _ann_fixed_queries(spark, sf_dir):
    """lsh_ann_topk with the query set PINNED to the base replica
    (vec_id < ID_SHIFT): the contract entry's `vec_id % 100 == 0` set
    grows with the corpus, which would measure queries x corpus
    (quadratic by construction) instead of corpus scaling."""
    from kafka_streams_app_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)
    )
    return similarity.lsh_ann_topk(
        emb, queries_df, "vec_id", "embedding", dim=64, k=10, plane_fn="md5"
    )


def _cosine_fixed_queries(spark, sf_dir):
    """sim_cosine_topk with the query set PINNED to the base replica —
    same rationale as _ann_fixed_queries: brute-force cosine is
    O(queries x corpus) by contract, so the contract query set (which
    grows with the corpus) would measure quadratic data construction,
    not engine scaling."""
    from kafka_streams_app_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.filter(
        (F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 1_000_000)
    )
    return similarity.cosine_topk(
        emb, queries_df, "vec_id", "embedding", k=10
    )


def headline10_main() -> None:
    """r13 verdict ask #5: the FROZEN 23-query bench headline set once
    at ~sf1 (the x10 disjoint-replica build, ~6M lineitem / ~1M
    events), recording per-query sf0.1 -> x10 wall ratios and flagging
    anything scaling worse than ~12x (superlinear = a lurking
    sort/skew/fan-out). The two ANN entries swap in base-replica-pinned
    query sets (their contract query sets grow WITH the corpus — the
    O(q x n) scan would measure data construction, quadratic by
    design, not the engine). Dims (orders/customer/...) stay at sf0.1
    in the x10 build, so dim-join-bound queries legitimately scale
    sublinearly. One JSON line per query + a SUPERLINEAR flag list."""
    spark = get_spark(app_name="scale-smoke-headline")
    spark.sparkContext.setLogLevel("ERROR")
    mult = 10
    out = SCRATCH / f"x{mult}"
    big_dir = (
        str(out) if (out / "embeddings.parquet").exists()
        else build(spark, mult)
    )
    import bench as bench_mod

    queries = entry_mod.queries()
    swapped = {
        "sim_cosine_topk": ("sim_cosine_topk[fixed base-replica queries]",
                            _cosine_fixed_queries),
        "sim_lsh_ann_topk": ("sim_lsh_ann_topk[fixed base-replica queries]",
                             _ann_fixed_queries),
    }
    flagged = []
    for name in bench_mod.HEADLINE:
        label, fn = swapped.get(name, (name, queries[name]))
        # warm BOTH sides (r14 ADVICE: a cold big_s run pays
        # first-touch IO/codegen that base_s doesn't, biasing ratios
        # upward toward the superlinear flag)
        fn(spark, BASE).write.format("noop").mode("overwrite").save()
        fn(spark, big_dir).write.format("noop").mode("overwrite").save()
        base_s = timed(fn, spark, BASE)
        big_s = timed(fn, spark, big_dir)
        ratio = round(big_s / base_s, 2) if base_s else None
        if ratio is not None and ratio > 12:
            flagged.append(label)
        print(json.dumps({
            "query": label, "mult": mult, "sec_sf01": base_s,
            "sec_big": big_s, "ratio": ratio,
            "superlinear": bool(ratio and ratio > 12),
        }), flush=True)
    print(json.dumps({"flagged_superlinear": flagged}), flush=True)


def minhashpairs_main() -> None:
    """r14 verdict ask #5: dedup_minhash_lsh was the worst sf1 scaler
    (2.28x wall per 10x), so MEASURE the band-join's actual cost
    driver — candidate-pair count sum_buckets C(df, 2) — across three
    growth regimes:

    - base: sf0.1 documents as-is
    - x10_tagged: the standard disjoint-replica build (tokens tagged
      per replica, so band buckets are replica-disjoint) — content-
      disjoint growth; pairs should scale ~LINEARLY (buckets x10, df
      flat)
    - x10_dupheavy: 10 replicas where doc_id % 10 == 0 keeps its text
      VERBATIM (a 10%-boilerplate corpus: those docs' buckets fan out
      to ~10x df) — duplication-heavy growth, the regime where
      C(df, 2) goes QUADRATIC; measured uncapped and under
      max_band_df=16 (the default-off hot-band cap dial: above the
      base corpus's organic max df 14, below the duplication fan-out)

    One JSON line per (corpus, cap) with docs, occupied buckets,
    max/mean df, and the pair sum. SCALE.md 'MinHash band fan-out'
    carries the numbers + the 100x derivation."""
    from kafka_streams_app_spark.operators.dedup import _sig_table

    spark = get_spark(app_name="scale-smoke-minhashpairs")
    spark.sparkContext.setLogLevel("ERROR")
    def band_stats(label: str, docs, cap: int | None = None) -> None:
        n_docs = docs.count()
        dfs = (
            _sig_table(docs, "text", "doc_id", 3)
            .select(F.explode("_bh").alias("bh"))
            .groupBy("bh")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        if cap is not None:
            dfs = dfs.filter(F.col("df") <= cap)
        row = dfs.agg(
            F.count(F.lit(1)).alias("buckets"),
            F.max("df").alias("max_df"),
            F.avg("df").alias("mean_df"),
            F.sum(
                (F.col("df").cast("long") * (F.col("df") - 1) / 2)
            ).cast("long").alias("cand_pairs"),
        ).collect()[0]
        print(json.dumps({
            "corpus": label, "cap": cap, "docs": n_docs,
            "buckets": row["buckets"], "max_df": row["max_df"],
            "mean_df": round(row["mean_df"], 3),
            "cand_pairs": row["cand_pairs"],
        }), flush=True)

    base = load_table(spark, BASE, "documents")
    band_stats("base_sf0.1", base)

    out = SCRATCH / "x10"
    big_dir = (
        str(out) if (out / "documents.parquet").exists()
        else build(spark, 10)
    )
    band_stats("x10_tagged", load_table(spark, big_dir, "documents"))

    # duplication-heavy x10: replica i tags tokens EXCEPT for
    # doc_id % 10 == 0, whose text stays verbatim across all replicas
    toks = F.filter(F.split(F.col("text"), r"\W+"), lambda t: t != "")
    reps = []
    for i in range(10):
        tag = F.lit(f"r{i}")
        reps.append(base.select(
            (F.col("doc_id") + F.lit(i * ID_SHIFT)).alias("doc_id"),
            F.when(F.col("doc_id") % 10 == 0, F.col("text")).otherwise(
                F.array_join(
                    F.transform(toks, lambda t: F.concat(tag, t)), " "
                )
            ).alias("text"),
        ))
    dup = _union_all(reps).persist()
    band_stats("x10_dupheavy", dup)
    # cap ABOVE the x10 duplication fan-out (df ~10): barely bites —
    # shows the dial must sit BELOW the boilerplate df to matter
    band_stats("x10_dupheavy", dup, cap=16)
    # cap BELOW the fan-out: kills the quadratic term (trading recall
    # in the df 9-14 organic tail it also prunes — corpus-dependent)
    band_stats("x10_dupheavy", dup, cap=8)
    dup.unpersist()


def ivfpqsearch_main() -> None:
    """r15: scale profile of the at-ingest ANN searcher
    (similarity.ivfpq_search) vs its batch twin (ivfpq_topk) at sf0.1
    and the x10 corpus. Reports, per scale:

    - freeze_s: one-time index freeze (distributed corpus encode +
      compressed-code collect + posting-list build) — paid once per
      query PLAN, amortized over the stream's lifetime
    - stream_s / stream_qps: the steady-state per-batch cost — a
      SECOND AvailableNow run against the already-frozen plan (one
      stateless Arrow pass per batch: coarse probe + LUT scan of the
      resident lists)
    - batch_s: ivfpq_topk end-to-end on the same query set (index
      re-built inside, the distributed equi-join path)

    Expectation at 10x corpus: freeze grows ~linearly (encode+collect
    O(n)); per-query search grows ~linearly in probed-list length
    (lists are 10x longer at fixed codebook mods the coarse codebook
    also grows ~x10 under mod 17, so list OCCUPANCY stays ~flat and
    qps should hold near-constant — the IVF design point)."""
    from kafka_streams_app_spark.operators import similarity
    from kafka_streams_app_spark.sources.catalog import load_stream, load_table

    spark = get_spark(app_name="scale-smoke-ivfpqsearch")
    spark.sparkContext.setLogLevel("ERROR")
    out = SCRATCH / "x10"
    big_dir = (
        str(out) if (out / "embeddings.parquet").exists()
        else build(spark, 10)
    )
    for label, d in (("base_sf0.1", BASE), ("x10", big_dir)):
        corpus = load_table(spark, d, "embeddings")
        n = corpus.count()
        t0 = time.time()
        plan = similarity.ivfpq_search(
            load_stream(spark, d, "embeddings").filter(
                F.col("vec_id") % 100 == 0
            ),
            corpus, "vec_id", "embedding", dim=64, k=5,
        )
        freeze_s = round(time.time() - t0, 3)

        def run_stream():
            t = time.time()
            q = (
                plan.writeStream.format("noop")
                .option(
                    "checkpointLocation",
                    tempfile.mkdtemp(prefix="ivfpqsearch_ckpt_"),
                )
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return round(time.time() - t, 3)

        stream_s = min(run_stream(), run_stream())  # warm best-of-2
        nq = n // 100 + (1 if n % 100 else 0)
        queries_df = corpus.filter(F.col("vec_id") % 100 == 0)
        t0 = time.time()
        similarity.ivfpq_topk(
            corpus, queries_df, "vec_id", "embedding", dim=64, k=5,
        ).write.format("noop").mode("overwrite").save()
        batch_s = round(time.time() - t0, 3)
        print(json.dumps({
            "corpus": label, "vectors": n, "queries": nq,
            "freeze_s": freeze_s, "stream_s": stream_s,
            "stream_qps": round(nq / stream_s, 1),
            "batch_topk_s": batch_s,
        }), flush=True)


def embdedup_main() -> None:
    """r15: scale profile of embedding near-dup AT INGEST
    (dedup.embedding_dedup_candidates_stream). The op's cost driver is
    candidate count = bucket occupancy x arrivals, and n_planes is the
    occupancy dial (2^p buckets per table): at FIXED p the x10 corpus
    multiplies occupancy x10 and candidates x100 (the quadratic
    regime dedup_embedding_cosine's auto mode exists to avoid); at
    p + log2(10) ~ p+3 occupancy is back to base and cost is ~linear.
    Measured: base (p=6) vs x10 at p=6 (quadratic) vs x10 at p=10
    (occupancy-held). One AvailableNow pass each, warm best-of-2,
    plus the emitted pair count as the work proxy."""
    from kafka_streams_app_spark.operators import dedup as DD
    from kafka_streams_app_spark.sources.catalog import load_stream, load_table

    spark = get_spark(app_name="scale-smoke-embdedup")
    spark.sparkContext.setLogLevel("ERROR")
    out = SCRATCH / "x10"
    big_dir = (
        str(out) if (out / "embeddings.parquet").exists()
        else build(spark, 10)
    )
    for label, d, planes in (
        ("base_sf0.1_p6", BASE, 6),
        ("x10_p6_fixed", big_dir, 6),
        ("x10_p10_held", big_dir, 10),
    ):
        corpus = load_table(spark, d, "embeddings")
        n = corpus.count()
        plan = DD.embedding_dedup_candidates_stream(
            load_stream(spark, d, "embeddings"), corpus,
            "vec_id", "embedding", dim=64, threshold=0.4,
            n_planes=planes,
        )

        def run_stream():
            t = time.time()
            q = (
                plan.writeStream.format("noop")
                .option(
                    "checkpointLocation",
                    tempfile.mkdtemp(prefix="embdedup_ckpt_"),
                )
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
            return round(time.time() - t, 3)

        stream_s = min(run_stream(), run_stream())
        pairs = DD.embedding_dedup_candidates_stream(
            corpus, corpus, "vec_id", "embedding", dim=64,
            threshold=0.4, n_planes=planes,
        ).count()
        print(json.dumps({
            "corpus": label, "vectors": n, "n_planes": planes,
            "stream_s": stream_s, "vecs_per_s": round(n / stream_s, 1),
            "verified_pairs": pairs,
        }), flush=True)


def _chunk_explode_first(df, max_tokens=64, overlap=8):
    """The REJECTED pre-r9 chunk_documents plan, kept here as the
    measured baseline: explode chunk ids first, slice the full token
    array after — each chunk row carries `_toks`, so per-doc row
    materialization is O(n_tokens^2/stride). The shipped form builds
    chunk structs before the explode (operators/pipeline.py
    chunk_documents docstring has the full story)."""
    stride = max_tokens - overlap
    toks = F.filter(
        F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"),
        lambda t: t != "",
    )
    n_chunks = F.greatest(
        F.lit(1), F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(stride))
    ).cast("int")
    base = df.select(F.col("doc_id"), toks.alias("_toks"), n_chunks.alias("_nc"))
    chunk = base.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.col("_nc") - 1)).alias("chunk_id"),
        "_toks",
    )
    window = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, max_tokens)
    return chunk.select(
        "doc_id",
        F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(window).cast("long").alias("n_chunk_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )


def longdoc_main() -> None:
    """Doc-LENGTH scaling pin for chunk_documents (r7 verdict #5):
    64 docs x 10k tokens vs 64 docs x 100k tokens — 10x the tokens
    should cost ~10x the wall (linear), not ~100x (the explode-first
    quadratic). Prints one JSON line per form."""
    from kafka_streams_app_spark.operators.pipeline import chunk_documents

    spark = get_spark(app_name="scale-smoke-longdoc")
    spark.sparkContext.setLogLevel("ERROR")
    dirs = {}
    for n_toks in (10_000, 100_000):
        out = SCRATCH / f"longdoc_{n_toks}"
        if not out.exists():
            spark.range(64).select(
                F.col("id").alias("doc_id"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(n_toks - 1)),
                        lambda i: F.concat(F.lit("w"), i.cast("string")),
                    ),
                    " ",
                ).alias("text"),
            ).repartition(32).write.parquet(str(out))
        dirs[n_toks] = str(out)
    for label, fn in (
        ("chunk_documents[shipped struct-first]", chunk_documents),
        ("chunk_documents[rejected explode-first]", _chunk_explode_first),
    ):
        runs = {}
        for n_toks, d in dirs.items():
            df = spark.read.parquet(d)
            timed(lambda df=df: fn(df), )  # warm (session/codegen)
            runs[n_toks] = timed(lambda df=df: fn(df))
        print(json.dumps({
            "query": label, "docs": 64,
            "sec_10k_tok": runs[10_000], "sec_100k_tok": runs[100_000],
            "ratio_for_10x_tokens": round(runs[100_000] / runs[10_000], 2)
            if runs[10_000] else None,
        }))


def scrubdegen_main() -> None:
    """Degenerate-doc pin for scrub_duplicated_spans (r11 verdict #7):
    100%-duplicated documents (every doc an exact twin of another), so
    EVERY position is a covered start. The former per-token
    `exists(starts, ...)` filter was O(n_tokens * n_starts) per doc —
    ~1e10 lambda evaluations at 100k tokens; the interval-merge form
    collapses the starts to ONE interval and rebuilds in O(n_tokens).
    10x the tokens must cost ~10x the wall. Prints one JSON line per
    length plus the ratio."""
    from kafka_streams_app_spark.operators.pipeline import (
        scrub_duplicated_spans,
    )

    spark = get_spark(app_name="scale-smoke-scrubdegen")
    spark.sparkContext.setLogLevel("ERROR")
    runs = {}
    for n_toks in (10_000, 100_000):
        out = SCRATCH / f"scrubdegen_{n_toks}"
        if not out.exists():
            # 16 base texts x 2 exact copies: every 8-shingle in every
            # doc is cross-doc duplicated (min_df=2) -> 100% coverage
            spark.range(32).select(
                F.col("id").alias("doc_id"),
                (F.col("id") % 16).alias("_base"),
                F.array_join(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(n_toks - 1)),
                        lambda i: F.concat(
                            F.lit("w"), (F.col("id") % 16).cast("string"),
                            F.lit("_"), i.cast("string"),
                        ),
                    ),
                    " ",
                ).alias("text"),
            ).drop("_base").repartition(32).write.parquet(str(out))
        df = spark.read.parquet(str(out))

        # correctness of the degenerate case, asserted outside timing:
        # 100% of every doc's tokens must be removed
        assert scrub_duplicated_spans(df, "text", "doc_id", k=8).filter(
            F.col("n_removed") != F.col("n_tokens")
        ).count() == 0

        def run(df=df):
            return scrub_duplicated_spans(df, "text", "doc_id", k=8)

        timed(run)  # warm
        wall = timed(run)
        runs[n_toks] = wall
        print(json.dumps({
            "op": "corpus_scrub_dup_spans[degenerate 100%-dup]",
            "docs": 32, "n_tokens": n_toks, "wall_s": wall,
        }))
    print(json.dumps({
        "op": "corpus_scrub_dup_spans[degenerate 100%-dup]",
        "ratio_for_10x_tokens": round(runs[100_000] / runs[10_000], 2)
        if runs[10_000] else None,
    }))


def decontam_main() -> None:
    """Span-count crossover for exact decontamination (r7 verdict #7):
    the broadcast-NLJ form is O(docs x spans) JVM work; the
    Aho-Corasick form is O(docs x doc_len) Python work independent of
    span count. Measures both at sf0.1 over growing span sets; the
    SCALE.md row records where AC overtakes NLJ."""
    from kafka_streams_app_spark.operators.pipeline import (
        decontaminate_exact,
        decontaminate_exact_ac,
    )

    spark = get_spark(app_name="scale-smoke-decontam")
    spark.sparkContext.setLogLevel("ERROR")
    docs = load_table(spark, BASE, "documents")
    n_docs = docs.count()
    for modulus in (50, 5, 1):
        spans = docs.filter(
            (F.col("doc_id") % modulus == 0) & (F.length("text") >= 60)
        ).select(
            F.col("doc_id").alias("span_id"),
            F.substring("text", 11, 40).alias("span"),
        )
        n_spans = spans.count()
        res = {}
        for label, fn in (("nlj", decontaminate_exact),
                          ("ac", decontaminate_exact_ac)):
            timed(lambda: fn(docs, spans))  # warm
            res[label] = timed(lambda: fn(docs, spans))
        print(json.dumps({
            "query": "decontam_exact[nlj vs ac]", "n_docs": n_docs,
            "n_spans": n_spans, "sec_nlj": res["nlj"], "sec_ac": res["ac"],
            "winner": "ac" if res["ac"] < res["nlj"] else "nlj",
        }))


def build_docs(spark, mult: int) -> str:
    """documents+embeddings-only replica build (same disjoint-content
    construction as build()) — the 100x dedup smoke doesn't need the
    events/lineitem fact tables and x100 of those would dominate the
    build cost."""
    out = SCRATCH / f"docs_x{mult}"
    if (out / "embeddings.parquet").exists():
        return str(out)
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    docs = load_table(spark, BASE, "documents")
    reps = []
    for i in range(mult):
        tag = F.lit(f"r{i}")
        toks = F.filter(F.split(F.col("text"), r"\W+"), lambda t: t != "")
        reps.append(
            docs.select(
                (F.col("doc_id") + F.lit(i * ID_SHIFT)).alias("doc_id"),
                F.array_join(
                    F.transform(toks, lambda t: F.concat(tag, t)), " "
                ).alias("text"),
                "lang", "source", "n_chars",
            )
        )
    _union_all(reps).write.parquet(str(out / "documents.parquet"))
    em = load_table(spark, BASE, "embeddings")
    # per-replica deterministic +-1 sign masks: within-replica geometry
    # is preserved (constant mask cancels in cosine), cross-replica
    # cosines of identical base vectors become ~0 — without this the
    # replicas are IDENTICAL vectors and true near-dup pairs grow
    # quadratically in the replica count, measuring the data
    # construction instead of the engine (the r9 first run's 90k->9.9M
    # out_pairs artifact).
    _union_all([
        em.select(
            (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, k: x * F.when(
                    F.pmod(F.xxhash64(F.lit(i), k), 2) == 0, F.lit(1.0)
                ).otherwise(F.lit(-1.0)).cast("float"),
            ).alias("embedding"),
            *[c for c in em.columns if c not in ("vec_id", "embedding")],
        )
        for i in range(mult)
    ]).write.parquet(str(out / "embeddings.parquet"))
    return str(out)


def _posting_list_candidates(ex, max_df: int | None):
    """Candidate-pair count implied by a posting-list (shingle ->
    doc-ids) self-join: sum over keys of C(df, 2), after the same
    max_df hot-key cap the operator applies. This is the quantity whose
    superlinear growth the 100x smoke exists to catch."""
    per_key = ex.groupBy("_s").agg(F.count(F.lit(1)).alias("_df"))
    if max_df is not None:
        per_key = per_key.filter(F.col("_df") <= max_df)
    return per_key.select(
        F.sum(F.col("_df") * (F.col("_df") - 1) / 2).cast("long").alias("c")
    ).collect()[0]["c"] or 0


def dedup100_main() -> None:
    """r7 verdict #3: scale the dedup/ANN headliners from 10x to 100x
    (5k -> 500k docs), recording wall AND candidate-pair counts per
    stage. 10x-linear is necessary but not sufficient for the 100 TB
    claim — candidate growth is the superlinear risk and only shows at
    larger N. The replica construction keeps content disjoint across
    replicas, so TRUE pair counts grow linearly; any superlinear
    candidate growth is engine/dial behavior (hot buckets), not data."""
    from kafka_streams_app_spark.functions.text import (
        shingles_udf,
        token_hashes,
        tokens,
        winnowing_of_hashes,
    )
    from kafka_streams_app_spark.functions.vectors import as_double
    from kafka_streams_app_spark.operators.dedup import (
        _sig_table,
        dedup_clusters,
        dedup_containment,
        dedup_embedding_cosine,
        dedup_minhash_lsh,
        dedup_winnowing,
    )
    from kafka_streams_app_spark.operators.similarity import _bucketed

    spark = get_spark(app_name="scale-smoke-dedup100")
    spark.sparkContext.setLogLevel("ERROR")
    scales = [(10, build_docs(spark, 10)), (100, build_docs(spark, 100))]

    def cands_minhash(docs):
        bands = (
            _sig_table(docs, "text", "doc_id", 3)
            .select("_id", F.explode("_bh").alias("_s"))
        )
        return _posting_list_candidates(bands, None)

    def cands_shingle(docs, max_df):
        ex = (
            docs.select(F.col("doc_id").alias("_id"),
                        shingles_udf(3)(F.col("text")).alias("_sh"))
            .select("_id", F.explode("_sh").alias("_s"))
        )
        return _posting_list_candidates(ex, max_df)

    def cands_winnowing(docs):
        # same fingerprint construction as dedup_winnowing (k=5, w=4)
        fps = (
            docs.select(
                F.col("doc_id").alias("_id"),
                F.array_distinct(
                    winnowing_of_hashes(
                        token_hashes(tokens(F.col("text")), hash_fn="xxhash64"),
                        k=5, window=4,
                    )
                ).alias("_fps"),
            )
            .filter(F.size("_fps") > 0)
            .select("_id", F.explode("_fps").alias("_s"))
        )
        return _posting_list_candidates(fps, 50)

    def cands_emb_lsh(emb):
        # same 6x8 hyperplane bucketing as dedup_embedding_cosine(lsh)
        a = emb.select(F.col("vec_id").alias("_id"),
                       as_double(F.col("embedding")).alias("_v"))
        b = _bucketed(a, "_id", "_v", 64, 6, 8, 42, "gaussian")
        return _posting_list_candidates(
            b.select("_id", F.concat_ws("|", "_tbl", "_bkt").alias("_s")),
            None)

    # walls are only attempted when the candidate count is tractable on
    # ONE box (the pair join's shuffle is O(candidates); measured: the
    # 2.84B-candidate fixed-p=6 embedding run at x100 filled the 80 GB
    # spill volume). NOTHING is skipped silently — a skipped wall prints
    # its candidate count and reason. On a cluster the bound is per-
    # executor spill space, not this constant.
    WALL_CAND_BOUND = 300_000_000
    ops = [
        ("dedup_minhash_lsh",
         lambda d, e: dedup_minhash_lsh(d, "text", "doc_id"),
         lambda d, e: cands_minhash(d)),
        ("dedup_containment",
         lambda d, e: dedup_containment(d, "text", "doc_id", max_df=200),
         lambda d, e: cands_shingle(d, 200)),
        ("dedup_winnowing",
         lambda d, e: dedup_winnowing(d, "text", "doc_id", min_shared=2,
                                      max_df=50),
         lambda d, e: cands_winnowing(d)),
        ("dedup_embedding_lsh[p=6 fixed - the QUADRATIC dial]",
         lambda d, e: dedup_embedding_cosine(
             e, "vec_id", "embedding", method="lsh", dim=64),
         lambda d, e: cands_emb_lsh(e)),
        ("dedup_embedding_lsh[p=auto - occupancy-held dial]",
         lambda d, e: dedup_embedding_cosine(
             e, "vec_id", "embedding", method="lsh", dim=64,
             n_planes="auto"),
         lambda d, e: None),
        ("dedup_clusters",
         lambda d, e: dedup_clusters(d, "text", "doc_id"),
         lambda d, e: None),  # input edges = minhash candidates above
    ]
    for name, run_fn, cand_fn in ops:
        row: dict = {"query": name}
        for mult, d in scales:
            docs = spark.read.parquet(f"{d}/documents.parquet")
            emb = load_table(spark, d, "embeddings")
            cell: dict = {}
            c = cand_fn(docs, emb)
            if c is not None:
                cell["candidate_pairs"] = c
            if c is not None and c > WALL_CAND_BOUND:
                cell["wall"] = (f"skipped: {c} candidates > "
                                f"{WALL_CAND_BOUND} single-box bound")
            else:
                t0 = time.monotonic()
                n_pairs = run_fn(docs, emb).count()
                cell["sec"] = round(time.monotonic() - t0, 1)
                cell["out_pairs"] = n_pairs
            row[f"x{mult}"] = cell
        w10 = row["x10"].get("sec")
        w100 = row["x100"].get("sec")
        if w10 and w100:
            row["wall_ratio_for_10x_docs"] = round(w100 / w10, 2)
        c10 = row["x10"].get("candidate_pairs")
        c100 = row["x100"].get("candidate_pairs")
        if c10 and c100:
            row["cand_ratio_for_10x_docs"] = round(c100 / c10, 2)
        print(json.dumps(row), flush=True)

    # recall of the dials vs ground truth at the base scale, where the
    # exact twin is affordable (~5k vecs -> 12.5M pairs). The synthetic
    # base corpus has NO natural cos>=0.9 pairs, so plant one near-dup
    # twin per 50th vector: twin[k] = v[k] * (0.96..1.04 deterministic
    # per-dim jitter) -> cos(v, twin) ~ 0.999, bucket-divergence
    # possible on planes near the decision boundary (the realistic
    # near-dup shape, unlike an exact copy which trivially co-buckets).
    emb0 = load_table(spark, BASE, "embeddings")
    twins = emb0.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + F.lit(10_000_000)).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, k: x * (
                F.lit(1.0)
                + F.lit(0.02)
                * (F.pmod(F.xxhash64(F.col("vec_id"), k), 5) - F.lit(2))
            ).cast("float"),
        ).alias("embedding"),
        *[c for c in emb0.columns if c not in ("vec_id", "embedding")],
    )
    planted = emb0.unionByName(twins)
    exact = set(
        (r["id_a"], r["id_b"]) for r in dedup_embedding_cosine(
            planted, "vec_id", "embedding", method="exact").collect()
    )
    for label, planes in (("p=6", 6), ("p=auto", "auto")):
        got = set(
            (r["id_a"], r["id_b"]) for r in dedup_embedding_cosine(
                planted, "vec_id", "embedding", method="lsh", dim=64,
                n_planes=planes).collect()
        )
        print(json.dumps({
            "query": f"emb_lsh_recall[{label}] vs exact, planted twins"
                     " @ sf0.1",
            "true_pairs": len(exact), "found": len(got & exact),
            "recall": round(len(got & exact) / len(exact), 3) if exact else None,
        }), flush=True)


def build_events(spark, mult: int) -> str:
    """events-only replica build (user_id shifted per replica so the
    distinct-user population scales with mult — the quantity HLL must
    track)."""
    out = SCRATCH / f"events_x{mult}"
    if (out / "events.parquet").exists():
        return str(out)
    if out.exists():
        shutil.rmtree(out)
    out.mkdir(parents=True)
    ev = spark.read.parquet(f"{BASE}/events.parquet")  # keep raw nanos ts
    _union_all([
        ev.select(
            (F.col("event_id") + F.lit(i * ID_SHIFT)).alias("event_id"),
            "ts",
            (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
            "event_type", "value", "props",
        )
        for i in range(mult)
    ]).write.parquet(str(out / "events.parquet"))
    return str(out)


def sketches100_main() -> None:
    """10x/100x smoke for the mergeable-sketch family, recording wall
    AND the bounded-state claim each sketch's 100 TB story makes:

    - hll_distinct / hll_windowed: occupied-register rows must stay
      <= keys x 256 (the sketch bound) while the event volume and the
      TRUE distinct-user population grow 10x/100x — and the estimate
      must track the population (relative error recorded).
    - cms_topk: sketch cells must stay <= d*w = 1024 at any volume.
    - softdedup weights/sample: postings (the only shuffled quantity)
      must grow linearly; no pair term exists by construction.
    """
    from kafka_streams_app_spark.operators import pipeline as P
    from kafka_streams_app_spark.operators import sketches as SKOP

    spark = get_spark(app_name="scale-smoke-sketches100")
    spark.sparkContext.setLogLevel("ERROR")

    for mult in (10, 100):
        d = build_events(spark, mult)
        ev = load_table(spark, d, "events")
        true_users = ev.select("user_id").distinct().count()

        t0 = time.time()
        rows = SKOP.hll_distinct(ev, ["event_type"], "user_id", b=8).collect()
        wall = time.time() - t0
        regs = SKOP.hll_registers(ev, ["event_type"], "user_id", b=8).count()
        # per-key true distinct ~= true_users (every user hits every
        # type at this generator); report the max relative error across
        # keys against the per-key truth.
        per_key_truth = {
            r["event_type"]: r["n"]
            for r in ev.groupBy("event_type")
            .agg(F.countDistinct("user_id").alias("n"))
            .collect()
        }
        max_rel_err = max(
            abs(SKOP.hll_linear_correction(r.est_distinct, r.used_registers, 256)
                - per_key_truth[r.event_type]) / per_key_truth[r.event_type]
            for r in rows
        )
        print(json.dumps({
            "op": "events_hll_distinct", "mult": mult,
            "wall_s": round(wall, 2), "events": mult * 100_000,
            "true_users": true_users, "register_rows": int(regs),
            "register_bound": len(per_key_truth) * 256,
            "max_rel_err": round(max_rel_err, 4),
        }))

        t0 = time.time()
        win = F.window("ts", "3600 seconds")
        keyed = ev.select(
            F.unix_seconds(win["start"]).alias("window_start_s"),
            "event_type", "user_id",
        )
        SKOP.hll_distinct(
            keyed, ["window_start_s", "event_type"], "user_id", b=8
        ).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        wregs = SKOP.hll_registers(
            keyed, ["window_start_s", "event_type"], "user_id", b=8
        ).count()
        n_groups = keyed.select("window_start_s", "event_type").distinct().count()
        print(json.dumps({
            "op": "events_hll_windowed", "mult": mult,
            "wall_s": round(wall, 2), "register_rows": int(wregs),
            "register_bound": n_groups * 256,
        }))

        t0 = time.time()
        SKOP.cms_topk(ev, "user_id", d=4, w=256, n=20).collect()
        wall = time.time() - t0
        cells = SKOP.cms_sketch(ev, "user_id", d=4, w=256).count()
        print(json.dumps({
            "op": "events_cms_topk", "mult": mult, "wall_s": round(wall, 2),
            "sketch_cells": int(cells), "cell_bound": 4 * 256,
        }))

        # histogram quantiles: sketch rows bounded at keys x 256, the
        # readout within one bucket width of the EXACT order statistic
        # (computed via the full per-key sort the sketch replaces — its
        # wall is recorded as the comparison cost).
        from pyspark.sql.window import Window as _Win

        qs = (500000, 900000, 990000)
        t0 = time.time()
        hq = {
            (r.event_type, r.q_ppm): r.est_hi
            for r in SKOP.hist_quantiles(
                ev, ["event_type"], "value", 0.0, 512.0, 256, qs
            ).collect()
        }
        wall = time.time() - t0
        hrows = SKOP.hist_sketch(ev, ["event_type"], "value").count()
        t0 = time.time()
        nn = ev.filter(F.col("value").isNotNull())
        tot = {
            r.event_type: r.total
            for r in nn.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("total")).collect()
        }
        want = spark.createDataFrame(
            [(k, q, (t * q + 999999) // 1000000) for k, t in tot.items()
             for q in qs],
            "event_type string, q_ppm long, rn long",
        )
        ranked = nn.select(
            "event_type", "value",
            F.row_number().over(
                _Win.partitionBy("event_type").orderBy("value")
            ).alias("rn"),
        )
        exact = {
            (r.event_type, r.q_ppm): r.value
            for r in ranked.join(F.broadcast(want), ["event_type", "rn"])
            .collect()
        }
        wall_exact = time.time() - t0
        gaps = [hq[k] - exact[k] for k in exact]
        print(json.dumps({
            "op": "events_hist_quantiles", "mult": mult,
            "wall_s": round(wall, 2), "wall_exact_sort_s": round(wall_exact, 2),
            "sketch_rows": int(hrows), "sketch_bound": len(tot) * 256,
            "min_gap": round(min(gaps), 4), "max_gap": round(max(gaps), 4),
            "gap_bound_width": 2.0,
        }))

    for mult in (10, 100):
        d = build_docs(spark, mult)
        docs = load_table(spark, d, "documents")
        t0 = time.time()
        w = P.softdedup_weights(docs, "text", "doc_id", k=3, alpha=4)
        kept = P.weighted_sample(w, "weight_ppm", "doc_id").count()
        wall = time.time() - t0
        postings = w.agg(F.sum("n_shingles")).collect()[0][0]
        print(json.dumps({
            "op": "corpus_softdedup_sample", "mult": mult,
            "wall_s": round(wall, 2), "docs": mult * 5_000,
            "postings": int(postings), "kept": int(kept),
        }))


def curation100_main() -> None:
    """100x smoke for the r11-continuation curation family (10x vs
    100x = 50k vs 500k docs/vectors), recording wall AND the cost
    driver each operator's scale story names:

    - scrub_duplicated_spans: shingle occurrences / duplicated hashes /
      covered starts — all linear by the replica-disjoint construction,
      and STRUCTURALLY free of a pair term (the dup-hash join matches
      occurrences, it never builds C(df,2) pairs — the quantity that
      blows up posting-list self-joins).
    - dedup_minhash_lsh_cross: cross candidate pairs = sum over band
      buckets of |new| x |ref| — the quantity the band dial bounds.
    - dsir_select: wall only (models are n_buckets-bounded by
      construction; the only growing term is the token scan).
    - semdedup at the FIXED-CODEBOOK deploy rule (m held at ~2.9k by
      dialing mod 17 -> 170 as n grows 10x): within-cluster candidate
      pairs are the documented quadratic-in-occupancy trade — measured
      here instead of asserted.
    """
    from kafka_streams_app_spark.operators import pipeline as P
    from kafka_streams_app_spark.operators.dedup import (
        _sig_table,
        dedup_minhash_lsh_cross,
    )
    from kafka_streams_app_spark.operators.similarity import (
        _int_codebook,
        _nearest_cid_udf,
        semdedup,
    )
    from kafka_streams_app_spark.functions.text import tokens

    spark = get_spark(app_name="scale-smoke-curation100")
    spark.sparkContext.setLogLevel("ERROR")
    scales = [(10, build_docs(spark, 10)), (100, build_docs(spark, 100))]

    for mult, d in scales:
        docs = load_table(spark, d, "documents")
        emb = load_table(spark, d, "embeddings")

        # --- scrub drivers ---------------------------------------------------
        k = 8
        base = docs.select(
            "doc_id", tokens(F.col("text")).alias("_t")
        ).withColumn("_n", F.size("_t"))
        occ_n = base.select(
            (F.when(F.col("_n") >= k, F.col("_n") - k + 1).otherwise(0))
            .alias("c")
        ).agg(F.sum("c")).collect()[0][0]
        t0 = time.time()
        out = P.scrub_duplicated_spans(docs, "text", "doc_id", k=k)
        scrubbed = out.filter(F.col("n_removed") > 0).count()
        wall = time.time() - t0
        print(json.dumps({
            "op": "corpus_scrub_dup_spans", "mult": mult, "wall_s": round(wall, 2),
            "shingle_occurrences": int(occ_n), "docs_scrubbed": int(scrubbed),
        }))

        # --- cross-minhash candidates ---------------------------------------
        new_cond = F.col("doc_id") % 10 >= 2
        ref_cond = F.col("doc_id") % 10 < 3
        new, ref = docs.filter(new_cond), docs.filter(ref_cond)
        def bands(df_side, label):
            return (
                _sig_table(df_side, "text", "doc_id", 3)
                .select(F.col("_id").alias(label), F.explode("_bh").alias("bh"))
            )

        ca = bands(new, "a").groupBy("bh").agg(F.count(F.lit(1)).alias("na"))
        cb = bands(ref, "b").groupBy("bh").agg(F.count(F.lit(1)).alias("nb"))
        cand_n = ca.join(cb, "bh").select(
            F.sum(F.col("na").cast("long") * F.col("nb")).alias("c")
        ).collect()[0]["c"] or 0
        t0 = time.time()
        pairs = dedup_minhash_lsh_cross(
            docs, new_cond, ref_cond, "text", "doc_id").count()
        wall = time.time() - t0
        print(json.dumps({
            "op": "dedup_minhash_lsh_cross", "mult": mult,
            "wall_s": round(wall, 2), "band_candidates": int(cand_n),
            "out_pairs": int(pairs),
        }))

        # --- dsir ------------------------------------------------------------
        t0 = time.time()
        P.dsir_score(docs, docs.filter(F.col("lang") == "en"),
                     "text", "doc_id", n_buckets=1024, top_n=200).count()
        print(json.dumps({
            "op": "dsir_select", "mult": mult,
            "wall_s": round(time.time() - t0, 2),
        }))

        # --- semdedup, fixed codebook ----------------------------------------
        mod = 17 * (mult // 10)  # holds m ~ 2.9k at both scales
        cids, cmat = _int_codebook(emb, "vec_id", "embedding", (mod, 3))
        assign = _nearest_cid_udf(cids, cmat)
        sizes = (
            emb.select(assign(F.col("embedding").cast("array<double>"))
                       .alias("_cl"))
            .groupBy("_cl").agg(F.count(F.lit(1)).alias("n"))
        )
        pair_n = sizes.select(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("c")
        ).collect()[0]["c"] or 0
        t0 = time.time()
        kept = semdedup(emb, "vec_id", "embedding", threshold=0.3,
                        centroid_mod=(mod, 3)).count()
        wall = time.time() - t0
        print(json.dumps({
            "op": "sim_semdedup", "mult": mult, "mod": mod,
            "n_centroids": int(len(cids)), "wall_s": round(wall, 2),
            "cluster_pairs": int(pair_n), "survivors": int(kept),
        }))

        # --- semdedup, auto codebook (grow-m dial, r11 verdict #8) -----------
        # mod = isqrt(n) -> ~sqrt(n) centroids AND ~sqrt(n) occupancy:
        # within-cluster pairs grow ~n^1.5 (10x data -> ~31.6x pairs),
        # sub-quadratic vs the held-m x100 above.
        import math

        n_vec = emb.count()
        amod = max(math.isqrt(n_vec), 1)
        a_cids, a_cmat = _int_codebook(
            emb, "vec_id", "embedding", (amod, 3 % amod))
        a_assign = _nearest_cid_udf(a_cids, a_cmat)
        a_sizes = (
            emb.select(a_assign(F.col("embedding").cast("array<double>"))
                       .alias("_cl"))
            .groupBy("_cl").agg(F.count(F.lit(1)).alias("n"))
        )
        a_pair_n = a_sizes.select(
            F.sum(F.col("n") * (F.col("n") - 1) / 2).cast("long").alias("c")
        ).collect()[0]["c"] or 0
        t0 = time.time()
        a_kept = semdedup(emb, "vec_id", "embedding", threshold=0.3,
                          centroid_mod="auto").count()
        wall = time.time() - t0
        print(json.dumps({
            "op": "sim_semdedup[auto grow-m]", "mult": mult, "mod": amod,
            "n_centroids": int(len(a_cids)), "wall_s": round(wall, 2),
            "cluster_pairs": int(a_pair_n), "survivors": int(a_kept),
        }))

        # --- kmeans, fixed codebook -------------------------------------------
        from kafka_streams_app_spark.operators.similarity import kmeans_lloyd

        t0 = time.time()
        kmeans_lloyd(emb, "vec_id", "embedding",
                     centroid_mod=(mod, 3), iters=2).count()
        print(json.dumps({
            "op": "cluster_kmeans", "mult": mult, "mod": mod,
            "n_centroids": int(len(cids)),
            "wall_s": round(time.time() - t0, 2),
        }))


def recall100_main() -> None:
    """r9 verdict #6: planted-twin recall for the auto-planes embedding
    LSH at the 100x smoke scale (501k vectors), where the auto dial
    picks p ~= 13 (vs ~11 at sf0.1) and per-table collision probability
    for a fixed-angle pair is correspondingly lower. Exact all-pairs
    ground truth is unaffordable at 500k vecs (125B pairs), but planted
    twins don't need it: the twin pairs ARE known true pairs, and their
    exact cosines are verifiable with an O(twins) direct join — recall
    on that subset is measured, not estimated. Twins use the same
    +-4% per-dim deterministic jitter as the sf0.1 pin (cos ~ 0.999,
    boundary-plane divergence possible — the realistic near-dup shape).
    Measures n_tables=8 (the default) and 16 (the dial the docstring
    tells production corpora to raise), so the guidance carries a
    number instead of a gesture.

    Two twin populations, because they answer different questions:
    - "near" (+-4% jitter, cos ~ 0.9996): the realistic near-dup —
      per-table collision probability stays ~0.99^p, so recall should
      be 1.0 at any sane dial; a miss here is a bug, not a trade.
    - "boundary" (+-68% jitter, cos scattered around the 0.9
      threshold): the pairs the n_tables dial actually fights for —
      per-table collision at theta ~ 0.45 rad is only ~(1-0.14)^p, so
      recall is genuinely probabilistic and the 8-vs-16-table delta is
      measurable. Ground truth keeps only jittered pairs whose exact
      cosine lands >= 0.9, so truth stays exact per pair."""
    import math

    from kafka_streams_app_spark.functions.vectors import as_double, dot, norm
    from kafka_streams_app_spark.operators.dedup import dedup_embedding_cosine

    spark = get_spark(app_name="scale-smoke-recall100")
    spark.sparkContext.setLogLevel("ERROR")
    d = build_docs(spark, 100)
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    TWIN = 10_000_000_000  # far above any replica-shifted vec_id

    for label, scale in (("near", 0.02), ("boundary", 0.342)):
        base_sel = emb.filter(F.col("vec_id") % 500 == 0)
        twins = base_sel.select(
            (F.col("vec_id") + F.lit(TWIN)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, k: (
                    x * (
                        F.lit(1.0)
                        + F.lit(scale)
                        * (F.pmod(F.xxhash64(F.col("vec_id"), k), 5) - F.lit(2))
                    )
                ).cast("float"),
            ).alias("embedding"),
            *[c for c in emb.columns if c not in ("vec_id", "embedding")],
        )
        planted = emb.unionByName(twins).persist()
        n = planted.count()
        auto_p = max(6, math.ceil(math.log2(n / 64)))
        # exact cosine of each planted pair via a direct O(twins) join —
        # the pin uses the measured >= 0.9 set, so a jitter outlier
        # can't silently shrink (or pad) truth
        a = base_sel.select(
            F.col("vec_id").alias("id_a"),
            as_double(F.col("embedding")).alias("_va"))
        b = twins.select(
            (F.col("vec_id") - F.lit(TWIN)).alias("id_a"),
            F.col("vec_id").alias("id_b"),
            as_double(F.col("embedding")).alias("_vb"))
        cos = dot(F.col("_va"), F.col("_vb")) / (
            norm(F.col("_va")) * norm(F.col("_vb")))
        truth = (
            a.join(b, "id_a")
            .select("id_a", "id_b", F.round(cos, 6).alias("cos"))
            .filter(F.col("cos") >= 0.9)
            .persist()
        )
        n_true = truth.count()
        for n_tables in (8, 16):
            t0 = time.monotonic()
            found = dedup_embedding_cosine(
                planted, "vec_id", "embedding", method="lsh", dim=64,
                n_planes="auto", n_tables=n_tables,
            )
            # recall join is distributive (truth is ~1k rows,
            # broadcast); nothing here collects the found-pair set
            hit = found.join(
                F.broadcast(truth.select("id_a", "id_b")), ["id_a", "id_b"]
            ).count()
            print(json.dumps({
                "query": f"emb_lsh_recall[{label}, p=auto,"
                         f" tables={n_tables}] vs planted twins @ x100",
                "n_vectors": n, "auto_planes": auto_p,
                "true_pairs": n_true, "found": hit,
                "recall": round(hit / n_true, 4) if n_true else None,
                "sec": round(time.monotonic() - t0, 1),
            }), flush=True)
        planted.unpersist()
        truth.unpersist()


def hardneg100_main() -> None:
    """r11 verdict #4's recall row: hard_negatives_ann recall at the
    100x smoke scale (501k vectors), same planted-twin methodology as
    recall100 — twins carry a DIFFERENT label (suffixing the base
    label), so each planted pair is a known TRUE hard negative whose
    exact cosine an O(twins) join verifies; recall is measured on the
    >= 0.9 subset, never estimated. At 501k vectors the 6-plane
    contract default would give ~7.8k-occupancy buckets, so the smoke
    runs the deploy dial the docstring prescribes for big corpora:
    n_planes=12 (occupancy ~120). Populations: "near" (cos ~ 0.9996,
    recall should be ~1.0 at any sane dial) and "boundary" (cos
    scattered around 0.9 — the pairs the n_tables dial fights for;
    sign-LSH theory: ~74% at 8 tables, ~93% at 16)."""
    import math

    from kafka_streams_app_spark.functions.vectors import as_double, dot, norm
    from kafka_streams_app_spark.operators.similarity import hard_negatives_ann

    spark = get_spark(app_name="scale-smoke-hardneg100")
    spark.sparkContext.setLogLevel("ERROR")
    d = build_docs(spark, 100)
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    TWIN = 10_000_000_000

    for label, scale in (("near", 0.02), ("boundary", 0.342)):
        base_sel = emb.filter(F.col("vec_id") % 500 == 0)
        twins = base_sel.select(
            (F.col("vec_id") + F.lit(TWIN)).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, k: (
                    x * (
                        F.lit(1.0)
                        + F.lit(scale)
                        * (F.pmod(F.xxhash64(F.col("vec_id"), k), 5) - F.lit(2))
                    )
                ).cast("float"),
            ).alias("embedding"),
            # different label BY CONSTRUCTION (labels are small ints;
            # +1e6 collides with nothing) -> every planted pair is a
            # true hard negative for its anchor
            (F.col("label") + F.lit(1_000_000)).alias("label"),
            *[c for c in emb.columns
              if c not in ("vec_id", "embedding", "label")],
        )
        planted = emb.unionByName(twins).persist()
        n = planted.count()
        a = base_sel.select(
            F.col("vec_id").alias("anchor_id"),
            as_double(F.col("embedding")).alias("_va"))
        b = twins.select(
            (F.col("vec_id") - F.lit(TWIN)).alias("anchor_id"),
            F.col("vec_id").alias("negative_id"),
            as_double(F.col("embedding")).alias("_vb"))
        cos = dot(F.col("_va"), F.col("_vb")) / (
            norm(F.col("_va")) * norm(F.col("_vb")))
        truth = (
            a.join(b, "anchor_id")
            .select("anchor_id", "negative_id", F.round(cos, 6).alias("cos"))
            .filter(F.col("cos") >= 0.9)
            .persist()
        )
        n_true = truth.count()
        for n_tables in (8, 16):
            t0 = time.monotonic()
            found = hard_negatives_ann(
                planted, base_sel, "vec_id", "embedding", "label",
                dim=64, k=5, n_planes=12, n_tables=n_tables,
            )
            hit = found.join(
                F.broadcast(truth.select("anchor_id", "negative_id")),
                ["anchor_id", "negative_id"],
            ).count()
            print(json.dumps({
                "query": f"hard_negatives_ann recall[{label},"
                         f" planes=12, tables={n_tables}]"
                         " vs planted diff-label twins @ x100",
                "n_vectors": n, "anchors": int(base_sel.count()),
                "true_pairs": n_true, "found": hit,
                "recall": round(hit / n_true, 4) if n_true else None,
                "sec": round(time.monotonic() - t0, 1),
            }), flush=True)
        planted.unpersist()
        truth.unpersist()




def streamcur_main() -> None:
    """Cost-driver smoke for the r12d at-ingest curation operators,
    on batch frames, i.e. grouped replay (bit-identical emitted sets, no
    streaming runtime in the loop — the drivers being counted are
    plan-level quantities):

    - winnow candidates: STATE rows (= occupied fingerprint buckets,
      the inverted-index size) and EMITTED pairs must both grow
      linearly for the disjoint-content replicas (each replica's
      tokens are tag-prefixed, so buckets never collide across
      replicas — growth beyond linear would mean a plan bug).
    - sample_topk: the changelog must stay O(ids that ever enter) and
      the final membership EXACTLY k x strata at ANY corpus size —
      the bounded-state claim.
    - decontam: stream-side fp rows linear; flagged docs linear.
    """
    from pyspark.sql import functions as F

    from kafka_streams_app_spark.streaming import dedup_candidates as DC
    from kafka_streams_app_spark.streaming import sample as SSample

    spark = get_spark(app_name="scale-smoke-streamcur")
    spark.sparkContext.setLogLevel("ERROR")

    for mult in (1, 10):
        d = BASE if mult == 1 else build_docs(spark, mult)
        docs = load_table(spark, str(d), "documents")
        n_docs = docs.count()

        fps = DC.winnow_fingerprints(docs, "text", "doc_id")
        t0 = time.monotonic()
        pairs = DC.winnow_candidates(docs, "text", "doc_id").count()
        wall = time.monotonic() - t0
        state_rows = fps.select("fp").distinct().count()
        print(json.dumps({
            "probe": "winnow_candidates", "mult": mult, "docs": n_docs,
            "state_rows": state_rows, "pairs": pairs,
            "sec": round(wall, 2),
        }), flush=True)

        t0 = time.monotonic()
        ch = SSample.sample_topk(
            docs, "source", "doc_id", k=20, seed=3
        ).persist()
        changelog_rows = ch.count()
        final = (
            ch.groupBy("source", "doc_id").agg(F.sum("op").alias("net"))
            .filter(F.col("net") > 0).count()
        )
        ch.unpersist()
        print(json.dumps({
            "probe": "sample_topk", "mult": mult, "docs": n_docs,
            "changelog_rows": changelog_rows, "final_members": final,
            "bound": 20 * docs.select("source").distinct().count(),
            "sec": round(time.monotonic() - t0, 2),
        }), flush=True)

        ref = docs.filter(F.col("doc_id") % 10 < 3)
        stream_side = docs.filter(F.col("doc_id") % 10 >= 3)
        t0 = time.monotonic()
        flagged = DC.decontam_winnow_stream(
            stream_side, ref, "text", "doc_id", min_shared=2
        ).count()
        print(json.dumps({
            "probe": "decontam_winnow", "mult": mult, "docs": n_docs,
            "flagged": flagged, "sec": round(time.monotonic() - t0, 2),
        }), flush=True)


def autodispatch_main() -> None:
    """Mixed-format sniff+decode throughput (multimodal_auto_features's
    pipeline) at sf0.1 and x10. The dispatch path is scan-parallel
    per-payload codec work — no shuffle, no state, no driver traffic —
    so wall should grow ~linearly in rows (docs/s ~flat across scales);
    a superlinear ratio would flag an accidental bottleneck in the
    routing layer. Both sides warmed (headline10 symmetry rule)."""
    from kafka_streams_app_spark.operators import multimodal

    spark = get_spark(app_name="autodispatch-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    big_dir = build_docs(spark, 10)

    def run(sf_dir):
        docs = load_table(spark, sf_dir, "documents")
        media = multimodal.synth_mixed_media(docs, "doc_id")
        return multimodal.extract_features_auto(media)

    results = {}
    for label, d in (("base_sf0.1", BASE), ("x10", big_dir)):
        run(d).write.format("noop").mode("overwrite").save()  # warm
        n = load_table(spark, d, "documents").count()
        sec = timed(run, d)
        results[label] = sec
        print(json.dumps({
            "shape": "multimodal_auto_dispatch", "scale": label,
            "rows": n, "sec": sec,
            "rows_per_sec": int(n / sec) if sec else None,
        }))
    print(json.dumps({
        "shape": "multimodal_auto_dispatch", "scale": "ratio",
        "ratio": round(results["x10"] / results["base_sf0.1"], 2)
        if results.get("base_sf0.1") else None,
    }))


def collocations_main() -> None:
    """corpus_collocations at sf0.1 and x10 (content-disjoint replicas:
    every token gets a replica prefix, so vocabulary AND bigram space
    grow ~10x while per-pair counts stay flat — the worst case for the
    vocab joins, since nothing deduplicates). Expect ~linear wall in
    rows; a superlinear ratio would flag the join or top-k doing more
    than one pass. Both sides warmed."""
    from kafka_streams_app_spark.operators.pipeline import corpus_collocations

    spark = get_spark(app_name="collocations-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    big_dir = build_docs(spark, 10)

    def run(sf_dir):
        return corpus_collocations(
            load_table(spark, sf_dir, "documents"), k=100, min_count=5
        )

    results = {}
    for label, d in (("base_sf0.1", BASE), ("x10", big_dir)):
        run(d).write.format("noop").mode("overwrite").save()  # warm
        n = load_table(spark, d, "documents").count()
        sec = timed(run, d)
        results[label] = sec
        print(json.dumps({
            "shape": "corpus_collocations", "scale": label,
            "rows": n, "sec": sec,
        }))
    print(json.dumps({
        "shape": "corpus_collocations", "scale": "ratio",
        "ratio": round(results["x10"] / results["base_sf0.1"], 2)
        if results.get("base_sf0.1") else None,
    }))


def skew_main() -> None:
    """r12 verdict #5: wall-clock proof that the skew remedies WIN on a
    hot key, not just match the plain forms' results.

    Fixture: sf0.1 events x mult (default 10, ~1M rows) with user_id
    reassigned Zipf-style — ~40% of all rows land on ONE hot user, the
    rest hash across 5000 cold users. Measures:
      - rolling_time_stats (window partitioned by key alone: the hot
        key is one straggler sort) vs rolling_time_stats_bucketed
        (overlap-and-discard time bucketing splits it).
      - plain shuffle join vs AQE-skew-split join vs salted_join
        against a non-broadcastable right side (broadcast disabled, as
        it would be at 100 TB right-side sizes).
    Row counts are asserted equal between each remedy and its plain
    form — same answer, different wall time. One JSON line per pair.
    """
    mult = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    spark = get_spark(app_name="skew-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    from kafka_streams_app_spark.operators import analytics
    from kafka_streams_app_spark.operators.joins import salted_join

    ev = load_table(spark, BASE, "events")
    reps = _union_all([
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * 10_000_000))
        for i in range(mult)
    ])
    h = F.pmod(F.xxhash64("event_id"), F.lit(100))
    skewed = reps.withColumn(
        "user_id",
        F.when(h < 40, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(5000)) + 1)
        .cast("long"),
    )
    SCRATCH.mkdir(parents=True, exist_ok=True)
    path = str(SCRATCH / "skew_events")
    skewed.write.mode("overwrite").parquet(path)
    sk = spark.read.parquet(path)
    n = sk.count()
    hot = sk.filter(F.col("user_id") == 0).count()
    print(json.dumps({"fixture": "skew_events", "rows": n,
                      "hot_key_rows": hot,
                      "hot_share": round(hot / n, 3)}))

    def rt_plain():
        return analytics.rolling_time_stats(
            sk, "user_id", "ts", "value", horizon_s=300, tiebreak="event_id"
        )

    def rt_bucketed():
        return analytics.rolling_time_stats_bucketed(
            sk, "user_id", "ts", "value", horizon_s=300,
            tiebreak="event_id", bucket_s=4800,
        )

    def measure(label, plain_fn, remedy_fn, remedy_label):
        for fn in (plain_fn, remedy_fn):  # warm: JIT + worker pool
            fn().write.format("noop").mode("overwrite").save()
        t_plain = min(timed(plain_fn) for _ in range(2))
        t_remedy = min(timed(remedy_fn) for _ in range(2))
        assert plain_fn().count() == remedy_fn().count()
        print(json.dumps({
            "pair": label, "mult": mult,
            "plain_sec": t_plain, f"{remedy_label}_sec": t_remedy,
            "speedup": round(t_plain / t_remedy, 2) if t_remedy else None,
        }))

    measure("rolling_time_stats vs bucketed", rt_plain, rt_bucketed,
            "bucketed")

    # join skew: right side is a per-user payload table, broadcast
    # DISABLED (at 100 TB the right side would not broadcast; AQE's
    # skew split and salting are the remedies under test, not BHJ)
    right = (
        spark.range(5001)
        .select(
            F.col("id").alias("r_user"),
            F.concat(F.lit("payload_"), F.col("id")).alias("r_payload"),
        )
    )
    rpath = str(SCRATCH / "skew_right")
    right.write.mode("overwrite").parquet(rpath)
    rt = spark.read.parquet(rpath)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_skew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

        def join_plain():
            return sk.join(rt, sk["user_id"] == rt["r_user"])

        def join_salted():
            return salted_join(sk, rt, "user_id", "r_user", salt=32)

        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
        measure("shuffle join (no AQE skew split) vs salted",
                join_plain, join_salted, "salted")
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        measure("shuffle join (AQE skew split) vs salted",
                join_plain, join_salted, "salted")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prev_skew)


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "skew":
        skew_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "longdoc":
        longdoc_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "decontam":
        decontam_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "dedup100":
        dedup100_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "recall100":
        recall100_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "curation100":
        curation100_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "scrubdegen":
        scrubdegen_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "hardneg100":
        hardneg100_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "sketches100":
        sketches100_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "streamcur":
        streamcur_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "headline10":
        headline10_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "minhashpairs":
        minhashpairs_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "ivfpqsearch":
        ivfpqsearch_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "embdedup":
        embdedup_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "autodispatch":
        autodispatch_main()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "collocations":
        collocations_main()
        return
    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    only = sys.argv[2:]  # substring filters over runner names
    spark = get_spark(app_name="scale-smoke")
    spark.sparkContext.setLogLevel("ERROR")
    big_dir = build(spark, mult)
    queries = entry_mod.queries()
    runners = [(n, queries[n]) for n in QUERIES]
    runners.append(("sim_lsh_ann_topk[fixed 50-query set]", _ann_fixed_queries))
    runners.append(("sim_semdedup[mod 17: occupancy const]", _semdedup_runner(17)))
    runners.append(("sim_semdedup[mod 170 at 10x: codebook const]",
                    _semdedup_runner(170)))
    runners.append(("cluster_kmeans[mod 17, 2 iters]", _kmeans_runner))
    if only:
        runners = [(n, f) for n, f in runners if any(s in n for s in only)]
    for name, fn in runners:
        fn(spark, BASE).write.format("noop").mode("overwrite").save()  # warm
        base_s = timed(fn, spark, BASE)
        big_s = timed(fn, spark, big_dir)
        print(json.dumps({
            "query": name, "mult": mult, "sec_sf01": base_s,
            "sec_big": big_s,
            "ratio": round(big_s / base_s, 2) if base_s else None,
        }))


if __name__ == "__main__":
    main()
