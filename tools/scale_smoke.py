"""Deterministic data replicas for scaling measurements, and four scaling
cases that no registry entry covers.

Usage: python tools/scale_smoke.py longdoc|scrubdegen|decontam
       python tools/scale_smoke.py skew [MULT]

A registry entry is timed at scale with
``python tools/profile_entry.py --scale MULT NAME ...``, which builds its
replica here.

``build(spark, base_dir, table, mult)`` writes ``mult`` replicas of one
table into ``.scratch/scale_smoke/<base>_x<mult>/``. The fact tables get
content that is DISJOINT across replicas, so the work an operator does
grows linearly with ``mult`` unless the operator itself adds a term:

- documents: ids shifted, and every token prefixed with a replica tag, so
  replicas share no shingles. Otherwise each doc would gain ``mult - 1``
  near-duplicates and dedup pair counts would grow quadratically, which
  measures the data construction, not the engine.
- embeddings: ids shifted, and each replica's vectors multiplied by its
  own deterministic +-1 sign mask per dimension. The mask keeps cosines
  within a replica and makes a vector's cosine with its twin in another
  replica about 0, for the same reason.
- events / lineitem: key columns shifted per replica; value
  distributions untouched (group counts on non-key columns stay fixed,
  rows per group grow linearly).

Dimension tables are copied. Each table is written into a sibling temp
path and renamed into place once written, so a table that exists is
complete: it is reused and never rewritten, and a build killed mid-write
is rebuilt.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from functools import reduce
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from kafka_streams_app_spark.engine import get_spark  # noqa: E402
from kafka_streams_app_spark.sources.catalog import TABLES, load_table  # noqa: E402

BASE = "/root/testdata/sf0.1"
SCRATCH = ROOT / ".scratch" / "scale_smoke"
ID_SHIFT = 1_000_000_000


def _documents(df, i):
    tag = F.lit(f"r{i}")
    toks = F.filter(F.split(F.col("text"), r"\W+"), lambda t: t != "")
    return df.select(
        (F.col("doc_id") + F.lit(i * ID_SHIFT)).alias("doc_id"),
        F.array_join(F.transform(toks, lambda t: F.concat(tag, t)), " ").alias("text"),
        "lang", "source", "n_chars",
    )


def _events(df, i):
    return df.select(
        (F.col("event_id") + F.lit(i * ID_SHIFT)).alias("event_id"),
        "ts",
        (F.col("user_id") + F.lit(i * 1_000_000)).alias("user_id"),
        "event_type", "value", "props",
    )


def _lineitem(df, i):
    return df.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * ID_SHIFT))


def _embeddings(df, i):
    return df.select(
        (F.col("vec_id") + F.lit(i * 1_000_000)).alias("vec_id"),
        F.transform("embedding", lambda x, k: x * F.when(
            F.pmod(F.xxhash64(F.lit(i), k), 2) == 0, F.lit(1.0)).otherwise(F.lit(-1.0)).cast("float")
        ).alias("embedding"),
        *[c for c in df.columns if c not in ("vec_id", "embedding")],
    )


REPLICATE = {"documents": _documents, "events": _events, "lineitem": _lineitem,
             "embeddings": _embeddings}


def _write_once(final: Path, write) -> None:
    """Run ``write(tmp)`` on a sibling temp path and rename it to ``final``.
    An existing ``final`` is complete and is left alone."""
    if final.exists():
        return
    final.parent.mkdir(parents=True, exist_ok=True)
    tmp = final.with_name(f".{final.name}.tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    write(str(tmp))
    os.replace(tmp, final)


def replica_dir(base_dir: str, mult: int) -> Path:
    return SCRATCH / f"{Path(base_dir).name}_x{mult}"


def _replicated(spark, base_dir: str, table: str, mult: int):
    # events keep the ts encoding of the file; readers normalize it
    df = (spark.read.parquet(f"{base_dir}/events.parquet") if table == "events"
          else load_table(spark, base_dir, table))
    return reduce(DataFrame.unionByName, [REPLICATE[table](df, i) for i in range(mult)])


def build(spark, base_dir: str, table: str, mult: int) -> str:
    """The directory holding ``table`` replicated ``mult`` times from
    ``base_dir``; the table is built on first use."""
    final = replica_dir(base_dir, mult) / f"{table}.parquet"
    if table in REPLICATE:
        _write_once(final, lambda tmp: _replicated(spark, base_dir, table, mult).write.parquet(tmp))
    else:
        _write_once(final, lambda tmp: shutil.copy(f"{base_dir}/{table}.parquet", tmp))
    return str(final.parent)


def replica(spark, base_dir: str, mult: int, tables=tuple(TABLES)) -> str:
    """The replica directory of ``base_dir`` with each of ``tables`` built."""
    for t in tables:
        build(spark, base_dir, t, mult)
    return str(replica_dir(base_dir, mult))


def timed(make_df) -> float:
    t0 = time.monotonic()
    make_df().write.format("noop").mode("overwrite").save()
    return round(time.monotonic() - t0, 3)


def _synthetic_docs(spark, name: str, n_docs: int, n_toks: int, word) -> str:
    """``n_docs`` docs of ``n_toks`` tokens ``word(doc_id, i)``, built once."""
    out = SCRATCH / name
    _write_once(out, spark.range(n_docs).select(
        F.col("id").alias("doc_id"),
        F.array_join(F.transform(F.sequence(F.lit(0), F.lit(n_toks - 1)),
                                 lambda i: word(F.col("id"), i)), " ").alias("text"),
    ).repartition(32).write.parquet)
    return str(out)


def _chunk_explode_first(df, max_tokens=64, overlap=8):
    """The rejected pre-r9 chunk_documents plan, kept as the measured
    baseline: explode chunk ids first, slice the full token array after,
    so each chunk row carries the whole array (O(n_tokens^2 / stride) per
    doc)."""
    stride = max_tokens - overlap
    toks = F.filter(F.split(F.coalesce(F.col("text"), F.lit("")), r"\s+"), lambda t: t != "")
    n_chunks = F.greatest(F.lit(1), F.ceil((F.size(toks) - F.lit(overlap)) / F.lit(stride)))
    base = df.select("doc_id", toks.alias("_toks"), n_chunks.cast("int").alias("_nc"))
    chunk = base.select("doc_id", F.explode(F.sequence(F.lit(0), F.col("_nc") - 1))
                        .alias("chunk_id"), "_toks")
    window = F.slice(F.col("_toks"), F.col("chunk_id") * stride + 1, max_tokens)
    return chunk.select(
        "doc_id", F.col("chunk_id").cast("long").alias("chunk_id"),
        F.size(window).cast("long").alias("n_chunk_tokens"),
        F.array_join(window, " ").alias("chunk_text"),
    )


def longdoc(spark) -> None:
    """SCALE.md "Long-document chunking pin": chunk_documents on 64 docs
    of 10k and of 100k tokens. 10x the tokens should cost about 10x the
    wall, not the ~100x of the rejected explode-first form."""
    from kafka_streams_app_spark.operators.pipeline import chunk_documents

    dirs = {n: _synthetic_docs(spark, f"longdoc_{n}", 64, n,
                               lambda d, i: F.concat(F.lit("w"), i.cast("string")))
            for n in (10_000, 100_000)}
    for label, fn in (("chunk_documents[shipped struct-first]", chunk_documents),
                      ("chunk_documents[rejected explode-first]", _chunk_explode_first)):
        runs = {}
        for n, d in dirs.items():
            df = spark.read.parquet(d)
            timed(lambda: fn(df))  # warm
            runs[n] = timed(lambda: fn(df))
        print(json.dumps({"query": label, "docs": 64, "sec_10k_tok": runs[10_000],
                          "sec_100k_tok": runs[100_000],
                          "ratio_for_10x_tokens": round(runs[100_000] / runs[10_000], 2)}))


def scrubdegen(spark) -> None:
    """SCALE.md "scrub_duplicated_spans degenerate-doc pin": 32 docs, 16
    texts with two exact copies each, so every 8-shingle is duplicated
    and every token is removed. 10x the tokens must cost about 10x the
    wall."""
    from kafka_streams_app_spark.operators.pipeline import scrub_duplicated_spans

    runs = {}
    for n in (10_000, 100_000):
        df = spark.read.parquet(_synthetic_docs(
            spark, f"scrubdegen_{n}", 32, n,
            lambda d, i: F.concat(F.lit("w"), (d % 16).cast("string"), F.lit("_"),
                                  i.cast("string"))))
        run = lambda: scrub_duplicated_spans(df, "text", "doc_id", k=8)
        assert run().filter(F.col("n_removed") != F.col("n_tokens")).count() == 0
        timed(run)  # warm
        runs[n] = timed(run)
        print(json.dumps({"op": "corpus_scrub_dup_spans[degenerate 100%-dup]",
                          "docs": 32, "n_tokens": n, "wall_s": runs[n]}))
    print(json.dumps({"op": "corpus_scrub_dup_spans[degenerate 100%-dup]",
                      "ratio_for_10x_tokens": round(runs[100_000] / runs[10_000], 2)}))


def decontam(spark) -> None:
    """SCALE.md "Exact-decontamination span-count crossover": the
    broadcast-NLJ form (O(docs x spans) JVM work) against the Aho-Corasick
    form (O(docs x doc length) Python work) over sf0.1 documents and
    growing span sets."""
    from kafka_streams_app_spark.operators.pipeline import (
        decontaminate_exact, decontaminate_exact_ac,
    )

    docs = load_table(spark, BASE, "documents")
    n_docs = docs.count()
    for modulus in (50, 5, 1):
        spans = docs.filter((F.col("doc_id") % modulus == 0) & (F.length("text") >= 60)).select(
            F.col("doc_id").alias("span_id"), F.substring("text", 11, 40).alias("span"))
        res = {}
        for label, fn in (("nlj", decontaminate_exact), ("ac", decontaminate_exact_ac)):
            timed(lambda: fn(docs, spans))  # warm
            res[label] = timed(lambda: fn(docs, spans))
        print(json.dumps({"query": "decontam_exact[nlj vs ac]", "n_docs": n_docs,
                          "n_spans": spans.count(), "sec_nlj": res["nlj"], "sec_ac": res["ac"],
                          "winner": "ac" if res["ac"] < res["nlj"] else "nlj"}))


def skew(spark, mult: int = 10) -> None:
    """SCALE.md "Measured skew mitigation" and "r13: skew remedies
    wall-proven on a Zipf fixture": sf0.1 events x ``mult`` with about 40%
    of the rows moved onto one hot user and the rest hashed over 5000.
    Times rolling_time_stats against its time-bucketed form, then a
    shuffle join to a per-user table (broadcast off) three ways: AQE's
    skew split off, on, and salted_join. Each remedy's row count is
    asserted equal to the plain form's."""
    from kafka_streams_app_spark.operators import analytics
    from kafka_streams_app_spark.operators.joins import salted_join

    ev = load_table(spark, build(spark, BASE, "events", mult), "events")
    h = F.pmod(F.xxhash64("event_id"), F.lit(100))
    path = str(SCRATCH / "skew_events")
    ev.withColumn("user_id", F.when(h < 40, F.lit(0)).otherwise(
        F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(5000)) + 1).cast("long")
    ).write.mode("overwrite").parquet(path)
    sk = spark.read.parquet(path)
    n, hot = sk.count(), sk.filter(F.col("user_id") == 0).count()
    print(json.dumps({"fixture": "skew_events", "rows": n, "hot_key_rows": hot,
                      "hot_share": round(hot / n, 3)}))

    def measure(label, plans):
        for make in plans.values():  # warm: JIT + worker pool
            timed(make)
        secs = {k: min(timed(make) for _ in range(2)) for k, make in plans.items()}
        counts = {make().count() for make in plans.values()}
        assert len(counts) == 1, counts
        print(json.dumps({"pair": label, "mult": mult, **{f"{k}_sec": s for k, s in secs.items()}}))

    measure("rolling_time_stats", {
        "plain": lambda: analytics.rolling_time_stats(
            sk, "user_id", "ts", "value", horizon_s=300, tiebreak="event_id"),
        "bucketed": lambda: analytics.rolling_time_stats_bucketed(
            sk, "user_id", "ts", "value", horizon_s=300, tiebreak="event_id", bucket_s=4800),
    })
    rpath = str(SCRATCH / "skew_right")
    spark.range(5001).select(F.col("id").alias("r_user"),
                             F.concat(F.lit("payload_"), F.col("id")).alias("r_payload")
                             ).write.mode("overwrite").parquet(rpath)
    rt = spark.read.parquet(rpath)
    bcast, split = "spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.skewJoin.enabled"
    prev = {k: spark.conf.get(k) for k in (bcast, split)}

    def under(skew_split: bool, make):
        def run():
            spark.conf.set(split, str(skew_split).lower())
            return make()
        return run

    try:
        spark.conf.set(bcast, "-1")
        plain = lambda: sk.join(rt, sk["user_id"] == rt["r_user"])
        measure("shuffle join on a hot key", {
            "plain_no_skew_split": under(False, plain),
            "plain_aqe_skew_split": under(True, plain),
            "salted": under(False, lambda: salted_join(sk, rt, "user_id", "r_user", salt=32)),
        })
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


CASES = {"longdoc": longdoc, "scrubdegen": scrubdegen, "decontam": decontam, "skew": skew}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("case", choices=CASES)
    ap.add_argument("mult", nargs="?", type=int, help="replicas of sf0.1 events (skew only; "
                    "default 10)")
    args = ap.parse_args()
    if args.mult is not None and args.case != "skew":
        ap.error("MULT applies to the skew case only")
    spark = get_spark(app_name=f"scale-smoke-{args.case}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.mult is None:
        CASES[args.case](spark)
    else:
        skew(spark, args.mult)


if __name__ == "__main__":
    main()
