"""Empty-input robustness: every major batch operator family must
handle a zero-row input (the first micro-batch of a stream, an
over-filtered partition, a new tenant's table) without crashing, and
return an empty result with the right schema — not nulls, not errors.

These pins matter at fleet scale: a 1000-executor job sees empty
partitions and empty inputs constantly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark.functions import text as T
from kafka_streams_app_spark.operators import (
    aggregations as agg,
    dedup,
    joins,
    pipeline,
    similarity,
)
from kafka_streams_app_spark.sources.catalog import load_table


# Per-table fixtures (NOT one bundle): if one table's load breaks —
# e.g. a testdata regeneration changing a physical encoding, as in
# round 4 — only the tests consuming THAT table error; the rest keep
# reporting signal.


@pytest.fixture(scope="module")
def empty_docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").limit(0)


@pytest.fixture(scope="module")
def empty_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").limit(0)


@pytest.fixture(scope="module")
def empty_emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").limit(0)


def test_text_functions_on_empty(spark, empty_docs):
    docs = empty_docs
    out = docs.select(
        "doc_id",
        T.token_count("text").alias("n"),
        T.language_id("text").alias("lang_pred"),
        T.quality_score("text").alias("q"),
        T.scrub_pii("text").alias("p"),
        T.fingerprint("text").alias("fp"),
    )
    assert out.count() == 0
    assert {"n", "lang_pred", "q", "p", "fp"} <= set(out.columns)


def test_dedup_family_on_empty(spark, empty_docs, empty_emb):
    docs, emb = empty_docs, empty_emb
    assert dedup.dedup_exact(docs, "text", "doc_id").count() == 0
    assert dedup.dedup_ngram_jaccard(docs, "text", "doc_id").count() == 0
    assert dedup.dedup_minhash_lsh(docs, "text", "doc_id").count() == 0
    assert dedup.dedup_clusters(docs, "text", "doc_id").count() == 0
    assert dedup.dedup_embedding_cosine(
        emb, "vec_id", "embedding", dim=64
    ).count() == 0


def test_similarity_on_empty_corpus_and_queries(spark, empty_emb, sf_dir):
    emb_empty = empty_emb
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    # empty corpus, real queries -> no neighbors
    assert similarity.cosine_topk(
        emb_empty, queries, "vec_id", "embedding", k=5
    ).count() == 0
    # real corpus, empty queries -> no output rows
    assert similarity.cosine_topk(
        emb, emb_empty, "vec_id", "embedding", k=5
    ).count() == 0
    assert similarity.lsh_ann_topk(
        emb, emb_empty, "vec_id", "embedding", dim=64, k=5, plane_fn="md5"
    ).count() == 0


def test_joins_and_aggs_on_empty(spark, empty_events, sf_dir):
    ev_empty = empty_events
    ev = load_table(spark, sf_dir, "events")
    l = ev_empty.select(
        F.col("user_id").alias("l_uid"), F.col("ts").alias("l_ts")
    )
    r = ev.select(F.col("user_id").alias("r_uid"), F.col("ts").alias("r_ts"))
    j = joins.interval_join(
        l, r, [("l_uid", "r_uid")], "l_ts", "r_ts", 300, 300
    )
    assert j.count() == 0
    assert agg.windowed_count(ev_empty, "ts", ["event_type"], 10).count() == 0
    assert agg.session_count(ev_empty, "ts", ["user_id"], 3600).count() == 0
    assert joins.salted_join(
        ev_empty.select("event_id", "event_type"),
        ev.groupBy("event_type").count().withColumnRenamed("event_type", "et"),
        "event_type", "et",
    ).count() == 0


def test_pipeline_ops_on_empty(spark, empty_docs):
    docs = empty_docs
    assert pipeline.stratified_sample(
        docs, "lang", {"en": 0.5}, "doc_id", 0.1
    ).count() == 0
    sized = docs.select("doc_id", "lang", T.token_count("text").alias("n"))
    packed = pipeline.pack_sequences(sized, "lang", "doc_id", "n", 512)
    assert packed.count() == 0
    assert {"bin_id", "bin_offset", "shard"} <= set(packed.columns)


def test_chunk_and_ktime_join_on_empty(spark, empty_docs):
    """r7 ops: an empty corpus yields zero chunks with the right
    columns; the per-topic-time join handles an empty side and two
    empty sides without error."""
    from kafka_streams_app_spark.streaming.windowed_join_ktime import (
        windowed_join_per_topic_time,
    )

    chunks = pipeline.chunk_documents(empty_docs)
    assert chunks.count() == 0
    assert list(chunks.columns) == [
        "doc_id", "chunk_id", "n_chunk_tokens", "chunk_text"
    ]

    schema = "key string, ts_s long, seq long, v long"
    empty = spark.createDataFrame([], schema)
    one = spark.createDataFrame([("k", 5, 1, 10)], schema)
    kwargs = dict(key="key", ts="ts_s", seq="seq",
                  left_payload=["v"], right_payload=["v"],
                  before_s=10, after_s=10)
    assert windowed_join_per_topic_time(one, empty, **kwargs).count() == 0
    assert windowed_join_per_topic_time(empty, one, **kwargs).count() == 0
    assert windowed_join_per_topic_time(empty, empty, **kwargs).count() == 0


def test_pq_family_empty_queries_and_hard_negatives(spark, empty_emb, sf_dir):
    """r12 ANN additions: empty query/anchor sets yield empty results
    with stable schemas (no driver-side numpy stack on zero rows);
    an unsatisfiable codebook modulus raises a clear error."""
    import pytest

    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.pq_topk(
        emb, empty_emb, "vec_id", "embedding", dim=64, k=5)
    assert out.count() == 0
    assert out.columns == ["query_id", "neighbor_id", "rank", "adc_dist"]
    assert similarity.ivfpq_topk(
        emb, empty_emb, "vec_id", "embedding", dim=64, k=5
    ).count() == 0
    anchors_empty = empty_emb.withColumn("label", F.lit(None).cast("long"))
    emb_l = emb  # has label
    assert similarity.hard_negatives_ann(
        emb_l, anchors_empty, "vec_id", "embedding", "label", dim=64, k=5,
        plane_fn="md5",
    ).count() == 0
    with pytest.raises(ValueError, match="empty codebook"):
        similarity.pq_topk(
            emb, emb.limit(1), "vec_id", "embedding", dim=64,
            centroid_mod=(10**9, 10**9 - 1),
        )


def test_sketches_on_empty(spark, empty_events, empty_docs):
    """The sketch family on zero rows: empty register/cell tables,
    empty top-k, full-weight empty softdedup — right schemas, no
    errors."""
    from kafka_streams_app_spark.operators import sketches as SK

    regs = SK.hll_registers(empty_events, ["event_type"], "user_id")
    assert regs.count() == 0
    assert set(regs.columns) == {"event_type", "bucket", "max_rho"}

    est = SK.hll_distinct(empty_events, ["event_type"], "user_id")
    assert est.count() == 0
    assert set(est.columns) == {
        "event_type", "used_registers", "denom", "est_distinct",
    }

    assert SK.cms_sketch(empty_events, "user_id").count() == 0
    topk = SK.cms_topk(empty_events, "user_id", n=5)
    assert topk.count() == 0 and set(topk.columns) == {"item", "est_cnt"}

    w = pipeline.softdedup_weights(empty_docs, "text", "doc_id")
    assert w.count() == 0
    assert set(w.columns) == {
        "doc_id", "n_shingles", "dup_shingles", "weight_ppm",
    }
    assert pipeline.weighted_sample(w, "weight_ppm", "doc_id").count() == 0


def test_history_asof_on_empty(spark, empty_events):
    """Empty facts and/or empty history: structurally sound output."""
    from kafka_streams_app_spark.operators.ktable import (
        history_asof_join, table_history,
    )

    chg = empty_events.select("user_id", "event_id", "event_type")
    hist = table_history(chg, ["user_id"], "event_id", ["event_type"])
    assert hist.count() == 0

    facts = empty_events.select("user_id", "event_id")
    assert history_asof_join(facts, hist, ["user_id"], "event_id").count() == 0

    # non-empty facts vs empty history: left keeps facts NULL-padded
    real = spark.createDataFrame([(1, 10)], "user_id long, event_id long")
    out = history_asof_join(real, hist, ["user_id"], "event_id")
    assert out.count() == 1
    assert out.collect()[0].event_type is None
