"""Invariant pins for the composed training-data pipeline entry
(__spark_entry__.py:pipeline_end_to_end): every stage's guarantee must
survive the composition."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def result(spark):
    import __spark_entry__ as e

    out = e.queries()["pipeline_end_to_end"](spark, SF)
    rows = out.collect()
    assert rows
    return spark, rows


def test_no_duplicate_text_survives(result):
    spark, rows = result
    from kafka_streams_app_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    kept = {r["doc_id"] for r in rows}
    texts = [
        r["text"]
        for r in docs.filter(F.col("doc_id").isin(list(kept)))
        .select("text").collect()
    ]
    assert len(texts) == len(set(texts))


def test_no_contaminated_doc_survives(result):
    spark, rows = result
    from kafka_streams_app_spark.sources.catalog import load_table

    docs = load_table(spark, SF, "documents")
    spans = [
        r["s"]
        for r in docs.filter(
            (F.col("doc_id") % 20 == 0) & (F.length("text") >= 60)
        ).select(F.substring("text", 11, 40).alias("s")).collect()
    ]
    kept = {r["doc_id"] for r in rows}
    bad = docs.filter(F.col("doc_id").isin(list(kept))).filter(
        " OR ".join("contains(text, '" + s.replace("'", "''") + "')" for s in spans)
    )
    assert bad.count() == 0


def test_epochs_and_packing_are_valid(result):
    _, rows = result
    from collections import defaultdict

    # epoch bounds: src0 <= 2, src1 <= 0, src2 <= 1, src4 <= 3
    assert all(0 <= r["epoch"] <= 3 for r in rows)
    assert all(r["n_tokens"] >= 5 for r in rows)
    # packing: per lang, replaying rows in (doc_id*8+epoch) order must
    # reproduce contiguous-fill bin assignment
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r["lang"]].append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["doc_id"] * 8 + r["epoch"])
        start = 0
        for r in rs:
            assert r["bin_id"] == start // 2048, (lang, r)
            assert r["bin_offset"] == start % 2048, (lang, r)
            start += r["n_tokens"]
