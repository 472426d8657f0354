"""Plan-shape pin for the r15 winnowing CSE guard.

winnowing_of_hashes slices its input k + window - 1 times; handed the
raw token_hashes(tokens(text)) expression, Catalyst's CollapseProject
re-inlines the tokenize + per-token-md5 transform into every slice
reference (measured: text_winnowing 13.9 s -> ~1 s at sf0.1 once
guarded). winnowing_fingerprints binds the token-hash array as a
lambda variable, which the optimizer cannot re-inline — the optimized
plan then contains exactly ONE md5( and ONE split( occurrence, versus
~45 for the unguarded chain on the same (k=5, window=4) settings.

This test pins the guarded plan shape so a refactor that quietly
reverts to the raw chain (or a Catalyst change that starts inlining
through the lambda binding) fails fast, and pins value equality
between the guarded wrapper and the raw chain.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from kafka_streams_app_spark.functions.text import (
    token_hashes,
    tokens,
    winnowing_fingerprints,
    winnowing_of_hashes,
)


def _optimized_plan_str(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_winnowing_fingerprints_plan_hashes_tokens_once(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j k l m n o p")], "id long, text string"
    )
    guarded = df.select(
        winnowing_fingerprints(F.col("text"), hash_fn="md5").alias("fps")
    )
    plan = _optimized_plan_str(guarded)
    # one tokenize, one per-token hash transform — the CSE guard's whole
    # point; the unguarded chain inlines ~(k + window - 1) x the window
    # fold = ~45 copies of each
    assert plan.count("split(") <= 2, plan
    assert plan.count("md5(") <= 2, plan


def test_winnowing_fingerprints_values_match_raw_chain(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog again and again"),
        (2, "a b"),                       # fewer than k tokens -> empty
        (3, None),                        # null text -> empty via filter
        (4, "x " * 40),                   # repeated token, duplicate grams
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    guarded = df.select(
        "id",
        winnowing_fingerprints(F.col("text"), hash_fn="md5").alias("fps"),
    )
    raw = df.select(
        "id",
        winnowing_of_hashes(
            token_hashes(tokens(F.col("text")), hash_fn="md5")
        ).alias("fps"),
    )
    g = {r["id"]: r["fps"] for r in guarded.collect()}
    r = {r["id"]: r["fps"] for r in raw.collect()}
    assert g == r


def test_winnowing_column_cache_evicts_least_recently_used(spark, monkeypatch):
    from collections import OrderedDict

    from kafka_streams_app_spark.functions import text

    monkeypatch.setattr(text, "_winnowing_col_cache", OrderedDict())
    monkeypatch.setattr(text, "_WINNOWING_COL_CACHE_MAX", 2)
    a = winnowing_fingerprints(F.col("a"))
    b = winnowing_fingerprints(F.col("b"))
    assert winnowing_fingerprints(F.col("a")) is a  # hit; a is now newest
    winnowing_fingerprints(F.col("c"))  # over the cap: evicts b, not a
    assert len(text._winnowing_col_cache) == 2
    assert winnowing_fingerprints(F.col("a")) is a
    assert winnowing_fingerprints(F.col("b")) is not b
