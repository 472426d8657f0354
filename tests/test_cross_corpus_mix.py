"""Unit pins for the two r9-snapshot operators the r9 verdict flagged as
unverified: `dedup_cross_corpus` (bloom-pruned exact cross-corpus dedup)
and `mix_sources` (deterministic weighted source mixing). Both get
exactness checks against independent twins — a naive left_anti join for
the bloom path, and a pure-Python per-row replay (portable_bucket_py)
for the mixture — plus the edge cases the r9 ADVICE called out (null /
empty content, the max_bits cap, w=0 drop, fractional weights,
epoch-salt independence, determinism)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark.operators.dedup import dedup_cross_corpus
from kafka_streams_app_spark.operators.pipeline import (
    SAMPLE_BUCKETS,
    mix_sources,
    portable_bucket_py,
)


def _naive_cross_corpus(spark, new_rows, ref_rows):
    """Independent twin: exact left_anti on content equality (null
    content never equals anything, so null-content new rows survive)."""
    new_df = spark.createDataFrame(new_rows, "id long, content string")
    ref_df = spark.createDataFrame(ref_rows, "id long, content string")
    return sorted(
        map(
            tuple,
            new_df.join(
                ref_df.select("content").distinct(),
                new_df["content"].eqNullSafe(ref_df["content"])
                & new_df["content"].isNotNull(),
                "left_anti",
            ).collect(),
        )
    )


class TestDedupCrossCorpus:
    NEW = [
        (1, "alpha bravo"), (2, "charlie delta"), (3, "echo foxtrot"),
        (4, None), (5, ""), (6, "golf hotel"), (7, "alpha bravo"),
    ]
    REF = [
        (100, "alpha bravo"), (101, "india juliet"), (102, ""),
        (103, None), (104, "kilo lima"),
    ]

    def _run(self, spark, **kw):
        new_df = spark.createDataFrame(self.NEW, "id long, content string")
        ref_df = spark.createDataFrame(self.REF, "id long, content string")
        return sorted(
            map(tuple, dedup_cross_corpus(new_df, ref_df, "content", **kw).collect())
        )

    def test_matches_naive_anti_join_with_nulls_and_empties(self, spark):
        got = self._run(spark)
        want = _naive_cross_corpus(spark, self.NEW, self.REF)
        # dups "alpha bravo" (ids 1, 7) and "" (id 5) dropped; null
        # content (id 4) kept
        assert got == want
        assert got == [(2, "charlie delta"), (3, "echo foxtrot"),
                       (4, None), (6, "golf hotel")]

    def test_max_bits_cap_degrades_gracefully_never_wrongly(self, spark):
        # the floor (m = 2^13) is above this cap, so the filter is as
        # undersized as it can get — more false positives reach the
        # exact join, the answer must not change
        got = self._run(spark, bits_per_key=1, max_bits=1 << 13)
        assert got == _naive_cross_corpus(spark, self.NEW, self.REF)

    def test_empty_and_all_null_ref_returns_new_unchanged(self, spark):
        new_df = spark.createDataFrame(self.NEW, "id long, content string")
        empty_ref = spark.createDataFrame([], "id long, content string")
        assert sorted(
            map(tuple, dedup_cross_corpus(new_df, empty_ref, "content").collect())
        ) == sorted(map(tuple, self.NEW))
        null_ref = spark.createDataFrame(
            [(1, None), (2, None)], "id long, content string"
        )
        assert sorted(
            map(tuple, dedup_cross_corpus(new_df, null_ref, "content").collect())
        ) == sorted(map(tuple, self.NEW))

    def test_bloom_prunes_most_non_dups_fp_rate_sane(self, spark):
        # 500 disjoint ref rows; at the 2^13-bit floor with k=7 probes
        # the expected FP rate is ~0.2% — assert the loose bound that
        # the exact join sees only a small minority of the new side,
        # i.e. the bloom actually prunes (the 100 TB shuffle-savings
        # claim), while the result stays exact
        new_rows = [(i, f"new document {i}") for i in range(500)]
        ref_rows = [(i, f"ref document {i}") for i in range(500)]
        new_df = spark.createDataFrame(new_rows, "id long, content string")
        ref_df = spark.createDataFrame(ref_rows, "id long, content string")
        out = dedup_cross_corpus(new_df, ref_df, "content")
        assert sorted(map(tuple, out.collect())) == sorted(new_rows)

    def test_bit63_words_roundtrip(self, spark):
        # enough ref keys that some bloom word has bit 63 set
        # (P(no word anywhere has bit 63) < 1e-30 at this fill); the
        # r9 ADVICE bug made np.uint64(negative long) raise on
        # numpy>=2 and warn on 1.26 — exactness is the regression pin
        import warnings

        new_rows = [(i, f"doc {i}") for i in range(300)]
        ref_rows = [(i, f"doc {i}") for i in range(0, 300, 2)]
        new_df = spark.createDataFrame(new_rows, "id long, content string")
        ref_df = spark.createDataFrame(ref_rows, "id long, content string")
        with warnings.catch_warnings():
            warnings.simplefilter("error", DeprecationWarning)
            out = sorted(
                map(tuple, dedup_cross_corpus(new_df, ref_df, "content").collect())
            )
        assert out == [(i, f"doc {i}") for i in range(1, 300, 2)]


class TestMixSources:
    ROWS = [(i, f"src{i % 4}") for i in range(200)]

    def _expected(self, weights, seed):
        """Pure-Python replay of the documented per-row semantics."""
        out = []
        for doc_id, src in self.ROWS:
            w = weights.get(src, 0.0)
            full = int(w)
            frac = int(round((w - full) * SAMPLE_BUCKETS))
            for epoch in range(full + 1):
                if epoch < full:
                    out.append((doc_id, src, epoch))
                elif portable_bucket_py(
                    f"{doc_id}:{epoch}:{seed}", SAMPLE_BUCKETS
                ) < frac:
                    out.append((doc_id, src, epoch))
        return sorted(out)

    def _run(self, spark, weights, seed=0):
        df = spark.createDataFrame(self.ROWS, "doc_id long, source string")
        return sorted(
            map(
                tuple,
                mix_sources(df, "source", weights, "doc_id", seed=seed)
                .select("doc_id", "source", "epoch")
                .collect(),
            )
        )

    def test_integer_fractional_zero_and_unlisted_weights(self, spark):
        weights = {"src0": 2.0, "src1": 0.5, "src2": 1.25, "src3": 0.0}
        got = self._run(spark, weights, seed=7)
        assert got == self._expected(weights, 7)
        by_src = {}
        for _, src, epoch in got:
            by_src.setdefault(src, []).append(epoch)
        # integer weight: exactly w replicas of every row
        assert sorted(set(by_src["src0"])) == [0, 1]
        assert len(by_src["src0"]) == 100  # 50 rows x 2
        # w=0: dropped entirely
        assert "src3" not in by_src
        # fractional-only: a strict, nonempty subset at epoch 0
        assert set(by_src["src1"]) == {0} and 0 < len(by_src["src1"]) < 50
        # 1.25: all 50 rows at epoch 0, a nonempty strict subset at 1
        assert by_src["src2"].count(0) == 50
        assert 0 < by_src["src2"].count(1) < 50

    def test_unlisted_sources_drop(self, spark):
        got = self._run(spark, {"src0": 1.0})
        assert {src for _, src, _ in got} == {"src0"}
        assert len(got) == 50

    def test_deterministic_across_runs_and_seed_sensitivity(self, spark):
        w = {"src0": 0.4, "src1": 1.5}
        a = self._run(spark, w, seed=1)
        assert a == self._run(spark, w, seed=1)
        assert a == self._expected(w, 1)
        assert a != self._run(spark, w, seed=2)

    def test_epoch_salt_independence(self, spark):
        # the fractional replica of w=1.3 (epoch 1) must be drawn
        # independently of the w=0.3 keep set (epoch 0): same rate,
        # different epoch salt -> different member sets
        a = {r[0] for r in self._run(spark, {"src0": 0.3}) if r[2] == 0}
        b = {r[0] for r in self._run(spark, {"src0": 1.3}) if r[2] == 1}
        assert len(a) > 0 and len(b) > 0
        assert a != b

    def test_negative_weight_raises(self, spark):
        df = spark.createDataFrame(self.ROWS, "doc_id long, source string")
        with pytest.raises(ValueError, match="negative weight"):
            mix_sources(df, "source", {"src0": -0.5}, "doc_id")

    def test_epoch_column_added_input_columns_preserved(self, spark):
        df = spark.createDataFrame(self.ROWS, "doc_id long, source string")
        out = mix_sources(df, "source", {"src0": 1.0}, "doc_id")
        assert out.columns == ["doc_id", "source", "epoch"]


# --- dedup_minhash_lsh_cross (fuzzy decontamination, r11 continuation) ------

def test_minhash_cross_pairs_only_across_corpora(spark):
    """Near-dup and exact pairs appear ONLY between the two corpora:
    the exact dup WITHIN `new` (docs 1/2) must not pair; the exact
    ref copy pairs at jac 1.0; the one-token edit pairs at 9/11; the
    unrelated docs pair with nothing."""
    from kafka_streams_app_spark.operators.dedup import dedup_minhash_lsh_cross

    base = "the quick brown fox jumps over the lazy dog again and again"
    near = "the quick brown fox jumps over the lazy dog again and more"
    docs = spark.createDataFrame(
        [(1, base), (2, base), (3, "completely different words entirely here"),
         (50, base), (51, near), (52, "nothing shared with anything at all")],
        "doc_id long, text string",
    )
    new, ref = F.col("doc_id") < 50, F.col("doc_id") >= 50
    out = {
        (r["doc_a"], r["doc_b"]): r["jac"]
        for r in dedup_minhash_lsh_cross(
            docs, new, ref, "text", "doc_id").collect()
    }
    assert set(out) == {(1, 50), (2, 50), (1, 51), (2, 51)}
    assert out[(1, 50)] == 1.0 and out[(2, 50)] == 1.0
    assert abs(out[(1, 51)] - 9 / 11) < 1e-12
    assert abs(out[(2, 51)] - 9 / 11) < 1e-12
