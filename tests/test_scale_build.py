"""tools/scale_smoke.py builds each table's replica once, with content
disjoint across replicas, and never reuses a table whose write did not
finish; every tools/ module imports as part of the `tools` package."""

from __future__ import annotations

import filecmp
import importlib
from pathlib import Path

import pytest
from pyspark.sql import DataFrameWriter
from pyspark.sql import functions as F

from kafka_streams_app_spark.sources.catalog import load_table
from tools import scale_smoke

KEYS = {"documents": ["doc_id"], "events": ["event_id", "user_id"],
        "lineitem": ["l_orderkey"], "embeddings": ["vec_id"]}


@pytest.fixture(scope="module")
def base(sf_dir):
    return str(Path(sf_dir).parent / "sf0.001")


@pytest.fixture(scope="module")
def scratch(tmp_path_factory):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(scale_smoke, "SCRATCH", tmp_path_factory.mktemp("scale_smoke"))
        yield scale_smoke.SCRATCH


@pytest.fixture(scope="module")
def x2(spark, base, scratch):
    return scale_smoke.replica(spark, base, 2, [*KEYS, "nation", "orders"])


def _fingerprint(path: Path) -> dict:
    return {p.name: p.stat().st_mtime_ns for p in sorted(path.rglob("*"))}


def test_fact_tables_double_with_disjoint_keys(spark, base, x2):
    for table, keys in KEYS.items():
        one, two = load_table(spark, base, table), load_table(spark, x2, table)
        assert two.count() == 2 * one.count(), table
        for key in keys:
            distinct = two.select(key).distinct().count()
            assert distinct == 2 * one.select(key).distinct().count(), (table, key)


def test_document_replicas_share_no_token(spark, x2):
    docs = load_table(spark, x2, "documents")
    per_token = (
        docs.select((F.col("doc_id") >= scale_smoke.ID_SHIFT).alias("rep"),
                    F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok").agg(F.countDistinct("rep").alias("reps"))
    )
    assert per_token.agg(F.max("reps")).first()[0] == 1


def test_embedding_twins_are_not_parallel(spark, x2):
    emb = load_table(spark, x2, "embeddings")
    a = emb.filter(F.col("vec_id") < 1_000_000).select("vec_id", F.col("embedding").alias("a"))
    b = emb.filter(F.col("vec_id") >= 1_000_000).select(
        (F.col("vec_id") - 1_000_000).alias("vec_id"), F.col("embedding").alias("b"))
    cos = F.aggregate(F.zip_with("a", "b", lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v) / (
        F.sqrt(F.aggregate(F.transform("a", lambda x: x * x), F.lit(0.0), lambda s, v: s + v))
        * F.sqrt(F.aggregate(F.transform("b", lambda x: x * x), F.lit(0.0), lambda s, v: s + v)))
    row = a.join(b, "vec_id").agg(F.count("*").alias("n"), F.max(cos).alias("max_cos")).first()
    assert row["n"] == a.count() > 0
    assert row["max_cos"] < 0.9


def test_dimension_tables_are_copied(base, x2):
    for table in ("nation", "orders"):
        assert filecmp.cmp(f"{base}/{table}.parquet", f"{x2}/{table}.parquet", shallow=False)


def test_second_build_reuses_the_table(spark, base, x2):
    before = _fingerprint(Path(x2) / "documents.parquet")
    assert scale_smoke.build(spark, base, "documents", 2) == x2
    assert _fingerprint(Path(x2) / "documents.parquet") == before


def test_interrupted_build_is_not_reused(spark, base, scratch, monkeypatch):
    def killed(self, path, *args, **kwargs):
        # what a write job killed mid-way leaves behind
        (Path(path) / "_temporary" / "0").mkdir(parents=True)
        raise KeyboardInterrupt

    with monkeypatch.context() as mp:
        mp.setattr(DataFrameWriter, "parquet", killed)
        with pytest.raises(KeyboardInterrupt):
            scale_smoke.build(spark, base, "events", 3)
    out = scale_smoke.replica_dir(base, 3)
    assert not (out / "events.parquet").exists()
    scale_smoke.build(spark, base, "events", 3)
    assert load_table(spark, str(out), "events").count() == 3 * load_table(
        spark, base, "events").count()
    assert [p.name for p in out.iterdir()] == ["events.parquet"]


def test_every_tool_imports_as_a_package_module():
    tools = Path(scale_smoke.__file__).parent
    for path in sorted(tools.glob("*.py")):
        importlib.import_module(f"tools.{path.stem}")
