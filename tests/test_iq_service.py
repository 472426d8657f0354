"""The REST IQ facade (iq_service.py) vs the reference's endpoint
surface (IQueriesService.java:78-176): every route answered over real
HTTP against registered stores, results cross-checked against direct
DataFrame evaluation, plus the error paths; and every route answered
the same from a StoreMirror's Arrow snapshot as through Catalyst."""

from __future__ import annotations

import datetime as dt
import json
import os
import time
import urllib.error
import urllib.request
from decimal import Decimal

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from kafka_streams_app_spark.iq_service import MAX_ROWS, IQService
from kafka_streams_app_spark.operators import iq
from kafka_streams_app_spark.sources.catalog import load_table
from kafka_streams_app_spark.streaming.sinks import StoreMirror, _write_part


@pytest.fixture(scope="module")
def service(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    windowed = (
        ev.groupBy(F.window("ts", "10 seconds").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "event_type",
            F.unix_seconds(F.col("w.start")).alias("window_start_s"),
            "cnt",
        )
    )
    svc = IQService()
    svc.register("counts-store", counts, "user_id", key_parser=int)
    svc.register(
        "windows-store", windowed, "event_type", start_col="window_start_s"
    )
    port = svc.start()
    yield svc, port, counts, windowed
    svc.stop()


def _get_raw(port: int, path: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}") as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, e.read()


def _get(port: int, path: str):
    status, body = _get_raw(port, path)
    return status, json.loads(body)


def test_q1_point_lookup_http(service):
    svc, port, counts, _ = service
    row = counts.orderBy("user_id").first()
    status, body = _get(port, f"/state/keyvalue/counts-store/{row['user_id']}")
    assert status == 200
    assert body == [{"user_id": row["user_id"], "cnt": row["cnt"]}]


def test_q2_full_scan_http(service):
    svc, port, counts, _ = service
    status, body = _get(port, "/state/keyvalues/counts-store/all")
    assert status == 200
    assert len(body) == counts.count()
    assert sum(r["cnt"] for r in body) == 10000


def test_q3_range_scan_http(service):
    svc, port, counts, _ = service
    expect = counts.filter(F.col("user_id").between(10, 20)).count()
    status, body = _get(port, "/state/keyvalues/counts-store/range/10/20")
    assert status == 200
    assert len(body) == expect > 0
    assert all(10 <= r["user_id"] <= 20 for r in body)


def test_q4_window_fetch_http(service):
    svc, port, _, windowed = service
    some = windowed.orderBy("window_start_s").first()
    t0, t1 = some["window_start_s"], some["window_start_s"] + 3600
    expect = windowed.filter(
        (F.col("event_type") == some["event_type"])
        & F.col("window_start_s").between(t0, t1)
    ).count()
    status, body = _get(
        port, f"/state/windowed/windows-store/{some['event_type']}/{t0}/{t1}"
    )
    assert status == 200 and len(body) == expect > 0


def test_q5_fetch_all_http(service):
    svc, port, _, windowed = service
    t0 = windowed.agg(F.min("window_start_s")).collect()[0][0]
    t1 = t0 + 3600
    expect = windowed.filter(F.col("window_start_s").between(t0, t1)).count()
    status, body = _get(port, f"/state/windowed/windows-store/all/{t0}/{t1}")
    assert status == 200 and len(body) == expect > 0


def test_q6_metadata_routing_http(service, spark):
    svc, port, counts, _ = service
    status, body = _get(port, "/metadata/counts-store/42")
    assert status == 200
    assert body["num_partitions"] == 32
    # the advertised owner is HashPartitioning's choice for this key
    expect = spark.createDataFrame([(42,)], ["user_id"]).select(
        F.pmod(F.hash("user_id"), F.lit(32)).alias("p")
    ).collect()[0]["p"]
    assert body["partition_id"] == expect


def test_unknown_store_404(service):
    svc, port, _, _ = service
    status, body = _get(port, "/state/keyvalues/nope/all")
    assert status == 404 and "unknown store" in body["error"]


def test_windowed_on_kv_store_400(service):
    svc, port, _, _ = service
    status, body = _get(port, "/state/windowed/counts-store/42/0/1")
    assert status == 400 and "not windowed" in body["error"]


def test_bad_route_404(service):
    svc, port, _, _ = service
    status, _ = _get(port, "/state/garbage")
    assert status == 404


# --- multi-instance fan-out (IQueriesService.java:84-87,104-109) ------------


def test_portable_bucket_py_matches_spark(spark):
    """The instance-side Python routing hash must equal the Spark
    column twin — otherwise two facades would disagree on ownership."""
    from kafka_streams_app_spark.operators.pipeline import (
        portable_bucket, portable_bucket_py,
    )

    df = spark.createDataFrame(
        [(i,) for i in range(50)] ,"k long"
    ).select("k", portable_bucket(F.col("k"), 8).alias("p"))
    for r in df.collect():
        assert portable_bucket_py(r["k"], 8) == r["p"]


@pytest.fixture(scope="module")
def two_instances(spark, sf_dir):
    """Two facades over DISJOINT partition views of the same store
    (instance A hosts partitions 0-3, B hosts 4-7), each knowing the
    other's base URL — the reference's StreamsMetadata host table."""
    from kafka_streams_app_spark.operators.pipeline import portable_bucket

    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    part = portable_bucket(F.col("user_id"), 8)
    view_a = counts.filter(part < 4)
    view_b = counts.filter(part >= 4)

    svc_a, svc_b = IQService(), IQService()
    svc_a.register("counts", view_a, "user_id", key_parser=int, num_partitions=8)
    svc_b.register("counts", view_b, "user_id", key_parser=int, num_partitions=8)
    port_a, port_b = svc_a.start(), svc_b.start()
    peers_a = {p: f"http://127.0.0.1:{port_b}" for p in range(4, 8)}
    peers_b = {p: f"http://127.0.0.1:{port_a}" for p in range(0, 4)}
    svc_a.set_topology(set(range(0, 4)), peers_a)
    svc_b.set_topology(set(range(4, 8)), peers_b)
    yield port_a, port_b, counts
    svc_a.stop()
    svc_b.stop()


def test_cross_instance_point_lookup(two_instances):
    """A lookup sent to the NON-owning instance is proxied to the owner
    over HTTP and returns the same row either way (the remote hop of
    IQueriesService.java:104-109). Covers both directions."""
    from kafka_streams_app_spark.operators.pipeline import portable_bucket_py

    port_a, port_b, counts = two_instances
    rows = counts.orderBy("user_id").limit(40).collect()
    seen_remote_a = seen_remote_b = 0
    for row in rows[:20]:
        key, expect = row["user_id"], [dict(user_id=row["user_id"], cnt=row["cnt"])]
        owner = portable_bucket_py(key, 8)
        sa, ba = _get(port_a, f"/state/keyvalue/counts/{key}")
        sb, bb = _get(port_b, f"/state/keyvalue/counts/{key}")
        assert sa == sb == 200
        assert ba == bb == expect
        if owner >= 4:
            seen_remote_a += 1    # A had to hop to B
        else:
            seen_remote_b += 1    # B had to hop to A
    assert seen_remote_a > 0 and seen_remote_b > 0


def test_metadata_reports_owner_host(two_instances):
    from kafka_streams_app_spark.operators.pipeline import portable_bucket_py

    port_a, port_b, counts = two_instances
    key = counts.orderBy("user_id").first()["user_id"]
    owner = portable_bucket_py(key, 8)
    status, body = _get(port_a, f"/metadata/counts/{key}")
    assert status == 200 and body["owner_partition"] == owner
    if owner < 4:
        assert body["host"] == "local"
    else:
        assert body["host"] == f"http://127.0.0.1:{port_b}"


def test_unhosted_partition_503(spark, sf_dir):
    """A topology hole (no peer hosts the key's partition) surfaces as
    503, not a silent empty result."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("cnt"))
    svc = IQService()
    svc.register("counts", counts, "user_id", key_parser=int, num_partitions=8)
    port = svc.start()
    try:
        svc.set_topology({0}, {})  # hosts only partition 0, knows no peers
        from kafka_streams_app_spark.operators.pipeline import portable_bucket_py

        key = next(
            r["user_id"] for r in counts.limit(50).collect()
            if portable_bucket_py(r["user_id"], 8) != 0
        )
        status, body = _get(port, f"/state/keyvalue/counts/{key}")
        assert status == 503 and "no instance hosts" in body["error"]
    finally:
        svc.stop()


# --- a mirrored snapshot answered from Arrow vs through Catalyst -----------


def _typed_snapshot() -> pa.Table:
    """30 keys (10, 20, ..., 300) x 3 windows of every value type a store
    can hold, with nulls, NaN, -0.0 and a timestamp in New York's
    repeated hour (2024-11-03 01:30, 05:30 and 06:30 UTC)."""
    n = 90
    utc = dt.datetime(2024, 11, 3, 5, 30, tzinfo=dt.timezone.utc)

    def nulled(values, every=7):
        return [None if i % every == 3 else v for i, v in enumerate(values)]

    return pa.table({
        "k": pa.array([10 * (i // 3 + 1) for i in range(n)], pa.int64()),
        "window_start_s": pa.array([10 * (i % 3) for i in range(n)], pa.int64()),
        "i": pa.array(nulled([i - 45 for i in range(n)]), pa.int32()),
        "d": pa.array(nulled([[float("nan"), -0.0, 1.5, 1e300][i % 4] for i in range(n)]),
                      pa.float64()),
        "s": pa.array(nulled([f"name-{i // 3:02d}" for i in range(n)], every=11)),
        "b": pa.array(nulled([i % 2 == 0 for i in range(n)]), pa.bool_()),
        "ts": pa.array(nulled([utc + dt.timedelta(minutes=30 * (i % 5)) for i in range(n)]),
                       pa.timestamp("us", tz="UTC")),
        "ts_ntz": pa.array(nulled([dt.datetime(2024, 3, 10, 2, 30, 0, i) for i in range(n)]),
                           pa.timestamp("us")),
        "day": pa.array(nulled([dt.date(2024, 1, 1) + dt.timedelta(days=i) for i in range(n)]),
                        pa.date32()),
        "dec": pa.array(nulled([Decimal(i * 125) / 1000 for i in range(n)]),
                        pa.decimal128(12, 3)),
        "arr": pa.array(nulled([[i, None] if i % 2 else [i] for i in range(n)]),
                        pa.list_(pa.int64())),
        "nothing": pa.array([None] * n, pa.string()),
    })


@pytest.fixture(scope="module")
def twin_stores(spark, tmp_path_factory):
    """The same snapshot registered twice: as a `StoreMirror` view
    (`m-*`, answered from Arrow) and as `spark.createDataFrame(snapshot,
    schema)` (`c-*`, answered through Catalyst). `*-big` holds
    MAX_ROWS + 1 rows."""
    svc = IQService()
    for name, table in (("typed", _typed_snapshot()),
                        ("big", pa.table({"k": pa.array(range(MAX_ROWS + 1), pa.int64())}))):
        mirror = StoreMirror(spark, name, ["k"] if name == "big" else ["k", "window_start_s"],
                             path=str(tmp_path_factory.mktemp(name) / "changelog"))
        _write_part(mirror.path, table, 0)
        view = mirror.view()
        if name == "typed":
            assert view.schema.simpleString() == (
                "struct<k:bigint,window_start_s:bigint,i:int,d:double,s:string,b:boolean,"
                "ts:timestamp,ts_ntz:timestamp_ntz,day:date,dec:decimal(12,3),"
                "arr:array<bigint>,nothing:string>")
        snapshot = iq.snapshot_of(view, ["k"])
        assert snapshot is not None
        plain = spark.createDataFrame(snapshot, view.schema)
        assert iq.snapshot_of(plain, ["k"]) is None
        for tag, df in (("m", view), ("c", plain)):
            svc.register(f"{tag}-{name}", df, "k", key_parser=int)
            if name == "typed":
                svc.register(f"{tag}-win", df, "k", key_parser=int,
                             start_col="window_start_s")
                svc.register(f"{tag}-names", df, "s")
    port = svc.start()
    yield svc, port
    svc.stop()


TWIN_PATHS = [
    # Q1 hit, miss, a key past every row
    "/state/keyvalue/{}-typed/20", "/state/keyvalue/{}-typed/25",
    "/state/keyvalue/{}-typed/99999999999",
    "/state/keyvalue/{}-names/name-04", "/state/keyvalue/{}-names/nobody",
    # Q2
    "/state/keyvalues/{}-typed/all",
    # Q3 hit, empty range, reversed bounds, string keys
    "/state/keyvalues/{}-typed/range/20/70", "/state/keyvalues/{}-typed/range/21/29",
    "/state/keyvalues/{}-typed/range/70/20", "/state/keyvalues/{}-names/range/name-02/name-05",
    # Q4 hit, missing key, empty time range
    "/state/windowed/{}-win/30/0/10", "/state/windowed/{}-win/35/0/10",
    "/state/windowed/{}-win/30/1000/2000",
    # Q5 hit, empty time range
    "/state/windowed/{}-win/all/10/20", "/state/windowed/{}-win/all/1000/2000",
    # 400: a key that is not an int, windowed on a kv store, no {to}
    "/state/keyvalue/{}-typed/abc", "/state/windowed/{}-typed/20/0/10",
    "/state/windowed/{}-win/all/0",
    # MAX_ROWS rows, then MAX_ROWS + 1 rows (413)
    f"/state/keyvalues/{{}}-big/range/0/{MAX_ROWS - 1}", "/state/keyvalues/{}-big/all",
]


@pytest.mark.parametrize("tz", ["UTC", "America/New_York"])
def test_mirror_snapshot_answers_as_catalyst(twin_stores, spark, monkeypatch, tz):
    """Every route answers a StoreMirror view from its Arrow snapshot
    with the same status and the same JSON bytes, in order, as Catalyst
    answers a frame of the same snapshot; doing so calls no DataFrame
    method and starts no Spark job."""
    from tests.test_sinks_iq import _jobs_started

    svc, port = twin_stores
    host_tz = os.environ.get("TZ")
    os.environ["TZ"] = tz  # both paths render a timestamp in local time
    time.tzset()
    try:
        want = [_get_raw(port, p.format("c")) for p in TWIN_PATHS]
        frame = type(spark.range(1))

        def no_spark(*args, **kwargs):
            raise AssertionError("a DataFrame method ran for a mirrored store")

        with monkeypatch.context() as m:
            for method in ("filter", "limit", "collect", "toArrow"):
                m.setattr(frame, method, no_spark)
            got = [_get_raw(port, p.format("m")) for p in TWIN_PATHS]
            jobs = _jobs_started(spark, f"iq-arrow-{tz}",
                                 lambda: [svc.query(p.format("m")) for p in TWIN_PATHS])
    finally:
        if host_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = host_tz
        time.tzset()
    for path, (status, body), g in zip(TWIN_PATHS, want, got):
        assert g == (status, body.replace(b"'c-", b"'m-")), path  # errors name the store
    assert jobs == 0
    status = dict(zip(TWIN_PATHS, (s for s, _ in got)))
    assert [p for p in TWIN_PATHS if status[p] == 400] == TWIN_PATHS[-5:-2]
    assert status["/state/keyvalues/{}-big/all"] == 413
    rows = json.loads(got[TWIN_PATHS.index(f"/state/keyvalues/{{}}-big/range/0/{MAX_ROWS - 1}")][1])
    assert len(rows) == MAX_ROWS
    everything = got[TWIN_PATHS.index("/state/keyvalues/{}-typed/all")][1]
    first = "2024-11-03 05:30:00" if tz == "UTC" else "2024-11-03 01:30:00"
    assert b"NaN" in everything and b"-0.0" in everything and first.encode() in everything
