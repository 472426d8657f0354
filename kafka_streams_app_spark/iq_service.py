"""REST facade over interactive queries — the engine's analogue of the
reference's Jetty IQ service
(/root/reference/src/main/scala/com/ayoubom/kafka/utils/IQService.scala:8-16,
 /root/reference/src/main/java/com/ayoubom/kafka/utils/IQueriesService.java:78-176).

Same URL surface:

    GET /state/keyvalue/{store}/{key}             Q1 point lookup
    GET /state/keyvalues/{store}/all              Q2 full scan
    GET /state/keyvalues/{store}/range/{from}/{to}  Q3 key-range scan
    GET /state/windowed/{store}/{key}/{from}/{to}   Q4 window fetch
    GET /state/windowed/{store}/all/{from}/{to}     Q5 fetchAll(t1,t2)
    GET /metadata/{store}/{key}                   Q6 analogue: partition owner

A "store" is any registered DataFrame — a batch snapshot or a live
streaming aggregation mirrored by `streaming.sinks.StoreMirror` — so the
service queries streaming state exactly like the reference queries its
RocksDB stores. Filters go through operators/iq.py, and `register()`
picks their form once, from what the store is:

- a `StoreMirror.view()` carries the immutable Arrow snapshot it was
  built from (`iq.snapshot_of`); when its key (and window-start) column
  is an integer or string column, Q1-Q5 filter that snapshot with
  `pyarrow.compute` masks in the driver: no py4j call, no Catalyst plan
  and no Spark job per request, like the reference's direct `get`/`fetch`
  on a local store;
- any other frame (a parquet or lake table, a frame derived from a view,
  a view keyed by another type) is filtered by Catalyst, so predicate
  pushdown and partition pruning reach the store scan; only the (small,
  human-facing) result set is collected at the HTTP edge, never the
  store.

Arrow rows become `Row`s through PySpark's own conversion
(`ArrowTableToRowsConversion`), which yields the Python values
`collect()` yields, and both forms share the JSON formatting and the
`MAX_ROWS` guard, so a snapshot answers with the same bytes as its
Catalyst twin (pinned by tests/test_iq_service.py).

Multi-instance routing (IQueriesService.java:84-87,104-109,
MetadataService.java:30-68): a single Spark driver sees every partition,
so one instance is the normal deployment — but the remote-hop path
exists and is tested. `set_topology(owned, peers)` declares which
partitions THIS facade hosts and which base URL hosts each other
partition; a point lookup for a key routed (portable md5 bucket) to a
partition this instance does not own is proxied over HTTP to the owner,
exactly the reference's remote fetch. /metadata reports the owning
host when a topology is set.

Other deliberate deltas, documented in SURVEY §2.6:
- stdlib ThreadingHTTPServer instead of Jetty: the service is a thin
  facade; concurrency and scale live in the engine, not the web layer.
  A live store mirrored by StoreMirror is an in-driver snapshot, so a
  request runs no Spark job and makes no JVM call; that holds while the
  store's keys fit in the driver. At 100 TB the registered store would
  be a compacted keyed parquet/Delta table, and a point lookup a pruned
  single-partition scan.
"""

from __future__ import annotations

import json
import threading
from collections.abc import Callable
from dataclasses import dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pyarrow as pa
from pyspark.errors import IllegalArgumentException
from pyspark.sql import DataFrame
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.pandas.types import from_arrow_schema

from kafka_streams_app_spark.operators import iq
from kafka_streams_app_spark.operators.pipeline import portable_bucket_py

MAX_ROWS = 10_000  # edge-collect guard: an IQ response is human-facing


def _message(e: Exception) -> str:
    """The first line of an error: a Spark error's condition and text,
    without the call site and stack that follow it."""
    return str(e).partition("\n")[0]


@dataclass
class _Store:
    df: DataFrame
    key_col: str
    key_parser: Callable[[str], object]
    start_col: str | None = None  # set for windowed stores (epoch-second col)
    num_partitions: int = 32
    snapshot: pa.Table | None = None  # set when answered from an Arrow snapshot

    @property
    def data(self) -> DataFrame | pa.Table:
        return self.df if self.snapshot is None else self.snapshot


class IQService:
    """Registry of named stores + an HTTP server over them."""

    def __init__(self) -> None:
        self._stores: dict[str, _Store] = {}
        self._httpd: ThreadingHTTPServer | None = None
        self._thread: threading.Thread | None = None
        # multi-instance topology: None = single instance hosting all
        # partitions (the normal Spark deployment)
        self._owned: set[int] | None = None
        self._peers: dict[int, str] = {}

    def set_topology(self, owned: set[int], peers: dict[int, str]) -> None:
        """Declare the partition ownership map: this instance hosts
        `owned`; `peers` maps every other partition id to the base URL
        (e.g. "http://127.0.0.1:7071") of its owning instance — the
        analogue of the reference's StreamsMetadata host table
        (MetadataService.java:30-53)."""
        self._owned = set(owned)
        self._peers = dict(peers)

    def register(
        self,
        name: str,
        df: DataFrame,
        key_col: str,
        key_parser: Callable[[str], object] = str,
        start_col: str | None = None,
        num_partitions: int = 32,
    ) -> None:
        """Register a store, like Materialized.as(name) names one in the
        reference (WordCount.java:56). key_parser plays the serde's
        role: the URL path segment is text, the store key is typed.
        A `StoreMirror.view()` keyed by an integer or string column is
        answered from its Arrow snapshot, any other frame through
        Catalyst (module docstring)."""
        snapshot = iq.snapshot_of(df, [key_col] + ([start_col] if start_col else []))
        self._stores[name] = _Store(df, key_col, key_parser, start_col, num_partitions,
                                    snapshot)

    # -- query dispatch (exercised directly by tests, no HTTP needed) -----

    def query(self, path: str) -> tuple[int, object]:
        """Resolve a GET path to (http_status, json_payload): a malformed
        request (ValueError, or Spark's IllegalArgumentException such as a
        non-numeric key for a long column) is 400, any other failure 500."""
        parts = [p for p in path.split("/") if p]
        try:
            if len(parts) == 4 and parts[:2] == ["state", "keyvalue"]:
                remote = self._maybe_proxy(parts[2], parts[3], path)
                if remote is not None:
                    return remote
                return self._rows(self._q1(parts[2], parts[3]))
            if len(parts) == 4 and parts[:2] == ["state", "keyvalues"] and parts[3] == "all":
                return self._rows(self._q2(parts[2]))
            if len(parts) == 6 and parts[:2] == ["state", "keyvalues"] and parts[3] == "range":
                return self._rows(self._q3(parts[2], parts[4], parts[5]))
            if len(parts) == 5 and parts[:2] == ["state", "windowed"]:
                return self._rows(self._q45(parts[2], parts[3], parts[4], None))
            if len(parts) == 6 and parts[:2] == ["state", "windowed"]:
                return self._rows(self._q45(parts[2], parts[3], parts[4], parts[5]))
            if len(parts) == 3 and parts[0] == "metadata":
                return 200, self._metadata(parts[1], parts[2])
        except KeyError as e:
            return 404, {"error": f"unknown store {e.args[0]!r}"}
        except (ValueError, IllegalArgumentException) as e:
            return 400, {"error": _message(e)}
        except Exception as e:  # noqa: BLE001 - the HTTP client gets a status
            return 500, {"error": _message(e)}
        return 404, {"error": f"no route for {path!r}"}

    def _store(self, name: str) -> _Store:
        if name not in self._stores:
            raise KeyError(name)
        return self._stores[name]

    def _owner_partition(self, s: _Store, key: str) -> int:
        return portable_bucket_py(s.key_parser(key), s.num_partitions)

    def _maybe_proxy(self, name: str, key: str, path: str):
        """The reference's remote hop (IQueriesService.java:104-109):
        when a topology is set and the key's partition belongs to a
        peer, forward the SAME GET path to the owning instance and
        relay its response. Returns None when the lookup is local."""
        if self._owned is None:
            return None
        owner = self._owner_partition(self._store(name), key)
        if owner in self._owned:
            return None
        base = self._peers.get(owner)
        if base is None:
            return 503, {"error": f"no instance hosts partition {owner}"}
        import urllib.request

        try:
            with urllib.request.urlopen(base + path, timeout=10) as resp:
                return resp.status, json.loads(resp.read())
        except Exception as e:  # peer down: surface, don't guess
            return 502, {"error": f"owner {base} unreachable: {e}"}

    def _q1(self, name: str, key: str) -> DataFrame | pa.Table:
        s = self._store(name)
        return iq.point_lookup(s.data, s.key_col, s.key_parser(key))

    def _q2(self, name: str) -> DataFrame | pa.Table:
        return iq.all_entries(self._store(name).data)

    def _q3(self, name: str, lo: str, hi: str) -> DataFrame | pa.Table:
        s = self._store(name)
        return iq.range_scan(s.data, s.key_col, s.key_parser(lo), s.key_parser(hi))

    def _q45(self, name: str, key: str, t_from: str,
             t_to: str | None) -> DataFrame | pa.Table:
        s = self._store(name)
        if s.start_col is None:
            raise ValueError(f"store {name!r} is not windowed")
        if t_to is None:  # /windowed/{store}/all/{from} missing {to}
            raise ValueError("windowed fetch needs /{from}/{to}")
        if key == "all":
            return iq.window_fetch_all(s.data, s.start_col, int(t_from), int(t_to))
        return iq.window_fetch(
            s.data, s.key_col, s.key_parser(key), s.start_col, int(t_from), int(t_to)
        )

    def _metadata(self, name: str, key: str) -> dict:
        s = self._store(name)
        row = (
            iq.key_routing(
                s.df.sparkSession.createDataFrame(
                    [(s.key_parser(key),)], [s.key_col]
                ),
                [s.key_col],
                s.num_partitions,
            )
            .collect()[0]
        )
        out = {
            "store": name,
            "key": row[s.key_col],
            "partition_id": row["partition_id"],
            "num_partitions": s.num_partitions,
        }
        if self._owned is not None:
            owner = self._owner_partition(s, key)
            out["owner_partition"] = owner
            out["host"] = "local" if owner in self._owned else self._peers.get(owner)
        return out

    @staticmethod
    def _rows(result: DataFrame | pa.Table) -> tuple[int, object]:
        if isinstance(result, pa.Table):
            head = result.slice(0, MAX_ROWS + 1)
            # a zoned Arrow timestamp is TIMESTAMP, a zoneless one TIMESTAMP_NTZ
            rows = ArrowTableToRowsConversion.convert(
                head, from_arrow_schema(head.schema, prefer_timestamp_ntz=True))
        else:
            rows = result.limit(MAX_ROWS + 1).collect()
        if len(rows) > MAX_ROWS:
            return 413, {"error": f"result exceeds {MAX_ROWS} rows; narrow the query"}
        return 200, [
            {k: (str(v) if not isinstance(v, (int, float, str, bool, type(None))) else v)
             for k, v in r.asDict(recursive=True).items()}
            for r in rows
        ]

    # -- HTTP layer -------------------------------------------------------

    def start(self, port: int = 0, host: str = "127.0.0.1") -> int:
        """Start serving (IQService.scala:11-16 starts Jetty on :7070);
        port=0 picks an ephemeral port. Returns the bound port."""
        service = self

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self) -> None:  # noqa: N802 (stdlib API name)
                status, payload = service.query(self.path)
                body = json.dumps(payload).encode()
                self.send_response(status)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args) -> None:  # silence per-request noise
                pass

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self._httpd.server_address[1]

    def stop(self) -> None:
        if self._httpd is not None:
            self._httpd.shutdown()
            self._httpd.server_close()
            self._httpd = None
