"""Interactive queries over materialized state (SURVEY.md §2.6 Q1-Q5).

The reference exposes RocksDB state stores over REST
(/root/reference/src/main/scala/com/ayoubom/kafka/utils/IQService.scala:11-16,
 /root/reference/src/main/java/com/ayoubom/kafka/utils/IQueriesService.java:78-176).
In this engine a "store" is any materialized DataFrame: a batch snapshot,
a parquet or lake table, or a live streaming aggregation mirrored by
streaming/sinks.StoreMirror. Q1-Q5 are filters with two forms each:

- over a DataFrame they are Catalyst filters, so partition pruning and
  predicate pushdown reach the store scan;
- over a `pa.Table` they are `pyarrow.compute` masks with the same
  predicate: `key == k`, `lo <= key <= hi`, `t_from <= start <= t_to`,
  and the AND of the first and last. They answer a store that is an
  in-driver snapshot (a `StoreMirror.view()`, tagged by `with_snapshot`)
  the way the reference answers from its local store: no py4j call, no
  plan and no Spark job per query.

The reference's metadata/routing layer (MetadataService.java:30-68) is
deliberately absent: Spark's driver sees all state (SURVEY.md §2.6 Q6).
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SNAPSHOT = "_iq_snapshot"


def with_snapshot(view: DataFrame, table: pa.Table) -> DataFrame:
    """Tag `view`, a local relation built from the immutable `table`, so
    that `snapshot_of` finds `table` on it. Only this object carries the
    tag: a frame derived from it (`view.filter(...)`) is a new object
    without one, so it is never answered from the snapshot."""
    setattr(view, _SNAPSHOT, table)
    return view


def snapshot_of(store: DataFrame, cols: list[str]) -> pa.Table | None:
    """The snapshot `store` was built from, if it carries one and every
    column in `cols` (the key and window-start columns a query compares)
    is an integer or string column, whose Arrow comparisons order and
    match as Spark's do; else None."""
    table = vars(store).get(_SNAPSHOT)
    if table is None or not all(_comparable(table.schema.field(c).type) for c in cols):
        return None
    return table


def _comparable(t: pa.DataType) -> bool:
    return pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t)


def _lit(column: pa.ChunkedArray, value) -> pa.Scalar:
    """`value` as a scalar to compare with `column`. A value of the other
    kind (a str against an integer column, or an int against a string
    one) is cast to the column's type; a str that is not a number raises
    `pa.ArrowInvalid`, a ValueError."""
    lit = pa.scalar(value)
    if pa.types.is_integer(lit.type) == pa.types.is_integer(column.type):
        return lit
    return lit.cast(column.type)


def _eq(table: pa.Table, col: str, value) -> pa.ChunkedArray:
    return pc.equal(table[col], _lit(table[col], value))


def _between(table: pa.Table, col: str, lo, hi) -> pa.ChunkedArray:
    c = table[col]
    return pc.and_(pc.greater_equal(c, _lit(c, lo)), pc.less_equal(c, _lit(c, hi)))


def point_lookup(store: DataFrame | pa.Table, key_col: str, key) -> DataFrame | pa.Table:
    """Q1 — GET /state/keyvalue/{store}/{key} (IQueriesService.java:78-102)."""
    if isinstance(store, pa.Table):
        return store.filter(_eq(store, key_col, key))
    return store.filter(F.col(key_col) == F.lit(key))


def all_entries(store: DataFrame | pa.Table) -> DataFrame | pa.Table:
    """Q2 — GET /state/keyvalues/{store}/all (IQueriesService.java:117-122)."""
    return store


def range_scan(store: DataFrame | pa.Table, key_col: str, lo, hi) -> DataFrame | pa.Table:
    """Q3 — key-range scan, bounds inclusive (IQueriesService.java:132-139)."""
    if isinstance(store, pa.Table):
        return store.filter(_between(store, key_col, lo, hi))
    return store.filter(F.col(key_col).between(F.lit(lo), F.lit(hi)))


def window_fetch(
    store: DataFrame | pa.Table, key_col: str, key, start_col: str, t_from, t_to
) -> DataFrame | pa.Table:
    """Q4 — all windows of a key in a start-time range
    (IQueriesService.java:151-176)."""
    if isinstance(store, pa.Table):
        return store.filter(pc.and_(_eq(store, key_col, key),
                                    _between(store, start_col, t_from, t_to)))
    return store.filter(
        (F.col(key_col) == F.lit(key)) & F.col(start_col).between(F.lit(t_from), F.lit(t_to))
    )


def window_fetch_all(
    store: DataFrame | pa.Table, start_col: str, t_from, t_to
) -> DataFrame | pa.Table:
    """Q5 — fetchAll(t1, t2): every key, windows in range
    (TopologiesTest.scala:60-70)."""
    if isinstance(store, pa.Table):
        return store.filter(_between(store, start_col, t_from, t_to))
    return store.filter(F.col(start_col).between(F.lit(t_from), F.lit(t_to)))


def key_routing(df: DataFrame, keys: list[str], num_partitions: int) -> DataFrame:
    """Q6 analogue — metadata/routing: which partition owns a key.

    The reference's MetadataService answers "which application instance
    hosts the store partition for this key" and proxies remote lookups
    (MetadataService.java:30-68, IQueriesService.java:84-87,104-109).
    Spark has no multi-instance routing problem — the driver sees all
    state — but the underlying question ("where does this key live")
    maps to shuffle partition ownership: HashPartitioning routes a row
    to pmod(murmur3_hash(keys), n), which is exactly F.hash. The
    returned partition_id IS the task/state-store partition that owns
    the key in any repartition(n, keys)-shaped exchange — pinned
    against spark_partition_id() in tests/test_sinks_iq.py.
    """
    return df.select(
        *keys,
        F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(num_partitions))
        .alias("partition_id"),
    )


def key_routing_portable(
    df: DataFrame, keys: list[str], num_partitions: int
) -> DataFrame:
    """Q6, engine-portable flavor: ownership via the md5 bucket
    (pipeline.portable_bucket) instead of murmur3, so "which instance
    owns this key" is replayable by ANY engine — the property the
    reference's MetadataService needs when instances coordinate over a
    shared convention (MetadataService.java:55-68), and what lets the
    DuckDB oracle hash-check the routing table. The murmur3 variant
    above stays as the Spark-shuffle-native twin (pinned against
    spark_partition_id() in tests); the two-instance IQ facade test
    routes with THIS one. Keeps all input columns and appends
    partition_id.
    """
    from kafka_streams_app_spark.operators.pipeline import portable_bucket

    key = F.concat_ws("\x1f", *[F.col(k).cast("string") for k in keys])
    return df.select(
        "*", portable_bucket(key, num_partitions).alias("partition_id")
    )
