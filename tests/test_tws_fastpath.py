"""Equivalence pins for the vectorized TWS input-grouping fast path
(streaming/_tws_fastpath.py): the patched load_stream must deliver the
SAME (mode, key, concatenated-group-frame) sequence as pyspark's
shipped per-row implementation on streams with groups spanning Arrow
batch boundaries, chunk-size caps, single-row groups, and null-ish
keys. (End-to-end behavior is additionally pinned by every TWS
streaming test and the both-scale oracle gates; this file isolates the
serializer contract itself.)"""

from __future__ import annotations

import io

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest

from kafka_streams_app_spark.streaming import _tws_fastpath


def _serializer(max_records=10**9, max_bytes=2**31 - 1):
    from pyspark.sql.pandas.serializers import (
        TransformWithStateInPandasSerializer,
    )

    ser = TransformWithStateInPandasSerializer(
        timezone="UTC",
        safecheck=False,
        assign_cols_by_name=True,
        arrow_max_records_per_batch=max_records,
        arrow_max_bytes_per_batch=max_bytes,
        int_to_decimal_coercion_enabled=False,
    )
    ser.key_offsets = [0]
    return ser


def _arrow_stream(batches: list[pa.RecordBatch]) -> io.BytesIO:
    buf = io.BytesIO()
    with pa.RecordBatchStreamWriter(buf, batches[0].schema) as w:
        for b in batches:
            w.write_batch(b)
    buf.seek(0)
    return buf


def _drain(ser, load_stream_fn, batches):
    """(mode-name, key, concatenated group frame) triples — concatenated
    because chunk boundaries are an implementation detail both paths
    are free to place differently (processors pd.concat regardless)."""
    out = []
    for mode, key, group in load_stream_fn(ser, _arrow_stream(batches)):
        if group is None:
            out.append((str(mode), key, None))
            continue
        frames = [pdf for _, pdf in group]
        cat = pd.concat(frames, ignore_index=True)
        out.append((str(mode), key, cat))
    return out


def _compare(batches, max_records=10**9, max_bytes=2**31 - 1):
    assert _tws_fastpath.install(), "fast path failed to install"
    from pyspark.sql.pandas.serializers import (
        TransformWithStateInPandasSerializer as T,
    )

    shipped = _drain(
        _serializer(max_records, max_bytes),
        T._spark_graft_orig_load_stream,
        batches,
    )
    fast = _drain(
        _serializer(max_records, max_bytes),
        _tws_fastpath._fastpath_load_stream,
        batches,
    )
    assert len(shipped) == len(fast)
    for (m1, k1, d1), (m2, k2, d2) in zip(shipped, fast):
        assert m1 == m2
        assert k1 == k2
        if d1 is None:
            assert d2 is None
            continue
        assert len(d1) == len(d2)
        # the shipped path renames leading-underscore columns through
        # namedtuple; compare positionally on values
        v1 = d1.to_numpy(dtype=object)
        v2 = d2.to_numpy(dtype=object)
        assert v1.shape == v2.shape
        assert (
            pd.DataFrame(v1).fillna("\0null").eq(
                pd.DataFrame(v2).fillna("\0null")
            ).all().all()
        )


def _batch(keys, vals, names=None):
    cols = {
        "k": pa.array(keys, type=pa.int64()),
        "v": pa.array(vals, type=pa.float64()),
    }
    if names is not None:
        cols["name"] = pa.array(names, type=pa.string())
    return pa.RecordBatch.from_pydict(cols)


def test_groups_within_one_batch():
    _compare([_batch([1, 1, 2, 2, 2, 3], [0.1, 0.2, 0.3, 0.4, 0.5, 0.6])])


def test_group_spans_batch_boundary():
    _compare([
        _batch([1, 1, 2], [1.0, 2.0, 3.0]),
        _batch([2, 2, 3], [4.0, 5.0, 6.0]),
        _batch([3, 3, 3], [7.0, 8.0, 9.0]),
    ])


def test_single_row_groups_and_strings():
    _compare([
        _batch([1, 2, 3, 4], [1.0, 2.0, 3.0, 4.0],
               ["a", "b", "c", "d"]),
        _batch([5, 6], [5.0, 6.0], ["e", "f"]),
    ])


def test_max_records_cap_chunks_large_groups():
    _compare(
        [_batch([7] * 25 + [8] * 3, [float(i) for i in range(28)])],
        max_records=4,
    )


def test_string_key_offsets():
    b = pa.RecordBatch.from_pydict({
        "k": pa.array(["x", "x", "y", "y", "y"], type=pa.string()),
        "v": pa.array([1, 2, 3, 4, 5], type=pa.int64()),
    })
    _compare([b])


def test_multi_column_key():
    b = pa.RecordBatch.from_pydict({
        "k1": pa.array([1, 1, 1, 2, 2], type=pa.int64()),
        "k2": pa.array(["a", "a", "b", "b", "b"], type=pa.string()),
        "v": pa.array([1.0, 2.0, 3.0, 4.0, 5.0], type=pa.float64()),
    })
    assert _tws_fastpath.install()
    from pyspark.sql.pandas.serializers import (
        TransformWithStateInPandasSerializer as T,
    )

    for fn in (T._spark_graft_orig_load_stream,
               _tws_fastpath._fastpath_load_stream):
        ser = _serializer()
        ser.key_offsets = [0, 1]
        keys = [k for mode, k, g in fn(ser, _arrow_stream([b]))
                if g is not None]
        assert keys == [(1, "a"), (1, "b"), (2, "b")]


def test_patch_is_active_in_session():
    from pyspark.sql.pandas.serializers import (
        TransformWithStateInPandasSerializer as T,
    )

    assert getattr(T.load_stream, "_spark_graft_fastpath", False)


def test_byte_cap_accounting_matches():
    """With a byte cap set, both paths chunk by average row size; the
    concatenated groups must still agree and the accounting fields must
    both be populated."""
    batches = [_batch(sorted(np.repeat(np.arange(5), 40).tolist()),
                      [float(i) for i in range(200)])]
    _compare(batches, max_bytes=256)


def test_null_mixed_longs_cross_exact():
    """A null in an int64 column: the shipped path hands the group over
    as float64 (2^62 + 3 rounds), the fast path as exact Int64 — and a
    null grouping key is one group keyed None, as Spark grouped it."""
    big = (1 << 62) + 3
    b = pa.RecordBatch.from_pydict({
        "k": pa.array([1, 1, None, None], type=pa.int64()),
        "v": pa.array([big, None, big + 2, 5], type=pa.int64()),
    })
    assert _tws_fastpath.install()
    from pyspark.sql.pandas.serializers import (
        TransformWithStateInPandasSerializer as T,
    )

    shipped = _drain(_serializer(), T._spark_graft_orig_load_stream, [b])
    assert shipped[0][2]["v"].dtype == np.float64
    fast = [
        (k, g["v"].tolist())
        for _, k, g in _drain(_serializer(), _tws_fastpath._fastpath_load_stream, [b])
        if g is not None
    ]
    assert fast == [((1,), [big, pd.NA]), ((None,), [big + 2, 5])]
