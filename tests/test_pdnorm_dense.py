"""Direct unit/property tests for the dense-column combinators
(streaming/_pdnorm.py dcol_* / dense_*) that back the FK/PK fast-path
output crossing (r7).

The end-to-end equality is owned by the randomized processor tests;
these pin the combinators' null semantics in isolation — in particular
that every kind round-trips through pyarrow EXACTLY like the old
object-dtype path did (None -> null, float NaN -> null, int64 above
2^53 exact).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
)

from kafka_streams_app_spark.streaming._pdnorm import (
    arrow_table_to_pandas,
    dcol_concat,
    dcol_finalize,
    dcol_from_list,
    dcol_in,
    dcol_nullify,
    dcol_state,
    dcol_take,
    dcol_where,
    dense_input,
    normalize_nullable,
)

BIG = (1 << 62) + 3  # double-rounding canary: != its float64 neighbour


def arrow_cells(col, pa_type):
    """What the JVM sees: the column as a pyarrow array's python list."""
    return pa.Array.from_pandas(pd.Series(col), type=pa_type).to_pylist()


def object_path_cells(values, pa_type):
    """The pre-r7 object-dtype path for the same logical cells."""
    return arrow_cells(np.array(values, dtype=object), pa_type)


def test_long_roundtrip_exact_above_2_53():
    # a null-mixed long arrives as Int64 through the exact crossing;
    # pyspark's own converter (the fallback) would round it via float64
    table = pa.table({"v": pa.array([BIG, None, -7], pa.int64())})
    ser = arrow_table_to_pandas(
        table, lambda col, i: pytest.fail("fallback converted a long")
    )["v"]
    assert ser.dtype == "Int64"
    k, v, m = dense_input(ser, LongType())
    assert k == "i" and v.dtype == np.int64
    out = arrow_cells(dcol_finalize((k, v, m)), pa.int64())
    assert out == [BIG, None, -7]
    assert out == object_path_cells([BIG, None, -7], pa.int64())


def test_crossing_delegates_all_but_null_mixed_integral_and_bool():
    """Only integral/bool columns holding a null leave pyspark's
    converter: they become Int64 / boolean; the rest (null-free ints,
    floats, strings) are whatever the fallback returns."""
    table = pa.table({
        "i32": pa.array([1, None], pa.int32()),
        "b": pa.array([True, None]),
        "full": pa.array([1, 2], pa.int64()),
        "f": pa.array([0.5, None]),
        "s": pa.array(["x", None]),
    })
    seen = []

    def fallback(col, i):
        seen.append(table.schema.names[i])
        return col.to_pandas()

    pdf = arrow_table_to_pandas(table, fallback)
    assert seen == ["full", "f", "s"]
    assert list(pdf.columns) == table.schema.names
    assert [str(pdf[c].dtype) for c in ("i32", "b")] == ["Int64", "boolean"]
    assert pdf["i32"].tolist() == [1, pd.NA]


def test_float_degraded_long_above_2_53_raises():
    """A long that crossed as float64 (pyspark's shipped converter, a
    null in the batch) is restored to Int64 below 2^53 and refused
    above it, where the value was rounded before any code could see
    it."""
    ok = normalize_nullable(
        pd.DataFrame({"v": [1.0, np.nan]}), [("v", LongType())]
    )
    assert str(ok["v"].dtype) == "Int64" and ok["v"].tolist() == [1, pd.NA]
    with pytest.raises(ValueError, match="2\\^53"):
        normalize_nullable(
            pd.DataFrame({"v": [float(BIG), np.nan]}), [("v", LongType())]
        )


def test_float_nan_and_none_both_null_like_object_path():
    ser = pd.Series([1.5, np.nan, 3.0])  # null arrived as NaN upstream
    k, v, m = dense_input(ser, DoubleType())
    assert k == "f" and m is None
    dense = arrow_cells(dcol_finalize((k, v, m)), pa.float64())
    legacy = object_path_cells([np.float64(1.5), np.float64("nan"), None],
                               pa.float64())
    # the object path turned BOTH NaN and None into null; NaN-as-null
    # must survive the dense path identically
    assert dense == [1.5, None, 3.0]
    assert legacy == [1.5, None, None]


def test_nullify_matches_object_semantics_per_kind():
    cond = np.array([False, True, False])
    # int
    k, v, m = dcol_nullify(("i", np.array([1, 2, 3], dtype=np.int64),
                            np.zeros(3, bool)), cond)
    assert arrow_cells(dcol_finalize((k, v, m)), pa.int64()) == [1, None, 3]
    # float -> NaN == null
    k, v, m = dcol_nullify(("f", np.array([1.0, 2.0, 3.0]), None), cond)
    assert arrow_cells(dcol_finalize((k, v, m)), pa.float64()) == [1.0, None, 3.0]
    # object
    k, v, m = dcol_nullify(("o", np.array(["a", "b", "c"], dtype=object),
                            None), cond)
    assert arrow_cells(dcol_finalize((k, v, m)), pa.string()) == ["a", None, "c"]
    # bool
    k, v, m = dcol_nullify(("b", np.array([True, False, True]),
                            np.zeros(3, bool)), cond)
    assert arrow_cells(dcol_finalize((k, v, m)), pa.bool_()) == [True, None, True]


def test_where_take_concat_against_python_reference():
    rng = random.Random(814)
    for kind, pa_type, gen in [
        ("i", pa.int64(), lambda: rng.choice([None, rng.randrange(-5, 5), BIG])),
        ("f", pa.float64(), lambda: rng.choice([None, rng.random()])),
        ("b", pa.bool_(), lambda: rng.choice([None, True, False])),
        ("o", pa.string(), lambda: rng.choice([None, "x", "yy"])),
    ]:
        a_vals = [gen() for _ in range(40)]
        b_vals = [gen() for _ in range(40)]
        cond = np.array([rng.random() < 0.5 for _ in range(40)])
        ix = np.array([rng.randrange(40) for _ in range(25)])
        a = dcol_from_list(a_vals, kind)
        b = dcol_from_list(b_vals, kind)
        got = dcol_take(dcol_where(cond, a, b), ix)
        want = [a_vals[i] if cond[i] else b_vals[i] for i in ix]
        assert arrow_cells(dcol_finalize(got), pa_type) == want, kind
        # concat of two slices == python concat
        got2 = dcol_concat([dcol_take(a, ix), dcol_take(b, ix)])
        want2 = [a_vals[i] for i in ix] + [b_vals[i] for i in ix]
        assert arrow_cells(dcol_finalize(got2), pa_type) == want2, kind


def test_dcol_state_matches_tuples():
    tuples = [(1, "a"), None, (BIG, None)]
    k, v, m = dcol_state(tuples, 0, "i")
    assert arrow_cells(dcol_finalize((k, v, m)), pa.int64()) == [1, None, BIG]
    k, v, m = dcol_state(tuples, 1, "o")
    assert arrow_cells(dcol_finalize((k, v, m)), pa.string()) == ["a", None, None]


def test_dense_input_integer_extension_and_bool():
    ser = pd.Series(pd.array([5, None, 7], dtype="Int64"))
    k, v, m = dense_input(ser, IntegerType())
    assert (k, list(v), list(m)) == ("i", [5, 0, 7], [False, True, False])
    ser = pd.Series(pd.array([True, None], dtype="boolean"))
    k, v, m = dense_input(ser, BooleanType())
    assert (k, list(m)) == ("b", [False, True])


def test_dense_input_declines_strings():
    ser = pd.Series(["a", None], dtype=object)
    assert dense_input(ser, StringType()) is None
    # dcol_in falls back to the object path
    pdf = pd.DataFrame({"c": ser})
    k, v, m = dcol_in(pdf, "c", StringType())
    assert k == "o" and list(v) == ["a", None] and m is None


@pytest.mark.parametrize("kind,pa_type", [
    ("i", pa.int64()), ("f", pa.float64()), ("b", pa.bool_()),
])
def test_from_list_all_null_and_empty(kind, pa_type):
    assert arrow_cells(dcol_finalize(dcol_from_list([None, None], kind)),
                       pa_type) == [None, None]
    assert arrow_cells(dcol_finalize(dcol_from_list([], kind)), pa_type) == []


def test_fk_fast_path_emits_dense_dtypes():
    """Regression pin for the r7 crossing fix: the bucketed FK fast
    path must yield native/extension-dtype columns, never object, for
    integral/floating payloads (an object column here silently
    reintroduces the 12s-per-17M-cells Arrow conversion)."""
    from pyspark.sql.types import StructField, StructType

    from kafka_streams_app_spark.streaming.fk_join import (
        _FKJoinProcessorBucketed,
    )
    from kafka_streams_app_spark.streaming.replay import _HandleShim

    sub_schema = StructType([StructField("value", DoubleType())])
    right_schema = StructType([StructField("rvalue", DoubleType())])
    out_schema = StructType([
        StructField("pk", LongType()), StructField("action", StringType()),
        StructField("value", DoubleType()),
        StructField("r_rvalue", DoubleType()),
        StructField("_seq", LongType()), StructField("_minor", LongType()),
    ])
    proc = _FKJoinProcessorBucketed(
        ["value"], ["r_rvalue"], sub_schema, right_schema, out_schema,
        "inner",
        StructType([StructField("fk", StringType())]),
        StructType([StructField("fk", StringType()),
                    StructField("pk", LongType())]),
    )
    proc.init(_HandleShim())
    # sub then right upsert for one fk — exercises both emission blocks;
    # pk is a null-mixed long (Int64, as off the exact crossing)
    pdf = pd.DataFrame({
        "fk": ["f", "f"],
        "kind": ["sub", "right"],
        "pk": pd.array([BIG, None], dtype="Int64"),
        "value": [0.5, None],
        "seq": np.array([1, 2], dtype=np.int64),
        "minor": np.array([1, 2], dtype=np.int64),
        "r_rvalue": [None, 7.5],
        "right_is_delete": [False, False],
    })
    frames = list(proc.handleInputRows(("b",), iter([pdf]), None))
    assert len(frames) == 1
    out = frames[0]
    assert str(out["pk"].dtype) == "Int64", out.dtypes
    assert out["value"].dtype == np.float64
    assert out["r_rvalue"].dtype == np.float64
    assert str(out["_seq"].dtype) == "Int64"
    # and the cells are right: sub emits nothing (inner, right absent),
    # right upsert fans out to the subscribed pk exactly
    assert [tuple(r) for r in out.itertuples(index=False)] == [
        (BIG, "upsert", 0.5, 7.5, 2, 2)
    ]
