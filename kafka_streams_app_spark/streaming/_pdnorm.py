"""Pandas dtype normalization shared by the stateful processors.

Two silent-corruption paths every Arrow->pandas crossing must close
(found in r5 for the bucketed ktable, but latent in ANY frame that
mixes nulls into integral columns — e.g. the union-tagged PK/FK join
inputs, where each side's rows carry nulls in the OTHER side's
columns BY CONSTRUCTION):

(a) a null in an int64 column makes pyspark's arrow_to_pandas deliver
    float64, so state keys/values and output cells round-trip through
    float64 and values above 2^53 are silently corrupted;
(b) groupby().shift(1) on plain int64 upcasts through float64
    (NaN fill) the same way.

`arrow_table_to_pandas` is the one Arrow->pandas crossing of every
stateful operator's input (the TWS serializer's load_stream, patched in
_tws_fastpath, and replay.grouped_replay): an integral or boolean
column holding a null becomes a pandas NULLABLE extension column
(Int64/boolean), exact by construction, and every other column goes
through pyspark's own converter unchanged. `normalize_nullable` pins
what is left (null-free integral/bool columns) to the same extension
dtypes so (b) never touches float64; `pynative` / `pykey` convert
cells back to plain-Python scalars (None for every null flavor) before
they reach the TWS state-server protobuf serializer or an output tuple.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DataType,
    IntegerType,
    LongType,
    ShortType,
)

INTEGRAL_TYPES = (ByteType, ShortType, IntegerType, LongType)


_EXACT_F64 = float(1 << 53)  # largest power of 2 where all ints are exact


def _nullable_dtype(t: pa.DataType):
    return pd.BooleanDtype() if pa.types.is_boolean(t) else pd.Int64Dtype()


def arrow_table_to_pandas(table: pa.Table, arrow_to_pandas) -> pd.DataFrame:
    """The Arrow->pandas crossing of a stateful operator's input.

    An integral or boolean column that holds a null converts to pandas
    Int64 / boolean, which keeps every int64 exact (pyspark's converter
    would hand it over as float64, or bool-with-None as object). Every
    other column goes through `arrow_to_pandas(column, index)` —
    pyspark's own serializer method — so its dtype is what
    applyInPandas / transformWithStateInPandas deliver.
    """
    return pd.concat(
        [
            col.to_pandas(types_mapper=_nullable_dtype)
            if col.null_count
            and (pa.types.is_integer(col.type) or pa.types.is_boolean(col.type))
            else arrow_to_pandas(col, i)
            for i, col in enumerate(table.itercolumns())
        ],
        axis=1,
    )


def normalize_nullable(
    pdf: pd.DataFrame, fields: list[tuple[str, DataType]]
) -> pd.DataFrame:
    """Pin integral/bool columns to nullable extension dtypes in place.

    A LongType column that arrives as float64 crossed Arrow outside
    arrow_table_to_pandas (pyspark's shipped TWS serializer, when
    _tws_fastpath.install() failed open) with a null in the batch;
    restoring to Int64 is exact only below 2^53 — above that the value
    was corrupted BEFORE this code ran, so raise loudly instead of
    emitting silently-wrong data.
    """
    for name, dtype in fields:
        col = pdf[name]
        if pd.api.types.is_extension_array_dtype(col.dtype):
            continue
        if isinstance(dtype, INTEGRAL_TYPES):
            if isinstance(dtype, LongType) and col.dtype.kind == "f":
                m = col.abs().max()
                if m == m and m >= _EXACT_F64:
                    raise ValueError(
                        f"int64 column {name!r} crossed Arrow as float64 "
                        "(nulls present) and holds values >= 2^53 — the "
                        "values are already corrupted. The exact "
                        "crossing (streaming/_tws_fastpath.py) is not "
                        "installed in this Python worker; see "
                        "streaming/_pdnorm.py."
                    )
            pdf[name] = col.astype("Int64")
        elif isinstance(dtype, BooleanType):
            pdf[name] = col.astype("boolean")
    return pdf


def pynative(v):
    """One cell -> plain-Python scalar; every null flavor -> None.

    numpy scalars -> python scalars: the state-server protobuf
    serializer expects plain python types in key/value tuples. Null
    cells (pd.NA from nullable extension dtypes, NaN/NaT from legacy
    upcasts) map to None — never a float NaN that would defeat MapState
    lookups or leak into output rows.
    """
    if v is None or v is pd.NA or v is pd.NaT:
        return None
    if isinstance(v, float) and v != v:
        return None
    if hasattr(v, "item"):
        return v.item()
    return v


def pykey(row_vals) -> tuple:
    """A sequence of cells -> tuple of plain-Python scalars."""
    return tuple(pynative(v) for v in row_vals)


def dense_input(col: pd.Series, dtype: DataType):
    """Native (kind, values, mask) triple for one INPUT column of an
    integral / floating / boolean Spark type — the O(inputs) half of
    the dense output path (see dense_output).

    kind: "i" (int64 values + bool null-mask), "f" (float64, nulls
    encoded as NaN, mask always None), "b" (bool values + mask), or
    None when the column must stay on the object path (strings,
    timestamps, nested — or a float-degraded long, which the
    normalize_nullable corruption guard owns).

    Why: emitting output columns as object arrays (Decimal or boxed
    floats) makes the python->JVM Arrow crossing pay per-cell
    conversion — measured 12.2 s per 17.3M Decimal cells vs ~0 s for
    native int64. Converting the INPUT columns once
    (O(inputs)) and fanning out with numpy takes keeps every emitted
    cell native.
    """
    import numpy as np
    from pyspark.sql.types import DoubleType, FloatType

    n = len(col)
    if isinstance(dtype, INTEGRAL_TYPES):
        if pd.api.types.is_extension_array_dtype(col.dtype):
            return ("i", col.to_numpy(dtype=np.int64, na_value=0),
                    col.isna().to_numpy())
        if col.dtype.kind in "iu":
            return "i", col.to_numpy(dtype=np.int64), np.zeros(n, dtype=bool)
        return None  # float-degraded long: normalize_nullable's guard
    if isinstance(dtype, (FloatType, DoubleType)):
        if col.dtype.kind == "f":
            # nulls already arrived as NaN; from_pandas maps NaN->null,
            # exactly what the object path emitted for these cells
            return "f", col.to_numpy(dtype=np.float64), None
        if col.dtype == object:
            arr = col.to_numpy(dtype=object)
            vals = np.fromiter(
                (np.nan if v is None or v != v else float(v) for v in arr),
                np.float64, count=n,
            )
            return "f", vals, None
        return None
    if isinstance(dtype, BooleanType):
        if pd.api.types.is_extension_array_dtype(col.dtype):
            return ("b", col.to_numpy(dtype=bool, na_value=False),
                    col.isna().to_numpy())
        if col.dtype.kind == "b":
            return "b", col.to_numpy(dtype=bool), np.zeros(n, dtype=bool)
        return None
    return None


def dense_state_col(tuples: list, j: int, kind: str):
    """(values, mask) for position j of a list of state tuples
    (tuple | None), matching dense_input's kind conventions. O(len) —
    state lists are per-distinct-key, not per-output-row."""
    import numpy as np

    n = len(tuples)
    if kind == "f":
        vals = np.fromiter(
            (np.nan if t is None or t[j] is None else t[j] for t in tuples),
            np.float64, count=n,
        )
        return vals, None
    mask = np.fromiter(
        (t is None or t[j] is None for t in tuples), bool, count=n
    )
    if kind == "i":
        vals = np.fromiter(
            (0 if t is None or t[j] is None else int(t[j]) for t in tuples),
            np.int64, count=n,
        )
    else:  # "b"
        vals = np.fromiter(
            (False if t is None or t[j] is None else bool(t[j])
             for t in tuples),
            bool, count=n,
        )
    return vals, mask


def dense_output(kind: str, vals, mask):
    """One finalized pandas column for the output frame: native float64
    (NaN==null), or Integer/Boolean extension arrays — all of which
    pyarrow converts vectorized, with exact null semantics matching
    the object path's (None -> null, float NaN -> null)."""
    if kind == "f":
        return vals
    if kind == "i":
        return pd.arrays.IntegerArray(vals, mask)
    return pd.arrays.BooleanArray(vals, mask)


# --- (kind, values, mask) column combinators --------------------------
# Shared by the bucketed FK/PK/ktable fast paths: kind "i"/"b" carry a
# bool null-mask; "f" encodes nulls as NaN (mask None); "o" is the
# object fallback (mask None). All ops are numpy-vectorized.

def dcol_in(pdf: pd.DataFrame, src: str, dtype: DataType):
    """Input column -> triple; object fallback when dense_input
    declines the Spark type."""
    d = dense_input(pdf[src], dtype)
    if d is None:
        return "o", pdf[src].to_numpy(dtype=object), None
    return d


def dcol_take(col, ix):
    k, v, m = col
    return k, v[ix], (m[ix] if m is not None else None)


def dcol_where(cond, a, b):
    """Elementwise select between two same-kind triples."""
    import numpy as np

    k, av, am = a
    _, bv, bm = b
    v = np.where(cond, av, bv)
    m = np.where(cond, am, bm) if am is not None else None
    return k, v, m


def dcol_nullify(col, cond):
    """Null the cells where cond (copy-on-write for f/o kinds)."""
    import numpy as np

    k, v, m = col
    if m is not None:
        return k, v, m | cond
    v = v.copy()
    v[cond] = np.nan if k == "f" else None
    return k, v, m


def dcol_from_list(vals_list: list, kind: str):
    """Small python list -> triple of the given kind (O(len) python)."""
    import numpy as np

    nl = len(vals_list)
    if kind == "o":
        return "o", np.array(vals_list, dtype=object), None
    if kind == "f":
        return "f", np.fromiter(
            (np.nan if v is None else float(v) for v in vals_list),
            np.float64, count=nl), None
    mask = np.fromiter((v is None for v in vals_list), bool, count=nl)
    if kind == "i":
        vals = np.fromiter(
            (0 if v is None else int(v) for v in vals_list),
            np.int64, count=nl)
    else:
        vals = np.fromiter(
            (False if v is None else bool(v) for v in vals_list),
            bool, count=nl)
    return kind, vals, mask


def dcol_state(tuples: list, j: int, kind: str):
    """Position j of per-key state tuples (tuple | None) -> triple."""
    import numpy as np

    if kind == "o":
        return "o", np.array(
            [t[j] if t is not None else None for t in tuples],
            dtype=object), None
    v, m = dense_state_col(tuples, j, kind)
    return kind, v, m


def dcol_concat(cols: list):
    import numpy as np

    k = cols[0][0]
    v = np.concatenate([c[1] for c in cols])
    m = (np.concatenate([c[2] for c in cols])
         if cols[0][2] is not None else None)
    return k, v, m


def dcol_finalize(col):
    """Triple -> the pandas column handed to the output frame."""
    k, v, m = col
    return v if k == "o" else dense_output(k, v, m)

