"""Vectorized input grouping for transformWithStateInPandas (r11 #2).

pyspark 4.1's ``TransformWithStateInPandasSerializer.load_stream``
walks EVERY input row through ``DataFrame.itertuples`` to find
grouping-key boundaries, then re-materializes each group as
``pd.DataFrame(list_of_namedtuples)`` — a per-row Python loop that
measured ~237k rows/s/core on the FK-join stage-2 batch shape
(SCALE.md "r12: the TWS input-path floor" records it and this path's
74.6x; tests/test_tws_fastpath.py pins the two paths equal). SCALE.md
has tracked this as the TWS framework floor since r7: the FK 2-stage
pipeline plateaued at ~119k rows/s/box with stage 2
layout-independent, i.e. dominated by this loop, not repo code.

The grouping is vectorizable because the keyed shuffle delivers rows
for one grouping key CONTIGUOUSLY within the Arrow stream (the shipped
implementation's own docstring states the same ordering assumption its
``itertools.groupby`` depends on). So: compare each key column against
its one-row shift, slice the frame at the change points — measured
74.6x faster on the 1M-row/1k-key shape; identical chunk semantics:

- chunk boundaries are invisible to processors (``handleInputRows``
  receives an iterator of per-key chunks either way, and every
  processor in this repo starts with ``pd.concat(list(rows))``);
- the max_records / max_bytes chunk caps are enforced equivalently
  (chunks may split at slightly different row counts — a boundary no
  correct processor can observe);
- per-batch byte accounting (``average_arrow_row_size``) is verbatim;
- null grouping keys of string columns behave identically (None ==
  None groups in both forms).

Known representation differences, all strictly MORE faithful than the
shipped path (and pinned by this repo's randomized equality tests +
the both-scale oracle gates over every streaming entry):

- chunks keep the ORIGINAL column names — ``itertuples`` renames
  leading-underscore columns (the ``_fkj_bucket``/``_pkj_bucket``
  grouping columns) to positional ``_N`` through namedtuple; nothing
  reads those columns either way;
- chunk dtypes are the ``arrow_to_pandas`` dtypes unchanged, rather
  than re-inferred through namedtuple reconstruction — except that an
  integral or boolean column holding a null arrives as pandas
  Int64 / boolean instead of float64 / object
  (``_pdnorm.arrow_table_to_pandas``, the same crossing grouped replay
  uses): int64 values above 2^53 stay exact;
- a null in an integral grouping key compares as None, so its rows
  stay one group, as Spark grouped them (the shipped path's float64
  NaN != NaN split them per row);
- chunk row indexes are slices of the batch RangeIndex rather than
  fresh 0-based ones (processors sort + reset or use positional
  access only).

``install()`` is idempotent, gated to pyspark 4.x, and fails open
(shipped path stays) on any mismatch. It must run in the PYTHON
WORKER: importing ``kafka_streams_app_spark.streaming`` triggers it,
and the worker imports that package when it unpickles any of this
repo's StatefulProcessors — before the first ``load_stream`` call of
every TWS task (the patch is class-level, so the serializer instance the
worker already constructed picks it up at call time). The subclass
``TransformWithStateInPandasInitStateSerializer`` overrides
``load_stream`` and is deliberately left on the shipped path (this
repo never passes initial state).
"""

from __future__ import annotations

_installed = False


def _fastpath_load_stream(self, stream):
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    from itertools import groupby

    from pyspark.sql.pandas.serializers import ArrowStreamSerializer
    from pyspark.sql.streaming.stateful_processor_util import (
        TransformWithStateInPandasFuncMode,
    )

    from kafka_streams_app_spark.streaming._pdnorm import arrow_table_to_pandas

    def generate_data_batches(batches):
        unlimited = self.arrow_max_bytes_per_batch == 2**31 - 1
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            if not unlimited:
                batch_bytes = sum(
                    buf.size
                    for col in batch.columns
                    for buf in col.buffers()
                    if buf is not None
                )
                self.total_bytes += batch_bytes
                self.total_rows += n
                self.average_arrow_row_size = self.total_bytes / self.total_rows
            df = arrow_table_to_pandas(
                pa.Table.from_batches([batch]), self.arrow_to_pandas
            )
            # a nullable (extension) key column compares through None:
            # pd.NA has no truth value
            key_arrays = [
                c.to_numpy(dtype=object, na_value=None)
                if pd.api.types.is_extension_array_dtype(c.dtype)
                else c.to_numpy()
                for c in (df.iloc[:, s] for s in self.key_offsets)
            ]
            change = np.zeros(n, dtype=bool)
            change[0] = True
            for ka in key_arrays:
                change[1:] |= ka[1:] != ka[:-1]
            starts = np.flatnonzero(change)
            ends = np.append(starts[1:], n)
            cap = self.arrow_max_records_per_batch
            if not unlimited and self.average_arrow_row_size > 0:
                cap = min(
                    cap,
                    max(
                        int(
                            self.arrow_max_bytes_per_batch
                            // self.average_arrow_row_size
                        ),
                        1,
                    ),
                )
            for s, e in zip(starts.tolist(), ends.tolist()):
                bk = tuple(ka[s] for ka in key_arrays)
                if e - s <= cap:
                    yield (bk, df.iloc[s:e])
                else:
                    for cs in range(s, e, cap):
                        yield (bk, df.iloc[cs:min(cs + cap, e)])

    _batches = ArrowStreamSerializer.load_stream(self, stream)
    data_batches = generate_data_batches(_batches)

    for k, g in groupby(data_batches, key=lambda x: x[0]):
        yield (TransformWithStateInPandasFuncMode.PROCESS_DATA, k, g)

    yield (TransformWithStateInPandasFuncMode.PROCESS_TIMER, None, None)

    yield (TransformWithStateInPandasFuncMode.COMPLETE, None, None)


def install() -> bool:
    """Patch TransformWithStateInPandasSerializer.load_stream with the
    vectorized grouping. Returns True when the fast path is active."""
    global _installed
    if _installed:
        return True
    try:
        import pyspark

        if not pyspark.__version__.startswith("4."):
            return False
        from pyspark.sql.pandas import serializers as _ser

        cls = _ser.TransformWithStateInPandasSerializer
        if getattr(cls.load_stream, "_spark_graft_fastpath", False):
            _installed = True
            return True
        # the shape contract this patch relies on — fail open otherwise
        for attr in (
            "arrow_max_records_per_batch",
            "arrow_max_bytes_per_batch",
        ):
            if attr not in cls.__init__.__code__.co_names and attr not in (
                cls.__init__.__code__.co_varnames
            ):
                return False
        _fastpath_load_stream._spark_graft_fastpath = True
        # keep the shipped implementation reachable: the equivalence
        # test replays the same Arrow stream through both paths
        cls._spark_graft_orig_load_stream = cls.load_stream
        cls.load_stream = _fastpath_load_stream
        _installed = True
        return True
    except Exception:  # pragma: no cover - fail open on any mismatch
        return False
