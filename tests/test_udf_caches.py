"""The Arrow UDF factories memoize one UDF object per parameter set in
a bounded LRU, so a long-lived process that sweeps parameters cannot
grow them without limit. (Building a UDF needs an active session.)"""

from __future__ import annotations

import pytest

from kafka_streams_app_spark.functions.text import shingles_udf, winnowing_fps_udf
from kafka_streams_app_spark.operators.dedup import _band_hashes_udf


@pytest.mark.parametrize(
    "factory", [shingles_udf, winnowing_fps_udf, _band_hashes_udf],
    ids=["shingles_udf", "winnowing_fps_udf", "_band_hashes_udf"],
)
def test_udf_factory_cache_is_bounded(spark, factory):
    maxsize = factory.cache_info().maxsize
    assert maxsize is not None
    first = factory(2)
    assert factory(2) is first  # memoized
    for k in range(3, 3 + maxsize + 5):
        factory(k)
    assert factory.cache_info().currsize == maxsize
    assert factory(2) is not first  # evicted, rebuilt
