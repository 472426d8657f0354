from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from kafka_streams_app_spark.engine import get_spark  # noqa: E402

# Long-runner manifest (r16 verdict ask #2a): tests listed here (by
# parametrization-stripped nodeid) are marked `slow` at collection and
# excluded by the default `-m "not slow"` selection (pytest.ini) so the
# verification driver's bounded pytest window is never overflowed.
# Every listed test measured >= 10 s on this host
# (artifacts/opt_r16/pytest_full_r16_durations.log); the full suite
# runs with `-m ""`. Marking via manifest instead of per-test
# decorators keeps the list regenerable from a durations run and the
# diff reviewable in one place.
_SLOW_MANIFEST = Path(__file__).parent / "fixtures" / "slow_tests.txt"


def pytest_collection_modifyitems(config, items):
    slow_ids = {
        line.strip()
        for line in _SLOW_MANIFEST.read_text().splitlines()
        if line.strip()
    }
    for item in items:
        base = item.nodeid.split("[", 1)[0]
        if base in slow_ids:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kafka-streams-app-spark-tests", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return "/root/testdata/sf0.01"
