"""Pin bench.py's regression gate: baselines compare only at the core
count they were frozen at."""

from __future__ import annotations

import bench


def test_regression_gate_is_keyed_by_core_count():
    assert set(bench.BASELINE_SEC) >= {4, 32}
    # every frozen set covers every benched query
    names = set(bench.HEADLINE + bench.CURATION + bench.SKETCHES
                + bench.HEAVYSCAN)
    for cpus, base in bench.BASELINE_SEC.items():
        assert set(base) == names, cpus
    slow = {n: 3 * max(b, 0.8) for n, b in bench.BASELINE_SEC_4.items()}
    assert sorted(bench.check_regressions(slow, 4)) == sorted(slow)
    assert bench.check_regressions(bench.BASELINE_SEC_4, 4) == []


def test_regression_gate_skips_an_unfrozen_core_count():
    assert 7 not in bench.BASELINE_SEC
    assert bench.check_regressions({"t1_wordcount": 100.0}, 7) is None
