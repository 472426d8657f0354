"""Regenerate tests/fixtures/plan_budget.json — the frozen-bench-set
plan-shape budget (r14 verdict ask #4).

Run this ONLY when a deliberate, reviewed plan change moves a frozen
query's counters (the diff is the review artifact); the suite's
test_plan_budget.py fails on any unreviewed regression.

Usage: python tools/gen_plan_budget.py
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod
import bench
from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.plans import audit_registry

FIXTURE = Path(__file__).resolve().parent.parent / "tests" / "fixtures" / "plan_budget.json"
# The counters that catch scale regressions; exchanges gets +1 slack in
# the test (stat-estimate flips), the rest are exact ceilings.
KEYS = ["shuffle_joins", "rowwise_python", "exchanges",
        "build_collects", "build_collect_rows", "python_evals"]


def main() -> None:
    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    names = bench.HEADLINE + bench.CURATION + bench.SKETCHES
    qs = entry_mod.queries()
    reports = audit_registry(
        spark, {n: qs[n] for n in names}, "/root/testdata/sf0.01"
    )
    budget = {
        n: {k: r[k] for k in KEYS} for n, r in reports.items()
    }
    FIXTURE.parent.mkdir(parents=True, exist_ok=True)
    FIXTURE.write_text(json.dumps(budget, indent=1, sort_keys=True) + "\n")
    print(f"wrote {FIXTURE} ({len(budget)} queries)")


if __name__ == "__main__":
    main()
