"""Print the plan-hygiene audit for every contract query at sf0.01.

Usage: python tools/audit_plans.py
Exits nonzero if any query has row-wise Python (BatchEvalPython) in its
plan — the one unconditional red flag.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import __spark_entry__ as entry_mod
from kafka_streams_app_spark.engine import get_spark
from kafka_streams_app_spark.plans import audit_registry

def main() -> int:
    spark = get_spark(shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    # streaming entries run a query to completion just to build a plan;
    # the batch plans cover the same operators, so skip them here
    skip = {n for n in qs if n.startswith("s_")}
    reports = audit_registry(spark, qs, "/root/testdata/sf0.01", skip=skip)
    # plan-build driver collects must be bounded by MODEL size
    # (codebooks, k-means sums), never data size; at sf0.01 any single
    # query pulling more than this many rows during build is pulling a
    # table, not a model (the embeddings table itself is 2k rows)
    collect_rows_budget = 1500
    # model-size-bounded exceptions (documented in the operator):
    # Lloyd pulls m x d centroid-sum rows PER ITERATION (similarity.py
    # kmeans_lloyd) — ~1.3k rows x 3 iters here, independent of corpus
    # size, so the default table-pull budget misfires on it
    per_query_budget = {"cluster_kmeans": 4500}
    bad = 0
    hdr = f"{'query':32} {'pushF':>5} {'bcast':>5} {'shufJ':>5} {'exch':>4} " \
          f"{'cg':>3} {'pyArrow':>7} {'pyRow':>5} {'coll':>4} {'collRows':>8}"
    print(hdr)
    for name, r in reports.items():
        flag = ""
        if r["rowwise_python"]:
            flag = "  <-- ROW-WISE PYTHON"
            bad += 1
        if r["build_collect_rows"] > per_query_budget.get(
            name, collect_rows_budget
        ):
            flag += "  <-- UNBOUNDED DRIVER COLLECT"
            bad += 1
        print(
            f"{name:32} {len(r['pushed_filters']):>5} {r['broadcast_joins']:>5} "
            f"{r['shuffle_joins']:>5} {r['exchanges']:>4} {r['codegen_stages']:>3} "
            f"{r['python_evals']:>7} {r['rowwise_python']:>5} "
            f"{r['build_collects']:>4} {r['build_collect_rows']:>8}{flag}"
        )
    print(
        f"\n{len(reports)} plans audited, {bad} with row-wise Python "
        f"or over-budget driver collects"
    )
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
