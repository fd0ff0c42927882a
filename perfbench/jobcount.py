"""Spark job counts of all 25 bench headliners, from the event log.

    python3 perfbench/jobcount.py

Runs every headliner (``RegisteredQuery.headline``) over the repository's
sf0.01 tables in the pinned environment of ``perfbench/run.py``: a gate
pass against the DuckDB oracles, one pass that files each query's jobs under
its own job group, and the traced pass of the ``analytics`` workload. Prints
``jobs.<query>`` and ``build_jobs.<query>`` (jobs fired while the DataFrame
is built, source loads included) per query, their totals, and whether every
count repeated between the two passes. Exits 1 on any oracle mismatch or
count that did not repeat. Takes a few minutes at local[4].
"""

from __future__ import annotations

import argparse
import json
import os
import sys


def child(workdir: str) -> int:
    from sql_data_warehouse_and_analytics_project_spark.registry import all_queries
    from sql_data_warehouse_and_analytics_project_spark.session import get_spark

    from perfbench import harness, trace

    registry = all_queries()
    names = tuple(sorted(n for n, rq in registry.items() if rq.headline))
    run = harness.Analytics(seed=0, queries=names)
    run.prepare()
    spark = get_spark("perfbench-jobcount")
    try:
        groups = trace.JobGroups(spark.sparkContext)
        run.gate(spark)
        if not run.mismatches:
            run.timed_pass(spark, groups)
            _, tracer, ops = run.traced_pass(spark, groups)
    finally:
        spark.stop()
    if run.mismatches:
        print(json.dumps({"mismatches": run.mismatches}))
        return 1
    m = run.layer_metrics(tracer, ops, trace.read_event_log(os.path.join(workdir, "eventlog")))
    print(json.dumps({q: {"jobs": m[f"jobs.{q}"], "build_jobs": m[f"build_jobs.{q}"]} for q in names}))
    print(
        json.dumps(
            {
                "queries": len(names),
                "jobs.total": m["jobs.total"],
                "build_jobs.total": m["build_jobs.total"],
                "trace.jobs_repeat_mismatch": m["trace.jobs_repeat_mismatch"],
            }
        )
    )
    return 0 if m["trace.jobs_repeat_mismatch"] == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workdir", help=argparse.SUPPRESS)
    args = ap.parse_args()
    if args.workdir:
        return child(args.workdir)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from perfbench import run

    return run.run_pinned("jobcount", trace=True, timeout_s=900, module="perfbench.jobcount")


if __name__ == "__main__":
    sys.exit(main())
