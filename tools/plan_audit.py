"""Physical-plan audit over the whole catalog.

For every catalog query, compiles the executed plan at the given SF and
counts the markers that decide 100 TB behavior: shuffles (Exchange),
broadcast joins, sort-merge joins, cartesian products, Python
evaluation nodes, single-partition windows, and whole-stage codegen
spans.  Writes a markdown table to stdout (redirect to PLAN_AUDIT.md).

Usage: python tools/plan_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from delta_lake_gcp_implementation_spark.plans import CATALOG  # noqa: E402
from delta_lake_gcp_implementation_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"


def audit(plan: str) -> dict:
    return {
        "exchanges": len(re.findall(r"\bExchange (?:hash|range)partitioning", plan)),
        "single_part": len(re.findall(r"Exchange SinglePartition", plan)),
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "cartesian": plan.count("CartesianProduct")
        + plan.count("BroadcastNestedLoopJoin"),
        "python": plan.count("EvalPython"),
        "codegen": len(set(re.findall(r"\*\((\d+)\)", plan))),
        "pushed": 1 if "PushedFilters: [" in plan and "PushedFilters: []" not in plan else 0,
        # double-computation detector (the r7/r8 ann_* finding class):
        # a subtree feeding N consumers shows up as N parquet scans
        # with no ReusedExchange — scans far above the query's distinct
        # source-table count mean an arm is re-running per consumer
        "scans": plan.count("Scan parquet"),
        "reused": plan.count("ReusedExchange"),
    }


def main() -> None:
    spark = get_spark(app_name="plan_audit")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"# Plan audit at {SF_DIR}\n")
    print(
        "| query | shuffles | 1-part | BHJ | SMJ | SHJ | nested-loop | "
        "py-eval | codegen spans | scans | reused |"
    )
    print("|---|---|---|---|---|---|---|---|---|---|---|")
    totals = {"cartesian": 0, "python": 0}
    for name, spec in CATALOG.items():
        try:
            df = spec.builder(spark, SF_DIR)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # pragma: no cover - audit robustness
            print(f"| {name} | ERROR: {type(e).__name__} | | | | | | | | | |")
            continue
        a = audit(plan)
        totals["cartesian"] += a["cartesian"]
        totals["python"] += a["python"]
        print(
            f"| {name} | {a['exchanges']} | {a['single_part']} | {a['bhj']} "
            f"| {a['smj']} | {a['shj']} | {a['cartesian']} | {a['python']} "
            f"| {a['codegen']} | {a['scans']} | {a['reused']} |"
        )
    print()
    print(
        f"Totals across the catalog: {totals['cartesian']} nested-loop "
        f"joins (expected only for deliberate spine/total cross joins), "
        f"{totals['python']} Python eval nodes (expected 0)."
    )
    spark.stop()


if __name__ == "__main__":
    main()
