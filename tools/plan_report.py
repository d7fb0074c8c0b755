"""Static plan-shape report over the full query registry.

For every ``queries()`` entry, formats the optimized physical plan and
extracts the shape signals that matter at 100 TB:

- ``exchanges``: shuffle count (Exchange nodes) — the dominant cost.
- ``broadcasts``: BroadcastExchange count (must be bounded frames).
- ``bnlj`` / ``cartesian``: nested-loop / cartesian joins (audited
  against the whitelist in tests/test_scale_audit.py).
- ``smj`` / ``bhj`` / ``shj``: sort-merge / broadcast-hash /
  shuffled-hash join counts — how Catalyst chose to join.
- ``codegen_spans``: WholeStageCodegen regions (wider = more of the
  query runs fused JVM loops).
- ``scans`` / ``pushed``: parquet scans and how many carry pushed
  filters (predicate pushdown reaching the scan).
- ``aqe``: whether the plan is adaptive.

Usage: python tools/plan_report.py [sf_dir] [out_json]
Writes PLAN_REPORT.json next to the repo root by default. Streaming
replay queries that cannot be explained statically are tagged
``opaque`` (same list the scale audit skips).
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    import __spark_entry__ as m
    from det_module_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out_path = sys.argv[2] if len(sys.argv) > 2 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "PLAN_REPORT.json",
    )
    from tests.test_scale_audit import PLAN_OPAQUE  # single source of truth

    spark = get_spark("plan-report")
    report: dict[str, dict] = {}
    for name, fn in m.queries().items():
        if name in PLAN_OPAQUE:
            report[name] = {"opaque": True}
            continue
        plan = _explain(fn(spark, sf_dir))
        scans = len(re.findall(r"Scan parquet", plan))
        pushed = len(
            re.findall(r"PushedFilters: \[(?!\])", plan)
        )
        report[name] = {
            "exchanges": len(re.findall(r"\bExchange\b", plan)),
            "broadcasts": len(re.findall(r"BroadcastExchange", plan)),
            "bnlj": len(re.findall(r"BroadcastNestedLoopJoin", plan)),
            "cartesian": len(re.findall(r"CartesianProduct", plan)),
            "smj": len(re.findall(r"SortMergeJoin", plan)),
            "bhj": len(re.findall(r"BroadcastHashJoin", plan)),
            "shj": len(re.findall(r"ShuffledHashJoin", plan)),
            "codegen_spans": len(
                re.findall(r"WholeStageCodegen \(\d+\)", plan)
            ),
            "scans": scans,
            "pushed": pushed,
            "aqe": "AdaptiveSparkPlan" in plan,
        }
        print(f"# {name}: {report[name]}", file=sys.stderr)

    totals = {
        "n_queries": len(report),
        "opaque": sum(1 for v in report.values() if v.get("opaque")),
        "with_cartesian": sum(
            1 for v in report.values() if v.get("cartesian")
        ),
        "with_bnlj": sum(1 for v in report.values() if v.get("bnlj")),
        "exchanges_total": sum(
            v.get("exchanges", 0) for v in report.values()
        ),
        "scans_total": sum(v.get("scans", 0) for v in report.values()),
        "scans_with_pushdown": sum(
            v.get("pushed", 0) for v in report.values()
        ),
    }
    with open(out_path, "w") as f:
        json.dump({"sf_dir": sf_dir, "totals": totals, "queries": report}, f,
                  indent=1, sort_keys=True)
    print(json.dumps(totals))


if __name__ == "__main__":
    main()
