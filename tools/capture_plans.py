"""Capture .explain("formatted") for headline (and optionally all) queries.

Usage: python tools/capture_plans.py <outdir> [suffix] [query ...]

Writes <outdir>/<query>_<suffix>.txt with the formatted physical plan and
a one-line shape summary (Exchange / join-strategy / Python-eval counts).
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUTDIR = sys.argv[1] if len(sys.argv) > 1 else "plans/r15"
SUFFIX = sys.argv[2] if len(sys.argv) > 2 else "before"
ONLY = set(sys.argv[3:])

HEADLINE = [
    "dashboard_probability",
    "pricing_summary",
    "weighted_mean_price",
    "volume_by_nation",
    "list_orders_page",
    "list_lineitem_page",
    "incident_counts",
    "dedup_first_event",
    "order_item_counts",
    "union_dedup",
    "new_events_only",
    "discount_class",
    "top_return_customers",
    "daily_activity",
    "events_rollup_daily",
    "events_asof_spend",
]


def shape_summary(plan: str) -> str:
    counts = {
        "Exchange": len(re.findall(r"\bExchange\b", plan)),
        "BroadcastHashJoin": plan.count("BroadcastHashJoin"),
        "SortMergeJoin": plan.count("SortMergeJoin"),
        "ShuffledHashJoin": plan.count("ShuffledHashJoin"),
        "CartesianProduct": plan.count("CartesianProduct"),
        "BroadcastNestedLoopJoin": plan.count("BroadcastNestedLoopJoin"),
        "BatchEvalPython": plan.count("BatchEvalPython"),
        "ArrowEvalPython": plan.count("ArrowEvalPython"),
        "TakeOrderedAndProject": plan.count("TakeOrderedAndProject"),
        "Sort": len(re.findall(r"\bSort\b", plan)),
        "HashAggregate": plan.count("HashAggregate"),
        "ObjectHashAggregate": plan.count("ObjectHashAggregate"),
        "SortAggregate": plan.count("SortAggregate"),
        "Window": len(re.findall(r"\bWindow\b", plan)),
    }
    return ", ".join(f"{k}={v}" for k, v in counts.items() if v)


def main() -> None:
    import __spark_entry__ as entrymod
    from mini_project_204721_data_engineering_spark import queries as _q
    from mini_project_204721_data_engineering_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("capture-plans")
    qs = {**entrymod.queries(), **_q.all_extra_queries()}
    os.makedirs(OUTDIR, exist_ok=True)
    names = sorted(ONLY) if ONLY else HEADLINE
    for name in names:
        fn = qs.get(name)
        if fn is None:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        df = fn(spark, sf_dir)
        formatted = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUTDIR, f"{name}_{SUFFIX}.txt")
        with open(path, "w") as f:
            f.write(f"== {name} ({SUFFIX}) sf_dir={sf_dir} ==\n")
            f.write(f"== shape: {shape_summary(formatted)} ==\n\n")
            f.write(formatted)
        print(f"{name}: {shape_summary(formatted)}")


if __name__ == "__main__":
    main()
