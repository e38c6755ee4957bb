"""Plan-shape checks: the 100 TB health properties, asserted in tests.

These inspect the *executed/spark plan string* for the properties that
decide whether a query survives scale-up (SURVEY §4.2):

- filters reached the parquet scan (``PushedFilters``/``DataFilters``)
- the scan reads only needed columns (``ReadSchema``)
- dimension joins are broadcast-hash, not shuffle
- pagination compiles to ``TakeOrderedAndProject`` (top-k), never a
  global ``Sort`` + ``GlobalLimit`` over the full data
- shuffle (Exchange) count matches the dataflow's minimum
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "physical_plan",
    "has_pushed_filters",
    "broadcast_join_count",
    "has_take_ordered",
    "shuffle_count",
    "scan_columns",
]


def physical_plan(df: DataFrame) -> str:
    """Executed physical plan as text, each adaptive plan once: its
    initial plan.

    Once an adaptive plan has run, Spark prints it twice, a "Final" (or
    "Current") plan above its "Initial" one; a persisted DataFrame's
    cached plan prints inside both copies of the outer plan.  Counting
    that text would count a kept page's nodes four times.  The
    non-initial sections are dropped here, so the checks read the same
    text before and after a DataFrame runs."""
    text = df._jdf.queryExecution().executedPlan().toString()
    lines: list[str] = []
    skip_below = None  # depth of the section marker being dropped
    for line in text.splitlines():
        depth = len(line) - len(line.lstrip(" :"))
        if skip_below is not None and depth > skip_below:
            continue
        skip_below = None
        label = line.strip(" :+-")
        if label in ("== Final Plan ==", "== Current Plan =="):
            skip_below = depth
        elif label != "== Initial Plan ==":
            lines.append(line)
    return "\n".join(lines)


def has_pushed_filters(df: DataFrame, fragment: str) -> bool:
    """True if a scan node carries a pushed/data filter mentioning
    ``fragment`` (column name or literal)."""
    plan = physical_plan(df)
    for line in plan.splitlines():
        if ("PushedFilters" in line or "DataFilters" in line) and fragment in line:
            return True
    return False


def broadcast_join_count(df: DataFrame) -> int:
    return physical_plan(df).count("BroadcastHashJoin")


def has_take_ordered(df: DataFrame) -> bool:
    """Pagination health: top-k execution instead of a global sort."""
    return "TakeOrderedAndProject" in physical_plan(df)


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges (excluding broadcast exchanges)."""
    plan = physical_plan(df)
    return len(re.findall(r"(?<!Broadcast)Exchange (?:hashpartitioning|rangepartitioning|SinglePartition)", plan))


def scan_columns(df: DataFrame, table_path_fragment: str) -> list[str]:
    """Columns actually read by the scan whose path matches the fragment
    (column pruning check)."""
    plan = physical_plan(df)
    for line in plan.splitlines():
        if "FileScan parquet" in line and table_path_fragment in line:
            m = re.search(r"FileScan parquet \[([^\]]*)\]", line)
            if m:
                return [c.split("#")[0].strip() for c in m.group(1).split(",")]
    return []
