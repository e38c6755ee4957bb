"""Query corpus: every SURVEY §2 operator as a named (spark_fn, oracle_sql) pair.

Each submodule exposes ``QUERIES: dict[str, Callable[[SparkSession, str],
DataFrame]]`` and ``ORACLES: dict[str, str]`` (ANSI SQL for the DuckDB
correctness oracle; keys without an oracle get a rows-only check).

Oracle-parity rules used throughout (see tests/test_oracle_parity.py):
- every computed column is aliased identically in Spark and SQL
- aggregated doubles are rounded (sum→2dp, ratios/means→4dp) on BOTH sides
  because distributed partial aggregation sums in a different order than
  DuckDB's single-threaded fold
- timestamps are cast to DATE or formatted to strings at the output edge
- every ORDER BY used for pagination carries a unique tiebreaker
"""

from mini_project_204721_data_engineering_spark.queries import (
    serving,
    analytics,
    dashboard,
    windows,
    cleaning,
)

_MODULES = [serving, analytics, dashboard, windows, cleaning]

#: the external correctness driver evaluates at most this many queries();
#: all_queries() stays within it so every entry gets a driver row (a
#: maximum, not a quota: queries with no counterpart in the platform's
#: data model were retired by name).  all_extra_queries() holds the few
#: served or cleaning queries outside that contract (serving and
#: cleaning EXTRA_*), which tools/verify_local.py still checks against
#: their oracles
DRIVER_QUERY_BUDGET = 50


def all_queries():
    out = {}
    for m in _MODULES:
        out.update(m.QUERIES)
    if len(out) > DRIVER_QUERY_BUDGET:  # not assert: must survive python -O
        raise ValueError(
            f"{len(out)} driver-facing queries exceed the {DRIVER_QUERY_BUDGET}-query "
            "driver budget; move variants to a module's EXTRA_QUERIES"
        )
    return out


def all_oracles():
    out = {}
    for m in _MODULES:
        out.update(m.ORACLES)
    return out


def all_extra_queries():
    out = {}
    for m in _MODULES:
        out.update(getattr(m, "EXTRA_QUERIES", {}))
    return out


def all_extra_oracles():
    out = {}
    for m in _MODULES:
        out.update(getattr(m, "EXTRA_ORACLES", {}))
    return out
