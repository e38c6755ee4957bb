"""Hypertable-style rollup cascade (extension — the reference stores one
fixed daily grain, ``backend/app/utils.py:42-46``; a 100 TB event store
wants multi-resolution continuous aggregates).

``rollup_time(df, ...)`` aggregates raw events to a fine grain (e.g.
hour); ``reaggregate(fine, ...)`` derives any coarser grain FROM the fine
rollup instead of rescanning raw data.  All measures are kept algebraic —
(count, sum) pairs, never averages — so re-aggregation is exact: at scale
the daily/weekly/monthly views read the hourly rollup (~10⁴× smaller than
raw), which is the whole point of a continuous-aggregate design.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["rollup_time", "reaggregate"]

#: measure columns produced at every grain — algebraic, so any coarser
#: grain is sum(count), sum(sum) of a finer one
_MEASURES = ("n", "value_sum")


def rollup_time(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str],
    grain: str,
) -> DataFrame:
    """Aggregate raw rows to ``grain`` (a ``date_trunc`` unit: 'hour',
    'day', 'week', ...) per key: (n, value_sum)."""
    return (
        df.groupBy(
            F.date_trunc(grain, F.col(ts_col)).alias("bucket"), *keys
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(value_col).alias("value_sum"),
        )
    )


def reaggregate(fine: DataFrame, keys: Sequence[str], grain: str) -> DataFrame:
    """Coarsen an existing rollup: re-bucket ``bucket`` to ``grain`` and
    sum the algebraic measures.  Input is a :func:`rollup_time` output (or
    another :func:`reaggregate` output — the cascade composes)."""
    return (
        fine.groupBy(
            F.date_trunc(grain, F.col("bucket")).alias("bucket"), *keys
        ).agg(
            F.sum("n").alias("n"),
            F.sum("value_sum").alias("value_sum"),
        )
    )
