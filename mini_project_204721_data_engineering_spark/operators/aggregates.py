"""Aggregation operators (SURVEY §2.4).

The reference's one non-trivial aggregate — the area-weighted mean
(``backend/app/utils.py:104-110``) — is a per-group Python loop there
(``groupby().apply(np.average)``).  Here it is the algebraic form
``sum(x*w)/sum(w)``, which Spark executes as partial (map-side) + final
aggregation: no Python, no per-group loop, and it scales linearly because
the partial aggregate combines before the shuffle.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["weighted_mean", "min_coord_step"]


def weighted_mean(
    df: DataFrame,
    group_cols: Sequence[str],
    value: Column,
    weight: Column,
    out_name: str = "wmean",
) -> DataFrame:
    """A1 grouped weighted mean: ``Σ(value·weight)/Σ(weight)`` per group."""
    return df.groupBy(*group_cols).agg(
        (F.sum(value * weight) / F.sum(weight)).alias(out_name)
    )


def min_coord_step(df: DataFrame, col: str) -> DataFrame:
    """A3 grid-resolution inference: min absolute difference between
    consecutive sorted distinct values (reference ``utils.py:113-114``).

    Distinct → window ``lag`` over the sorted values → global min.  The
    distinct set of grid coordinates is tiny regardless of fact size, so
    the single-partition window is safe at any scale.
    """
    from pyspark.sql.window import Window

    w = Window.orderBy(F.col(col))
    return (
        df.select(F.col(col)).distinct()
        .withColumn("_prev", F.lag(col).over(w))
        .where(F.col("_prev").isNotNull())
        .agg(F.min(F.abs(F.col(col) - F.col("_prev"))).alias("step"))
    )
