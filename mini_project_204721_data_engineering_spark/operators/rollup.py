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

__all__ = [
    "rollup_time",
    "reaggregate",
    "rollup_distinct",
    "reaggregate_distinct",
    "estimate_distinct",
    "rollup_histogram",
    "reaggregate_histogram",
    "estimate_percentile",
]

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


def rollup_distinct(
    df: DataFrame,
    ts_col: str,
    entity_col: str,
    keys: Sequence[str],
    grain: str,
    lg_k: int = 12,
) -> DataFrame:
    """Distinct-count rollup: per bucket/key, an HLL **sketch** of the
    entities (Apache DataSketches via ``hll_sketch_agg`` — Spark 3.5+).

    ``count(DISTINCT x)`` is NOT algebraic — daily exact counts can't be
    summed into a monthly one.  The sketch is the mergeable form: a fixed
    ~2^lg_k-byte binary per group that unions exactly (union of sketches
    ≡ sketch of the union, asserted in tests), which is what lets a
    100 TB store serve "distinct users this month" from its daily rollup
    without rescanning raw events.  At lg_k=12 the estimate holds ~±1.6%.
    """
    return df.groupBy(
        F.date_trunc(grain, F.col(ts_col)).alias("bucket"), *keys
    ).agg(F.hll_sketch_agg(F.col(entity_col), F.lit(lg_k)).alias("entity_sketch"))


def reaggregate_distinct(fine: DataFrame, keys: Sequence[str], grain: str) -> DataFrame:
    """Coarsen a :func:`rollup_distinct` output by unioning sketches —
    byte-exact with sketching the raw span directly (merge associativity)."""
    return fine.groupBy(
        F.date_trunc(grain, F.col("bucket")).alias("bucket"), *keys
    ).agg(F.hll_union_agg("entity_sketch").alias("entity_sketch"))


def estimate_distinct(rollup: DataFrame) -> DataFrame:
    """Serve a sketch rollup: replace the binary sketch with its
    cardinality estimate."""
    return rollup.withColumn(
        "n_distinct", F.hll_sketch_estimate("entity_sketch")
    ).drop("entity_sketch")


def rollup_histogram(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    keys: Sequence[str],
    grain: str,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Percentile rollup: per bucket/key, an equi-width histogram of
    ``value_col`` over [lo, hi] — rows of (bucket, keys..., bin, n).

    Like ``count(DISTINCT)``, exact percentiles are not algebraic — a
    daily p95 can't be combined into a weekly one.  Histogram counts ARE
    (bin counts sum across any regrouping), so the rollup serves
    percentile estimates at every grain from one fine table, error
    bounded by bin width.  ``width_bucket`` is pure codegen; bins 0 and
    n_bins+1 hold underflow/overflow so nothing is silently dropped.
    """
    return df.groupBy(
        F.date_trunc(grain, F.col(ts_col)).alias("bucket"),
        *keys,
        F.width_bucket(F.col(value_col), F.lit(lo), F.lit(hi), F.lit(n_bins)).alias(
            "bin"
        ),
    ).agg(F.count(F.lit(1)).alias("n"))


def reaggregate_histogram(
    fine: DataFrame, keys: Sequence[str], grain: str
) -> DataFrame:
    """Coarsen a histogram rollup: re-bucket time and SUM bin counts —
    exact (no re-estimation error accumulates across grains)."""
    return fine.groupBy(
        F.date_trunc(grain, F.col("bucket")).alias("bucket"), *keys, "bin"
    ).agg(F.sum("n").alias("n"))


def estimate_percentile(
    hist: DataFrame,
    keys: Sequence[str],
    p: float,
    lo: float,
    hi: float,
    n_bins: int = 128,
) -> DataFrame:
    """Serve percentile ``p`` from a histogram rollup: per (bucket,
    keys), walk the cumulative bin counts to the target rank and return
    the covering bin's upper edge — error ≤ one bin width ((hi−lo)/n_bins)
    for percentiles landing inside [lo, hi).  When the target rank lands
    in the OVERFLOW bin (values ≥ hi) the edge would be an arbitrarily
    loose lower bound, so the estimate is NULL — the honest answer is
    "above hi, rebuild the rollup with a wider range".  The underflow
    bin (values < lo) reports ``lo``: a true upper bound, though the
    one-bin-width error claim doesn't apply there either.
    One keyed window pass; no raw-data rescan."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("bucket", *keys).orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    wall = Window.partitionBy("bucket", *keys)
    width = (hi - lo) / n_bins
    cum = hist.withColumn("cum", F.sum("n").over(w)).withColumn(
        "total", F.sum("n").over(wall)
    )
    hit = cum.filter(F.col("cum") >= F.col("total") * p)
    first_hit = hit.groupBy("bucket", *keys).agg(F.min("bin").alias("bin"))
    return first_hit.select(
        "bucket",
        *keys,
        # bin b covers (lo + (b-1)·width, lo + b·width]; report the upper
        # edge — unless b is the overflow bin, where no finite edge bounds
        # the true percentile
        F.when(
            F.col("bin") <= F.lit(n_bins),
            F.lit(lo) + F.col("bin") * F.lit(width),
        ).alias(f"p{int(p * 100)}_est"),
    )
