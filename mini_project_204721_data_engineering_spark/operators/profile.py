"""Key-skew profiling: the distribution of group sizes under a key set,
the one-row diagnostic :func:`operators.skew.recommend_salt` reads.
"""

from __future__ import annotations

__all__ = ["key_skew_profile"]


def key_skew_profile(df, keys, include_keys: bool = False):
    """The salting decision in one row: the distribution of group sizes
    under ``keys`` — (n_groups, total_rows, max_group, p50/p99 group
    size, hot_share = max/total).  Reading: p99 ≈ p50 → uniform keys,
    plain groupBy/join is fine; max ≫ p99 (or hot_share ≳ a reducer's
    fair share 1/shuffle-partitions) → salt the aggregate or replicate
    the join (operators/skew.py).  One map-side-combined count per
    group plus an exact percentile over the |groups|-sized count table
    (at extreme cardinality swap percentile→percentile_approx).

    ``include_keys=True`` appends a ``keys`` column — the profiled key
    list as a JSON array string (JSON, not comma-joined: a column name
    may itself contain a comma) — so a CACHED profile carries its own
    provenance and ``recommend_salt(profile=...)`` can refuse a profile
    computed for different keys instead of silently replaying it.
    (Opt-in to keep the default schema stable for existing callers.)"""
    import json

    from pyspark.sql import functions as F

    counts = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("__n"))
    aggs = [
        F.count(F.lit(1)).alias("n_groups"),
        F.sum("__n").alias("total_rows"),
        F.max("__n").alias("max_group"),
        F.expr("percentile(__n, 0.5)").alias("p50_group"),
        F.expr("percentile(__n, 0.99)").alias("p99_group"),
        F.round(F.max("__n") / F.sum("__n"), 6).alias("hot_share"),
    ]
    if include_keys:
        # RESOLVED names from the grouped frame, not str(k): a Column
        # key (legal for groupBy) would otherwise record repr garbage
        # and fail its own legitimate replay in recommend_salt
        names = counts.columns[:-1]  # group columns precede __n
        aggs.append(F.lit(json.dumps(names)).alias("keys"))
    return counts.agg(*aggs)
