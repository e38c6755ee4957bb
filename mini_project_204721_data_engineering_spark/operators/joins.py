"""Join operators (SURVEY §2.3).

The reference's joins are all equi-joins executed by pandas ``merge`` or the
Postgres planner; here they are declarative DataFrame joins so Catalyst/AQE
choose broadcast-hash vs sort-merge from actual sizes.

Scale notes
-----------
- Anti/semi joins (J8/J9/J13) are first-class Spark join types — no
  indicator-column trick needed, and they stay null-safe and shuffle-
  partitioned on the key.
- The side-upload pipelines (``pipelines/risk.py``,
  ``pipelines/incidents.py``) join upload-sized frames against the dims
  on the driver, in pandas; their idempotent append (J9) reads the
  existing keys of the upload's date range only.  The operators here
  serve the queries.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["anti_join", "semi_join", "asof_join"]


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """J8/J9: rows of ``left`` whose key has no match in ``right``.

    Reference does this with merge ``indicator=True`` +
    ``_merge == "left_only"`` (``backend/app/utils.py:393-398,578-591``);
    Spark's ``left_anti`` is the native form.
    """
    return left.join(right.select(*on).dropDuplicates(list(on)), list(on), "left_anti")


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """J13: rows of ``left`` that have at least one match in ``right``."""
    return left.join(right.select(*on).dropDuplicates(list(on)), list(on), "left_semi")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
    payload: Sequence[str],
    payload_nonnull: bool = False,
    tolerance: str | None = None,
) -> DataFrame:
    """As-of join (extension — absent from the reference, SURVEY §2.3 notes
    "no as-of joins"): for every ``left`` row, attach the ``payload``
    columns of the latest ``right`` row with the same key whose
    ``right_time`` <= ``left_time`` (inclusive); nulls when no prior row.

    Implementation is the scalable union-and-scan form, NOT a range join:
    tag both sides, union, one shuffle on the key, then a single ordered
    window pass carrying the last right row forward.  The payload travels
    as ONE struct column through ``last(..., ignorenulls=True)`` — so a
    legitimately-NULL payload field of the matched right row stays NULL,
    and every payload column comes from the SAME right row (per-column
    fill could mix rows), matching pandas ``merge_asof`` / DuckDB ASOF
    semantics.  Cost is one shuffle + one sort — no per-row range probe,
    no broadcast of a time index, so it survives 100 TB fact-fact as-of
    joins.  Right-side rows must be unique per (key, time) for
    deterministic output — pre-aggregate if not.

    Both time columns must share a comparable type (cast beforehand).
    At equal timestamps the right row wins (inclusive semantics, matching
    DuckDB ``ASOF LEFT JOIN ... ON l.t >= r.t``).

    ``tolerance`` is a SQL expression for the maximum allowed
    ``left_time − right_time`` staleness (``"INTERVAL '1' HOUR"`` for
    timestamps, a numeric literal for numeric axes): a match older than
    the tolerance yields NULL payloads, same as pandas
    ``merge_asof(tolerance=...)``.  It is a post-fill filter on the one
    carried right-timestamp — the plan shape (one shuffle + one sort)
    does not change.

    ``payload_nonnull=True`` is the caller's promise that every payload
    column is non-null on every right row (true whenever the payload is
    group keys + count/sum aggregates).  Then per-column
    ``last(ignorenulls)`` fill necessarily picks every column from the
    SAME (latest) right row, so the struct wrapper is unnecessary and the
    window runs over flat primitive columns — measurably cheaper than
    carrying a nested struct through the sort (the struct form cost the
    r2 bench +27% on ``events_asof_spend``).  Leave it False when any
    payload field can be NULL: per-column fill would skip back past the
    matched row for just that field and mix rows.
    """
    from pyspark.sql.window import Window

    keys = list(on)
    lcols = [c for c in left.columns]
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__t").asc(), F.col("__side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    if payload_nonnull:
        # the right-timestamp is carried (as one more filled column) only
        # when a tolerance needs it — the default path pays nothing
        pay_types = {p: right.schema[p].dataType for p in payload}
        l_extra, r_extra = [], []
        if tolerance is not None:
            rt_type = right.schema[right_time].dataType
            l_extra = [F.lit(None).cast(rt_type).alias("__p___rt")]
            r_extra = [F.col(right_time).alias("__p___rt")]
        l = left.select(
            *lcols,
            F.col(left_time).alias("__t"),
            F.lit(1).alias("__side"),
            *[F.lit(None).cast(pay_types[p]).alias(f"__p_{p}") for p in payload],
            *l_extra,
        )
        names = [f"__p_{p}" for p in payload] + (
            ["__p___rt"] if tolerance is not None else []
        )
        r = right.select(
            *[F.col(k) for k in keys],
            *[
                F.lit(None).cast(left.schema[c].dataType).alias(c)
                for c in lcols
                if c not in keys
            ],
            F.col(right_time).alias("__t"),
            F.lit(0).alias("__side"),
            *[F.col(p).alias(f"__p_{p}") for p in payload],
            *r_extra,
        ).select(*lcols, "__t", "__side", *names)
        filled = l.unionByName(r).select(
            *lcols,
            "__t",
            "__side",
            *[F.last(c, ignorenulls=True).over(w).alias(c) for c in names],
        )
        if tolerance is None:
            return filled.filter(F.col("__side") == 1).select(
                *lcols, *[F.col(f"__p_{p}").alias(p) for p in payload]
            )
        ok = (F.col("__t") - F.col("__p___rt")) <= F.expr(tolerance)
        return filled.filter(F.col("__side") == 1).select(
            *lcols, *[F.when(ok, F.col(f"__p_{p}")).alias(p) for p in payload]
        )
    pay_fields = [F.col(p).alias(p) for p in payload]
    if tolerance is not None:
        pay_fields.append(F.col(right_time).alias("__rt"))
    pay_struct = F.struct(*pay_fields)
    pay_type = (
        right.select(pay_struct.alias("__pay")).schema["__pay"].dataType
    )
    l = left.select(
        *lcols,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(pay_type).alias("__pay"),
    )
    r = right.select(
        *[F.col(k) for k in keys],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lcols if c not in keys],
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__side"),
        pay_struct.alias("__pay"),
    ).select(*lcols, "__t", "__side", "__pay")
    filled = l.unionByName(r).select(
        *lcols,
        "__t",
        "__side",
        F.last("__pay", ignorenulls=True).over(w).alias("__pay"),
    )
    if tolerance is None:
        return (
            filled.filter(F.col("__side") == 1)
            .select(*lcols, *[F.col(f"__pay.{p}").alias(p) for p in payload])
        )
    ok = (F.col("__t") - F.col("__pay.__rt")) <= F.expr(tolerance)
    return filled.filter(F.col("__side") == 1).select(
        *lcols, *[F.when(ok, F.col(f"__pay.{p}")).alias(p) for p in payload]
    )
