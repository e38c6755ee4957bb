"""Deduplication operators (SURVEY §2.4 A8/A9).

Pandas ``drop_duplicates(keep="first")`` depends on implicit file order;
distributed execution has no such order, so ``dedup_keep_first`` requires
an explicit deterministic ordering (SURVEY §7 hard-part #3).
"""

from __future__ import annotations

from decimal import Decimal
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "dedup_keep_first",
    "dedup_keep_first_packed",
    "packed_order_key",
    "unpack_minor",
]

#: radix for :func:`packed_order_key`'s minor component — strictly greater
#: than the largest BIGINT (9.22e18 < 1e19), so any non-negative bigint
#: minor occupies exactly one "digit" of the packed decimal.
PACKED_MINOR_RADIX = Decimal(10**19)


def packed_order_key(major: Column, minor: Column) -> Column:
    """(major, minor) lexicographic order packed into ONE decimal(38,0).

    Spark's HashAggregate requires fixed-width mutable aggregation
    buffers; ``min(struct(...))`` therefore falls back to SortAggregate —
    a full sort of every map partition (r15 measurement: the guide §2
    "per-task work" tax on every keep-first/arg-extreme aggregation).
    Decimals ARE mutable buffer types at every precision, so packing a
    two-part ordering key into one decimal keeps ``min``/``min_by``/
    ``max_by`` hash-aggregable with map-side combine.

    ``pack = major * 1e19 + minor`` is order-isomorphic to the tuple
    (major, minor) for ANY bigint ``major`` (negatives included: with
    0 <= minor < R, major1 < major2 implies major1*R + minor1 <
    (major1+1)*R <= major2*R + minor2) — the ONLY precondition is that
    ``minor`` is a non-negative bigint (every generated/surrogate id in
    this schema).  |major| < 9.3e18 keeps the product under 9.3e37 <
    1e38, so decimal(38,0) arithmetic is exact and cannot overflow.
    """
    return major.cast("decimal(38,0)") * F.lit(PACKED_MINOR_RADIX) + minor.cast(
        "decimal(38,0)"
    )


def unpack_minor(packed: Column) -> Column:
    """Recover the minor (id) component of a :func:`packed_order_key`.

    ``pmod``, not ``%``: for a negative major the packed value is
    negative and ``%`` would follow the dividend's sign; pmod returns the
    true non-negative minor digit for every major.
    """
    return F.pmod(packed, F.lit(PACKED_MINOR_RADIX)).cast("long")


def dedup_keep_first(
    df: DataFrame, keys: Sequence[str], order: Sequence[Column]
) -> DataFrame:
    """A9: keep exactly one row per key, the first under ``order``.

    ``row_number`` over a window partitioned by the dedup keys — the
    partial sort happens within each hash partition of the key, so the
    shuffle is the same one a groupBy would need; no global sort.
    Accepts arbitrary ``Column`` orderings (desc, expressions); when only
    the winning row's id is needed, prefer
    :func:`dedup_keep_first_packed` — it map-side-combines.
    """
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn")
    )


def dedup_keep_first_packed(
    df: DataFrame,
    keys: Sequence[str],
    order_major: Column,
    id_col: str,
) -> DataFrame:
    """A9, id-projection form: per key, the ``id_col`` value of the first
    row under ``(order_major, id_col)`` ascending — as a PURE
    HashAggregate (r15; guide §2 "the distributed algorithm").

    A ``min(struct(...))`` keep-first must fall back to SortAggregate
    because its buffer is not mutable; when the caller only
    needs the winning row's id (the ``dedup_first_event`` shape — and any
    keep-first whose payload can be re-attached by id), packing the
    ordering into one decimal via :func:`packed_order_key` keeps the
    whole aggregation hash-based with map-side combine: no per-partition
    sort, one candidate per key per map partition crosses the shuffle.

    Preconditions (documented, not checked per-row): ``id_col`` is a
    non-negative bigint and unique per row (making the order total);
    ``order_major`` is any bigint expression — epoch micros of a
    timestamp, a version number, etc.
    """
    packed = packed_order_key(order_major, F.col(id_col))
    return (
        df.groupBy(*keys)
        .agg(F.min(packed).alias("__packed"))
        .select(*keys, unpack_minor(F.col("__packed")).alias(id_col))
    )
