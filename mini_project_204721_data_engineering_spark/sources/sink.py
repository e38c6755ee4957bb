"""Z-order (Morton) layout for snapshot compaction.

``snapshot_compact(zorder_by=...)`` lays its packed rewrite out along the
Z-curve of the given columns, so every output file owns a curve segment
with a small bounding box in each Z-column and manifest min/max stats
prune point and range filters on any of them, not just a leading sort
key.  Tables themselves are written through the snapshot log
(``sources/snapshots.py``).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["zorder_column", "zorder_layout"]


def _zorder_encode(df: DataFrame, c: str):
    """Order-preserving numeric encoding of column ``c`` for the Morton
    interleave — pure codegen, no sampling pass:

    - integer/float/double/decimal → cast double (the normalization
      below is double-domain anyway)
    - date → days since epoch (``datediff``)
    - timestamp → microseconds since epoch (``unix_micros``)
    - string → the first 7 bytes of the UTF-8 encoding, right-padded
      with 0x00, read as a big-endian integer: monotone in binary
      (byte-lexicographic) string order, which is exactly the order the
      manifest min/max stats compare in, so pruning agrees with the
      curve.  7 bytes (not 8) so the value fits the 63 positive bits of
      a signed long; strings sharing a 7-byte prefix land in the same
      bucket — the right collapse for clustering.

    Anything else (arrays, structs, maps, binary) refuses loudly: there
    is no total order a min/max prune could exploit."""
    dt = df.schema[c].dataType.simpleString()
    if dt in ("float", "double"):
        # NaN/±Inf would poison the min/max stats pass (span=NaN →
        # every scaled value NaN → ANSI CAST_OVERFLOW kills the whole
        # rewrite).  Map non-finite to NULL: the stats ignore them, the
        # scaled expression yields NULL → greatest(0, NULL) = bucket 0,
        # and finite values keep their full clustering.
        x = F.col(c).cast("double")
        return F.when(
            F.isnan(x) | (F.abs(x) == F.lit(float("inf"))), F.lit(None)
        ).otherwise(x)
    if dt in ("tinyint", "smallint", "int", "bigint") or dt.startswith("decimal"):
        return F.col(c).cast("double")
    if dt == "date":
        return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
    if dt == "timestamp":
        return F.unix_micros(F.col(c)).cast("double")
    if dt == "timestamp_ntz":
        # unix_micros REJECTS NTZ; timestamp_diff works on both flavors
        return F.timestamp_diff(
            "MICROSECOND",
            F.lit("1970-01-01 00:00:00").cast("timestamp_ntz"),
            F.col(c),
        ).cast("double")
    if dt == "string":
        q = c.replace("`", "``")  # backtick-safe: names with spaces etc.
        return F.expr(
            f"CAST(conv(hex(rpad(CAST(`{q}` AS BINARY), 7, X'00')), 16, 10) AS DOUBLE)"
        )
    raise ValueError(
        f"zorder_column: column {c!r} has unorderable type {dt} — "
        "Z-order needs an integer, float, decimal, date, timestamp, or "
        "string column"
    )


def zorder_column(df: DataFrame, cols: Sequence[str], bits: int = 16):
    """Z-order (Morton) key over ``cols`` as a Column.

    Each column is encoded to an order-preserving numeric
    (:func:`_zorder_encode` — integers directly; dates as epoch-days,
    timestamps as epoch-micros, strings as their big-endian 7-byte
    prefix), min/max-normalized to a ``bits``-bit integer in one stats
    pass (one tiny collect — bounds only), then the per-column bits are
    interleaved with pure shift/mask arithmetic (whole-stage codegen —
    no UDF).  The returned Column orders rows along the Z-curve.

    Why it matters at 100 TB: sorting a table by ``(a, b)`` gives
    perfect parquet min/max pruning on ``a`` but none on ``b``; Z-order
    gives BOTH columns ~sqrt-selectivity pruning — a point filter on
    either column overlaps only ~2^(bits/2) of the curve, so file- and
    row-group-level stats skip most of the table (asserted against real
    parquet footers in tests/test_layout.py).

    ``bits * len(cols)`` must fit in the 63 value bits of a signed long:
    the JVM wraps shift amounts mod 64, so an overflowing interleave
    would silently corrupt the curve order (and bit 63 is the sign bit).
    ``bits`` is auto-shrunk to ``63 // len(cols)`` when the default (or
    the caller's value) would overflow — e.g. 4 columns → 15 bits each.
    """
    if not cols:
        raise ValueError("zorder_column requires at least one column")
    bits = min(bits, 63 // len(cols))
    if bits < 1:
        raise ValueError(f"too many Z-order columns ({len(cols)}): need >=1 bit each")
    enc = {c: _zorder_encode(df, c) for c in cols}
    stats = df.agg(
        *[F.min(enc[c]).alias(f"__min_{c}") for c in cols],
        *[F.max(enc[c]).alias(f"__max_{c}") for c in cols],
    ).collect()[0]
    scaled = []
    for c in cols:
        lo, hi = stats[f"__min_{c}"], stats[f"__max_{c}"]
        if lo is None or hi is None:  # empty or all-null column: no order
            return F.lit(0).cast("long").alias("__zval")
        span = float(hi) - float(lo)
        if span <= 0:  # constant column: nothing to order on
            scaled.append(F.lit(0).cast("long"))
            continue
        # value → [0, 2^bits), scale computed in DOUBLE: the old long
        # form ((v - lo) * (2^bits - 1)) wrapped for spans above ~2^47
        # (epoch-micros, hash-derived ids), silently scrambling the
        # curve for exactly the wide-range columns Z-ordering targets —
        # and a max(1.0, span) floor would collapse sub-1.0 float spans
        # (probabilities, ratios) into a sliver of the bucket range.
        # Double ops are monotone, so ordering survives; sub-ULP
        # precision loss only coarsens bucket boundaries.
        scale = float((1 << bits) - 1) / span
        scaled.append(
            F.least(
                F.lit((1 << bits) - 1),
                F.greatest(
                    F.lit(0),
                    ((enc[c] - F.lit(float(lo))) * F.lit(scale)).cast("long"),
                ),
            )
        )
    z = F.lit(0).cast("long")
    n = len(cols)
    for b in range(bits):
        for i, s in enumerate(scaled):
            z = z + F.shiftleft(
                F.shiftright(s, b).bitwiseAND(F.lit(1)), b * n + i
            ).cast("long")
    return z.alias("__zval")


def zorder_layout(df: DataFrame, cols: Sequence[str], n_files: int) -> DataFrame:
    """``df`` laid out as ``n_files`` partitions along the Z-curve of
    ``cols``: range-partition on the Z-value (so each file owns a curve
    segment) and sort within partitions (so row groups within a file are
    tight too).  The curve segments give every file a small bounding box
    in (cols)-space — parquet min/max stats then prune point/range
    filters on ANY of the Z-columns, not just the leading sort key."""
    return (
        df.withColumn("__zval", zorder_column(df, cols))
        .repartitionByRange(n_files, "__zval")
        .sortWithinPartitions("__zval")
        .drop("__zval")
    )
