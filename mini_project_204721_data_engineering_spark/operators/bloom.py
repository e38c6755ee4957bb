"""Split-block Bloom-filter join pruning.

Spark's optimizer injects runtime bloom filters for some shuffle joins
on its own (``spark.sql.optimizer.runtime.bloomFilter.enabled``); this
is the *declarative* operator for the shapes it can't infer: pruning a
fact stream before an expensive verify join, before a Python-UDF stage,
or against a build side computed by another engine pass.

Construction is the parquet SBBF idea, everything JVM-side codegen:

- a key maps to ONE 64-bit word (``pmod(xxhash64(keys), n_words)``) and
  an 8-bit mask within it (8 × 6-bit positions from a second hash);
- the filter is a tiny ``(word_idx, bits)`` DataFrame built with
  ``bit_or`` aggregation (map-side combined — shuffle volume is at most
  partitions × n_words words, never key-count) — NOTHING is ever
  collected to the driver;
- the probe side broadcast-joins that table on the 8-byte word index
  and keeps rows with ``bits & mask = mask``.

The words table is n_bits/8 bytes — ~25-50× smaller than the key
strings it stands for, so broadcastability extends by that factor over
a raw broadcast semi-join.  fpp for this split-block construction is
higher than the classic k=8 Bloom bound at the same bit budget (all 8
bits land in ONE word, so block-load variance and probe-position
collisions both cost); sizing therefore uses the SBBF-specific model
(:func:`_sbbf_fpp` — Poisson block loads × the exact with-replacement
probe-collision distribution, the analysis of Putze/Sanders/Singler's
blocked filters specialized to this construction) and picks the
smallest word count whose PREDICTED rate clears the request with a
20% margin for hash nonuniformity — so the MEASURED rate lands
at-or-under the requested fpp (property-pinned), at ~1.2-1.5× the
classic bits instead of the old formula's 2-3× fpp overshoot.  A bare
:func:`bloom_filter` is a SUPERSET of the true semi-join (false
positives, never false negatives — property-pinned);
:func:`bloom_semi_join` adds the exact verify join, whose output is
IDENTICAL to a plain semi-join (oracle-checked) while only the
~fpp-sized survivor set ever reaches the shuffle.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["BloomFilter", "build_bloom", "bloom_filter", "bloom_semi_join"]

_SEED2 = 1337  # second-hash seed; must match build and probe
_MASK_SQL_TMPL = "|".join(
    f"shiftleft(1L, cast((%(h2)s >> {6 * i}) & 63 AS INT))" for i in range(8)
)


@dataclass(frozen=True)
class BloomFilter:
    """The built filter: the (word_idx, bits) table plus its geometry.
    ``words`` is a lazy DataFrame — building a BloomFilter launches no
    job when ``n_items`` was supplied."""

    words: DataFrame
    n_words: int
    fpp: float


def _hashed(df: DataFrame, keys: Sequence[str], n_words: int) -> DataFrame:
    """Attach (__word, __mask) for the given key columns.  Rows with any
    NULL key are dropped — mirroring equi-join semantics, where a NULL
    key can never match."""
    reserved = {"__h2", "__word", "__mask", "__bits"} & set(df.columns)
    if reserved:
        raise ValueError(
            f"columns {sorted(reserved)} collide with bloom internals — "
            "rename them before the bloom call"
        )
    cols = [F.col(k) for k in keys]
    notnull = cols[0].isNotNull()
    for c in cols[1:]:
        notnull = notnull & c.isNotNull()
    h2 = F.xxhash64(*cols, F.lit(_SEED2))
    return (
        df.filter(notnull)
        .withColumn("__h2", h2)
        .withColumn("__word", F.pmod(F.xxhash64(*cols), F.lit(n_words)))
        .withColumn("__mask", F.expr(_MASK_SQL_TMPL % {"h2": "__h2"}))
        .drop("__h2")
    )


def _probe_distinct_dist(draws: int = 8, domain: int = 64) -> list[float]:
    """Exact distribution of the number of DISTINCT positions among
    ``draws`` with-replacement uniform draws from ``domain`` — the
    probe mask's true footprint (two colliding 6-bit positions only
    need one set bit, raising fpp above the naive (1−q)^8)."""
    dist = {0: 1.0}
    for _ in range(draws):
        nxt: dict[int, float] = {}
        for d, p in dist.items():
            nxt[d + 1] = nxt.get(d + 1, 0.0) + p * (domain - d) / domain
            nxt[d] = nxt.get(d, 0.0) + p * d / domain
        dist = nxt
    return [dist.get(d, 0.0) for d in range(draws + 1)]


_PROBE_DIST = _probe_distinct_dist()


def _sbbf_fpp(n_items: int, n_words: int) -> float:
    """Predicted fpp of THIS construction: keys land in one 64-bit word
    each (loads ~Poisson(n/m)); a key's 8 insert positions are drawn
    with replacement, so the bit-zero probability after j keys is
    exactly (1−1/64)^(8j); a probe matches when all of its DISTINCT
    positions (d ~ _PROBE_DIST) are set: fpp = E_j E_d[(1−q_j)^d]."""
    lam = n_items / n_words
    hi = int(lam + 12 * math.sqrt(lam) + 25)
    total = 0.0
    logp = -lam  # log Poisson pmf at j=0
    for j in range(hi + 1):
        if j > 0:
            logp += math.log(lam / j)
        q = (1.0 - 1.0 / 64.0) ** (8 * j)
        block = sum(
            pd * (1.0 - q) ** d for d, pd in enumerate(_PROBE_DIST) if pd
        )
        total += math.exp(logp) * block
    return total


def _sbbf_n_words(n_items: int, fpp: float) -> int:
    """Smallest word count whose PREDICTED split-block fpp clears
    ``0.8 × fpp`` (the 20% margin absorbs model residue and hash
    nonuniformity, so the measured rate lands at-or-under the request).
    The classic optimal-k sizing is a strict lower bound for the fixed
    k=8 blocked construction — start there, then exponential + binary
    search; all driver-side arithmetic, microseconds."""
    target = 0.8 * fpp
    n_bits = max(64, int(-n_items * math.log(fpp) / (math.log(2) ** 2)))
    lo = (n_bits + 63) // 64
    if _sbbf_fpp(n_items, lo) <= target:
        return lo
    hi = lo
    while _sbbf_fpp(n_items, hi) > target:
        hi *= 2
    floor = hi // 2
    while floor + 1 < hi:
        mid = (floor + hi) // 2
        if _sbbf_fpp(n_items, mid) <= target:
            hi = mid
        else:
            floor = mid
    return hi


def build_bloom(
    build: DataFrame,
    keys: Sequence[str],
    fpp: float = 0.01,
    n_items: int | None = None,
    max_bloom_bytes: int = 256 * 1024 * 1024,
) -> BloomFilter:
    """Build the filter over ``build``'s key columns.

    ``n_items`` sizes the bit array; when omitted it is taken as
    ``build.count()`` (one counting job — an UPPER bound on distinct
    keys, so the realized fpp only improves; pass an estimate to stay
    fully lazy).  Sizing solves the split-block model
    (:func:`_sbbf_n_words`) so the MEASURED false-positive rate lands
    at-or-under ``fpp`` — not the classic formula, which this
    construction exceeds 2-3×.  Raises when the sized filter exceeds
    ``max_bloom_bytes`` — at that point a bloom that must itself be
    shuffled has lost the game; raise ``fpp`` or fall back to a plain
    shuffle semi-join.
    """
    if not 0 < fpp < 1:
        raise ValueError(f"fpp must be in (0, 1), got {fpp}")
    if n_items is None:
        n_items = build.count()
    n_items = max(1, n_items)
    n_words = _sbbf_n_words(n_items, fpp)
    if n_words * 8 > max_bloom_bytes:
        raise ValueError(
            f"bloom for n_items={n_items} at fpp={fpp} needs {n_words * 8} bytes "
            f"> max_bloom_bytes={max_bloom_bytes}; raise fpp, pass a tighter "
            f"n_items, or use a plain shuffle semi-join"
        )
    words = (
        _hashed(build, keys, n_words)
        .groupBy("__word")
        .agg(F.expr("bit_or(__mask)").alias("__bits"))
    )
    return BloomFilter(words=words, n_words=n_words, fpp=fpp)


def bloom_filter(
    probe: DataFrame, bloom: BloomFilter, keys: Sequence[str]
) -> DataFrame:
    """Keep probe rows whose key MAY be in the build set: a SUPERSET of
    the true semi-join (false positives at ~fpp, never false
    negatives).  One broadcast hash join on the 8-byte word index and a
    codegen bit test — the probe side is never shuffled."""
    out_cols = probe.columns
    return (
        _hashed(probe, keys, bloom.n_words)
        .join(F.broadcast(bloom.words), "__word")
        .filter(F.expr("(__bits & __mask) = __mask"))
        .select(*out_cols)
    )


def bloom_semi_join(
    probe: DataFrame,
    build: DataFrame,
    probe_keys: Sequence[str],
    build_keys: Sequence[str],
    fpp: float = 0.01,
    n_items: int | None = None,
) -> DataFrame:
    """EXACT semi-join with bloom pre-pruning: only the ~fpp-sized
    bloom-survivor set reaches the exact (shuffle) semi-join, so the
    fact-table shuffle shrinks by the filter's selectivity.  Output is
    identical to ``probe.join(build, on, "left_semi")`` by construction
    — the bloom only prunes, the exact join decides."""
    if len(probe_keys) != len(build_keys):
        raise ValueError("probe_keys and build_keys must pair up")
    # xxhash64 hashes by TYPE as well as value (int 5 != bigint 5), so a
    # type-mismatched key pair would silently false-negative every row —
    # the one failure mode a bloom must never have.  Refuse loudly; the
    # caller casts one side (exactly what the equi-join would have
    # needed for a sane plan anyway).
    ptypes = dict(probe.dtypes)
    btypes = dict(build.dtypes)
    for pk, bk in zip(probe_keys, build_keys):
        if ptypes[pk] != btypes[bk]:
            raise ValueError(
                f"key type mismatch: probe {pk}:{ptypes[pk]} vs build "
                f"{bk}:{btypes[bk]} — cast one side before bloom_semi_join"
            )
    bloom = build_bloom(build, list(build_keys), fpp=fpp, n_items=n_items)
    pruned = bloom_filter(probe, bloom, list(probe_keys))
    cond = None
    for pk, bk in zip(probe_keys, build_keys):
        c = pruned[pk] == build[bk]
        cond = c if cond is None else cond & c
    return pruned.join(build, cond, "left_semi")
