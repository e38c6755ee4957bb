"""Exact heavy hitters at bounded shuffle — Misra-Gries candidate
generation + exact recount.

The plain way to answer "every key with ≥ θ share of the table" is
``GROUP BY key HAVING count >= θ·N``: correct, but the shuffle carries
ONE group per distinct key — at 100 TB with URL/n-gram-grade
cardinality (1e9+ distinct) that is the dominant cost even though the
answer has at most 1/θ rows.

This operator bounds the shuffle by the ANSWER size, not the key
cardinality, with the classic two-phase sketch-then-verify shape:

1. **Candidates** — each input partition runs a Misra-Gries summary of
   ``summary_size`` (m) entries over the key columns only (column-
   pruned scan; Arrow-batched ``mapInPandas``, dict state bounded by m
   regardless of partition size).  MG's guarantee (Misra & Gries 1982,
   the ``frequent`` algorithm): a key's undercount is at most
   N_p/(m+1), so every key with partition-local count > N_p/(m+1)
   survives its partition's summary.  By pigeonhole a key with GLOBAL
   count ≥ Σ N_p/(m+1) exceeds that bound in at least one partition —
   so with ``m + 1 ≥ 1/θ`` the candidate union contains EVERY key with
   share ≥ θ (completeness theorem, adversarially pytest-pinned).
   Candidate volume ≤ m × partitions — summary-sized, never
   cardinality-sized.  The summaries are localCheckpoint-ed (m × P
   rows), so the sketch pass runs ONCE even though both N and the
   candidate set derive from it.
2. **Exact recount** — the fact table semi-joins the broadcast
   candidates and only surviving rows reach the count shuffle; the
   final filter ``count ≥ θ·N`` makes the OUTPUT exact — identical to
   the plain GROUP BY / HAVING (pinned by ``tests/test_heavy.py``),
   with N taken exactly from the
   phase-1 per-partition totals (no third scan).

Rows with a NULL in any key column are ignored entirely — excluded
from N and from candidacy (``fillna`` a sentinel upstream if the null
group matters); this keeps the sketch free of pandas NaN-key hashing
hazards and mirrors equi-join key discipline.

Cost: two scans of the fact (sketch + verify) vs one scan + a
cardinality-sized shuffle for the plain form.  **Measured honestly**
(``tools/scale_probe.py heavy``, 1e7 rows, 4.2M distinct keys, 10
planted 1% hitters): both sketch paths shuffle a ≤ 12,800-key
candidate set where the plain form shuffles 4.17M groups — 326× less
shuffle volume.  Local[32] wall-clock over warm columnar input: plain
2.4 s, ``candidates="freqItems"`` (JVM sketch) 2.8 s,
``candidates="mg"`` (Python sketch) 6.2 s — the native path closes
the Python-sketch gap to ~1.2×, leaving the bounded-shuffle shape
essentially free to adopt.  The sketch paths' lane is where the
cardinality-sized shuffle is the binding cost: network/spill-bound
clusters, 1e9+ distinct keys, or groups too wide for executor memory —
the same caveat class as ``salted_agg``'s measured finding.  The
default ``summary_size`` is ``ceil(2/θ)``: twice the completeness
bound, so borderline keys never hinge on the theorem's edge.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = ["heavy_hitters"]


def _mg_merge(state: dict, batch_counts: dict, m: int) -> None:
    """Weighted Misra-Gries update: fold a batch's (key → count) into
    the m-entry summary.  When the dict overflows, subtract the
    (m+1)-th largest value from every entry and drop the non-positive —
    one decrement event charges ≥ (m+1)·d of total weight, so the
    cumulative undercount stays ≤ N_p/(m+1)."""
    for key, cnt in batch_counts.items():
        state[key] = state.get(key, 0) + int(cnt)
    if len(state) > m:
        vals = sorted(state.values(), reverse=True)
        d = vals[m]  # (m+1)-th largest
        for key in list(state):
            rem = state[key] - d
            if rem > 0:
                state[key] = rem
            else:
                del state[key]


def heavy_hitters(
    df: DataFrame,
    keys: Sequence[str],
    threshold: float,
    summary_size: int | None = None,
    count_col: str = "n",
    candidates: str = "mg",
) -> DataFrame:
    """EXACT counts of every key combination whose share of the
    non-null-key rows is ``>= threshold`` — output identical to the
    plain ``GROUP BY / HAVING count >= threshold * N`` while only
    candidate rows (≤ summary_size × partitions keys) ever reach the
    count shuffle.  Raises when ``summary_size`` is too small for the
    completeness theorem (``summary_size + 1 < 1/θ`` could drop a
    qualifying key).  The share boundary is resolved in EXACT rational
    arithmetic — ``threshold`` is read as the decimal its shortest
    spelling denotes (``Fraction(str(threshold))``), so a key whose
    share is exactly 0.1 at ``threshold=0.1`` is always kept (double
    arithmetic would compute ``0.1*30 = 3.0000000000000004`` and drop
    a 3-of-30 key).  See the module docstring for the guarantee and
    the null-key contract.

    ``candidates`` picks the phase-1 sketch:

    - ``"mg"`` (default): the Arrow-batched Python Misra-Gries pass —
      one scan yields candidates AND the exact N.
    - ``"freqItems"``: Spark's native ``df.stat.freqItems`` over a
      struct of the key columns (same single-pass summary family —
      Karp/Shenker/Papadimitriou — JVM-side, no Python in the hot
      path), sized by ``support = 1/(summary_size+1)`` so the same
      completeness bound holds; N comes from a separate column-pruned
      count (freqItems returns no totals), so this path scans the fact
      once more but keeps every hot-path byte in the JVM.  Measured in
      ``tools/scale_probe.py heavy``: it closes most of the ~3×
      local[32] wall-clock gap the MG path's Python sketch pays.

    Both paths feed the same exact recount, so the OUTPUT is identical
    (parametrized pytest)."""
    keys = list(keys)
    if not keys:
        raise ValueError("keys must be non-empty")
    if not 0 < threshold < 1:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    # the share test is EXACT rational arithmetic, never double: with
    # count >= float(threshold) * N a key whose share is exactly the
    # threshold can be dropped (0.1 * 30 = 3.0000000000000004 > 3).
    # Fraction(str(threshold)) reads the threshold as the DECIMAL the
    # caller wrote (repr round-trips the shortest spelling), so
    # threshold=0.1 means 1/10, not the nearest double
    from fractions import Fraction

    frac = Fraction(str(threshold))
    if candidates not in ("mg", "freqItems"):
        raise ValueError(
            f"candidates must be 'mg' or 'freqItems' (got {candidates!r})"
        )
    m = summary_size if summary_size is not None else math.ceil(2.0 / threshold)
    # STRICT: MG survival needs partition count > N_p/(m+1) while the
    # pigeonhole only guarantees >= θ·N_p, so θ > 1/(m+1) must hold
    # strictly — at equality a key exactly on the threshold can vanish
    # (two keys, θ=0.5, m=1: one merge zeroes both entries)
    if not m + 1 > 1.0 / threshold:
        raise ValueError(
            f"summary_size={m} cannot guarantee completeness at "
            f"threshold={threshold}: need summary_size + 1 > 1/threshold "
            f"(> {1.0 / threshold:g})"
        )
    if count_col in keys:
        raise ValueError(f"count_col {count_col!r} collides with a key")
    import pandas as pd

    notnull = df.na.drop("any", subset=keys)
    if candidates == "freqItems":
        # JVM single-pass summary: freqItems' internal map holds
        # ceil(1/support) entries and guarantees every item with share
        # > support survives — support = 1/(m+1) reproduces the MG
        # completeness bound (θ > 1/(m+1), checked above).  False
        # positives are fine: the recount is exact.
        support = 1.0 / (m + 1)
        if support < 1e-4:
            # Spark's FreqItems REQUIRES support >= 1e-4 (it raises on
            # less, it does not clamp) — refuse here with an actionable
            # message instead of surfacing Spark's requirement error
            # mid-job; the MG path has no floor
            raise ValueError(
                f"candidates='freqItems' cannot run at summary_size={m}: "
                "Spark's freqItems requires support >= 1e-4 (summary ≤ "
                "10000 entries) — use candidates='mg' for thresholds this "
                "small"
            )
        freq = (
            notnull.select(F.struct(*keys).alias("__k"))
            .stat.freqItems(["__k"], support)
            .select(F.explode("__k_freqItems").alias("__k"))
            .select("__k.*")
        )
        n_total = notnull.count()  # freqItems carries no totals
        # exact integer bound: smallest c with c/N >= threshold, i.e.
        # c >= ceil(numer*N/denom) — Python bigints, no long overflow
        bound = -(-frac.numerator * n_total // frac.denominator)
        return (
            notnull.join(F.broadcast(freq), keys, "left_semi")
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias(count_col))
            .filter(F.col(count_col) >= F.lit(bound))
        )
    key_df = notnull.select(*keys)
    kfields = [key_df.schema[k] for k in keys]
    summary_schema = (
        ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in kfields)
        + ", __pid int, __part_rows long"
    )

    def summarize(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        state: dict = {}
        n_rows = 0
        for pdf in batches:
            n_rows += len(pdf)
            counts = pdf.groupby(keys, sort=False).size()
            _mg_merge(state, counts.to_dict(), m)
        if not n_rows:
            return
        if not state:
            # MG can legitimately empty itself on a near-uniform
            # partition (every count decremented to zero) — the
            # partition still happened: emit ONE null-key marker row so
            # its __part_rows reaches N (dropping it would undercount N
            # and manufacture false-positive heavy hitters)
            rows = {kname: [None] for kname in keys}
            rows["__pid"] = [pid]
            rows["__part_rows"] = [n_rows]
            yield pd.DataFrame(rows).astype(
                {kname: object for kname in keys}
            )
            return
        rows = {
            kname: [
                (key if len(keys) > 1 else (key,))[i] for key in state
            ]
            for i, kname in enumerate(keys)
        }
        rows["__pid"] = [pid] * len(state)
        rows["__part_rows"] = [n_rows] * len(state)
        yield pd.DataFrame(rows)

    # m × partitions rows, materialized ONCE — N and the candidate set
    # both derive from this single sketch pass
    summaries = key_df.mapInPandas(summarize, summary_schema).localCheckpoint(
        eager=True
    )
    # N collected from the CHECKPOINTED summaries (tiny, already
    # materialized — no extra fact scan) so the share boundary becomes
    # one exact Python-bigint ceiling, same as the freqItems path: no
    # in-plan big-number arithmetic to overflow, any denominator works
    n_total = int(
        summaries.groupBy("__pid")
        .agg(F.max("__part_rows").alias("__pr"))
        .agg(F.sum("__pr").alias("__N"))
        .collect()[0][0]
        or 0
    )
    bound = -(-frac.numerator * n_total // frac.denominator)
    # marker rows (all-null keys from emptied-MG partitions) carry N
    # but are not candidates — key columns are non-null by the na.drop
    cand_df = summaries.select(*keys).na.drop("any").distinct()

    return (
        notnull.join(F.broadcast(cand_df), keys, "left_semi")
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias(count_col))
        .filter(F.col(count_col) >= F.lit(bound))
    )
