"""Skew mitigation: salting for hot keys (SURVEY §4.2 scale posture).

AQE's skew-join splitting handles most runtime skew; these are the
*declarative* tools for the cases AQE can't fix:

- :func:`salted_agg` — two-phase aggregation: group on (key, salt) first
  (map-side spread of a hot key across ``n_salts`` reducers), then
  combine the partials.  Works for any algebraic aggregate; used when a
  single group (e.g. one viral user_id) exceeds a reducer.
- :func:`recommend_salt` — the salt count for :func:`salted_agg`, read
  from the key-skew profile.

Salts are derived from stable columns (hash of a unique id), never
``rand()`` — results stay deterministic and retry-safe (a recomputed
task must produce identical salt assignments).
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["recommend_salt", "salted_agg"]


def recommend_salt(
    df: DataFrame | None,
    keys: Sequence[str],
    n_partitions: int | None = None,
    tolerance: float = 2.0,
    profile: Mapping | None = None,
) -> dict:
    """Turn the key-skew diagnostic (``profile.key_skew_profile``) into
    the ACTION it implies: the salt factor ``salted_agg`` should use,
    or 1 when plain grouping is fine.

    Cost model: a reducer's fair share of the shuffle is
    ``total_rows / n_partitions`` (default: the session's
    ``spark.sql.shuffle.partitions``).  The hottest group stalls its
    reducer by ``max_group / fair_share``; salting to
    ``ceil(max_group / (tolerance × fair_share))`` splits it back under
    ``tolerance`` fair shares (imbalance below ~2× is scheduling noise,
    not a straggler).  The factor is capped at ``n_partitions`` — more
    salts than reducers adds phase-2 rows without spreading further.

    Cost of the recommendation itself: the diagnostic's one
    map-side-combined count per group + a 1-row collect.  That pass is
    a property of the DATA's key distribution, not of any one query —
    compute it ONCE per dataset version and reuse it: pass the profile
    row back via ``profile=`` (a ``key_skew_profile`` Row or its dict)
    and this function does NO Spark work at all (``df`` may then be
    None if ``n_partitions`` is given).  A ``salted_agg`` caller that
    re-derives the recommendation inline pays one extra scan per
    invocation; a pipeline that salts the same table in N stages
    should pay it once.

    Provenance: a cached profile built with
    ``key_skew_profile(df, keys, include_keys=True)`` carries a
    ``keys`` field, and a mismatch against this call's ``keys`` raises
    — a profile computed for different key columns yields a wrong
    ``n_salts`` and must not replay silently.  A profile WITHOUT the
    field is accepted as-is (``keys`` cannot be validated then — the
    caller owns the pairing; the distribution is also a property of
    one dataset VERSION, which no field here can check).

    Returns
    ``{"n_salts", "max_group", "fair_share", "hot_share", "n_groups",
    "total_rows", "reason"}``; pass the whole dict (or its
    ``n_salts``) straight to ``salted_agg``."""
    from .profile import key_skew_profile

    if n_partitions is None:
        if df is None:
            raise ValueError("df=None requires an explicit n_partitions")
        n_partitions = int(
            df.sparkSession.conf.get("spark.sql.shuffle.partitions")
        )
    if n_partitions < 1:
        raise ValueError(f"n_partitions must be >= 1, got {n_partitions}")
    if tolerance <= 0:
        raise ValueError(f"tolerance must be positive, got {tolerance}")
    if profile is not None:
        prof = dict(profile.asDict()) if hasattr(profile, "asDict") else dict(profile)
        missing = {"total_rows", "max_group", "hot_share", "n_groups"} - set(prof)
        if missing:
            raise ValueError(
                f"profile= is missing key_skew_profile fields: {sorted(missing)}"
            )
        if prof.get("keys") is not None and sorted(
            _parse_profile_keys(prof["keys"])
        ) != sorted(_key_name(k) for k in keys):
            # ORDER-insensitive: the group-size distribution under a key
            # SET is invariant to key order, so ['b','a'] replays a
            # profile built for ['a','b']
            raise ValueError(
                f"profile= was computed for keys {prof['keys']} but this "
                f"call asks about [{','.join(str(k) for k in keys)}] — a "
                "replayed profile must match the keys it measured (rebuild "
                "with key_skew_profile(df, keys, include_keys=True))"
            )
    else:
        if df is None:
            raise ValueError("pass a DataFrame or a precomputed profile=")
        prof = key_skew_profile(df, keys).collect()[0].asDict()
    total, max_group = prof["total_rows"], prof["max_group"]
    if not total:
        return {"n_salts": 1, "max_group": 0, "fair_share": 0.0,
                "hot_share": 0.0, "n_groups": 0, "total_rows": 0,
                "reason": "empty input"}
    fair = total / n_partitions
    out = {"max_group": max_group, "fair_share": fair,
           "hot_share": prof["hot_share"], "n_groups": prof["n_groups"],
           "total_rows": total}
    if max_group <= tolerance * fair:
        out.update(n_salts=1, reason=(
            f"none needed: max group {max_group} is within {tolerance}x the "
            f"fair share {fair:.1f} of {n_partitions} partitions"))
        return out
    import math

    n_salts = min(n_partitions, math.ceil(max_group / (tolerance * fair)))
    out.update(n_salts=n_salts, reason=(
        f"salt {n_salts}x: max group {max_group} is "
        f"{max_group / fair:.1f} fair shares ({fair:.1f} rows) — splitting "
        f"under {tolerance}x"))
    return out


def _key_name(k) -> str:
    """A key's resolved name for provenance comparison: Column objects
    (legal groupBy keys — the profile records their RESOLVED output
    names) resolve via the expression's own name when it has one —
    ``F.col('a')`` → ``a``, ``F.col('a').alias('x')`` → ``x`` (the
    name ``groupBy`` outputs, which is what the profile recorded) —
    falling back to the JVM expression string, never Python's repr
    (``Column<'a'>`` would fail its own legitimate replay)."""
    if isinstance(k, str):
        return k
    jc = getattr(k, "_jc", None)
    if jc is not None:
        try:
            s = str(jc.toString())
        except Exception:
            return str(k)
        # 'expr AS name' → the OUTPUT name (what groupBy emits and the
        # profile recorded); a pathological ' AS ' inside a literal can
        # at worst misfire into the LOUD refusal, never a silent accept
        if " AS " in s:
            return s.rsplit(" AS ", 1)[-1].strip("`")
        return s
    return str(k)


def _parse_profile_keys(raw: str) -> list[str]:
    """The profile's recorded key list: a JSON array string (the format
    ``key_skew_profile(include_keys=True)`` writes — JSON, not
    comma-joined, so a column name containing a comma can neither fake
    a match nor fail its own legitimate replay)."""
    import json

    parsed = json.loads(raw)
    if not isinstance(parsed, list):
        raise ValueError(f"profile keys field is not a JSON array: {raw!r}")
    return [str(k) for k in parsed]


def _resolve_salts(n_salts: int | Mapping) -> int:
    """Accept a plain factor or a ``recommend_salt`` result."""
    if isinstance(n_salts, Mapping):
        n_salts = n_salts["n_salts"]
    if not isinstance(n_salts, int) or n_salts < 1:
        raise ValueError(f"n_salts must be a positive int, got {n_salts!r}")
    return n_salts


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    salt_from: str,
    partials: dict[str, tuple[Column, Column]],
    n_salts: int | Mapping = 8,
) -> DataFrame:
    """Two-phase aggregation with deterministic salting.

    ``partials`` maps output name → (phase-1 aggregate over raw rows,
    phase-2 aggregate over the phase-1 column of the same name).  E.g.
    count: ``{"n": (F.count(F.lit(1)), F.sum("n"))}``;
    sum: ``{"s": (F.sum("x"), F.sum("s"))}``.

    The salt comes from ``pmod(hash(salt_from), n_salts)`` — stable
    across retries, spreading any single hot key over ``n_salts``
    reducers in phase 1; phase 2 reduces ``n_salts`` rows per key.
    ``n_salts`` also accepts a :func:`recommend_salt` result directly
    (its measured factor is used; 1 degenerates to the plain two-phase
    grouping).
    """
    n_salts = _resolve_salts(n_salts)
    salt = F.pmod(F.hash(F.col(salt_from)), F.lit(n_salts)).alias("_salt")
    phase1 = df.groupBy(*keys, salt).agg(
        *[expr.alias(name) for name, (expr, _) in partials.items()]
    )
    return phase1.groupBy(*keys).agg(
        *[fin.alias(name) for name, (_, fin) in partials.items()]
    )
