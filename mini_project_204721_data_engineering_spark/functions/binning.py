"""Binning / conditional scalar functions (reference C4, C5, C16, C17).

All pure expressions — ``CASE WHEN`` chains compile into whole-stage
codegen; no UDFs.

C4 (``class_to_num``), C5 (``avg_to_level``), C16
(``estimate_probability``) and C17 (``probability_color``,
``risk_label``) are each defined ONCE, as Spark SQL text: the ``*_sql``
functions take SQL operand text and return the formula's text.  The
served ``spark.sql`` statements (``queries/dashboard.py``,
``queries/analytics.avg_level_by_brand``) splice that text in; the
driver-side risk pipeline (``pipelines/risk.py``) evaluates the same
text in a ``selectExpr`` over its upload's local relation; and each
Column helper is ``F.expr`` over the same text, so the pipeline, the
queries and the tests run exactly one formula.  Double literals carry a
``D`` suffix: a bare ``1.5`` is a DECIMAL in Spark SQL.  The DuckDB
oracle strings spell their own copies on purpose, so the oracle stays an
independent check.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.functions.parity import sql_operand

__all__ = [
    "class_to_num",
    "class_to_num_sql",
    "avg_to_level",
    "avg_to_level_sql",
    "estimate_probability",
    "estimate_probability_sql",
    "probability_color_sql",
    "risk_label_sql",
]

# Thai / English risk-word → level map (reference backend/app/utils.py:256-260)
_WORD_LEVELS: dict[str, int] = {
    "ต่ำ": 1,
    "ต่ำมาก": 1,
    "low": 1,
    "very low": 1,
    "ปานกลาง": 2,
    "กลาง": 2,
    "medium": 2,
    "สูง": 3,
    "สูงมาก": 3,
    "high": 3,
    "very high": 3,
}


def class_to_num_sql(x: str) -> str:
    """Reference ``class_to_num`` (``backend/app/utils.py:255-274``) as
    SQL text over operand text ``x`` (INT).

    CASE semantics:
    1. risk words (Thai/English, case-insensitive) → {1,2,3}
    2. numerics in [0,1] → tertile bins: <1/3 → 1, <2/3 → 2, else 3
    3. other numerics → round, clamp to [1,3]
    4. unparseable → null
    """
    s = f"lower(trim(CAST({x} AS STRING)))"
    # try_cast: null on unparseable input — matches pandas to_numeric
    # errors="coerce" and survives Spark 4's ANSI-mode strict cast
    num = f"try_cast({s} AS DOUBLE)"
    words = " ".join(f"WHEN '{w}' THEN {lvl}" for w, lvl in _WORD_LEVELS.items())
    tertile = f"CASE WHEN {num} < 1.0D / 3.0D THEN 1 WHEN {num} < 2.0D / 3.0D THEN 2 ELSE 3 END"
    # bround = HALF_EVEN, matching the reference's Python round()
    # (int(round(val)), utils.py:268); round's HALF_UP would differ at 2.5
    clamped = f"least(greatest(CAST(bround({num}) AS INT), 1), 3)"
    return (
        f"coalesce(CASE {s} {words} END, "
        f"CASE WHEN {num} IS NULL THEN CAST(NULL AS INT) "
        f"WHEN {num} >= 0.0D AND {num} <= 1.0D THEN {tertile} ELSE {clamped} END)"
    )


def class_to_num(col: Column | str) -> Column:
    """:func:`class_to_num_sql` as a Column (operand: :func:`sql_operand`)."""
    return F.expr(class_to_num_sql(sql_operand(col)))


def avg_to_level_sql(avg: str) -> str:
    """Reference ``avg_to_level`` (``backend/app/utils.py:360-366``):
    mean class ≤1.5 → 1, ≤2.1 → 2, else 3; null-safe (INT)."""
    return (
        f"CASE WHEN ({avg}) IS NULL THEN CAST(NULL AS INT) "
        f"WHEN ({avg}) <= 1.5D THEN 1 WHEN ({avg}) <= 2.1D THEN 2 ELSE 3 END"
    )


def avg_to_level(col: Column | str) -> Column:
    """:func:`avg_to_level_sql` as a Column (operand: :func:`sql_operand`)."""
    return F.expr(avg_to_level_sql(sql_operand(col)))


def estimate_probability_sql(rain_mm_wmean: str, risk_level: str, count_of_disasters: str) -> str:
    """Reference ``estimateProbability`` (``frontend/app/page.tsx:66-83``),
    promoted into the engine as the flagship derived metric.

    ``base = rain/2 + risk*10``; if incidents occurred:
    ``clamp(base + count*5, 80, 100)``, else ``min(100, base)``.
    Null inputs are treated as 0 (the frontend receives ``coalesce``-d 0s,
    reference ``backend/app/main.py:704``).
    """
    rain = f"coalesce({rain_mm_wmean}, 0.0D)"
    risk = f"coalesce({risk_level}, 0)"
    cnt = f"coalesce({count_of_disasters}, 0)"
    base = f"{rain} / 2.0D + CAST({risk} AS DOUBLE) * 10.0D"
    return (
        f"CASE WHEN {cnt} > 0 "
        f"THEN least(100.0D, greatest(80.0D, {base} + CAST({cnt} AS DOUBLE) * 5.0D)) "
        f"ELSE least(100.0D, {base}) END"
    )


def estimate_probability(
    rain_mm_wmean: Column | str, risk_level: Column | str, count_of_disasters: Column | str
) -> Column:
    """:func:`estimate_probability_sql` as a Column (operands:
    :func:`sql_operand`)."""
    return F.expr(
        estimate_probability_sql(
            sql_operand(rain_mm_wmean), sql_operand(risk_level), sql_operand(count_of_disasters)
        )
    )


def probability_color_sql(prob: str) -> str:
    """Reference C17 choropleth binning (``frontend/app/page.tsx:168-173``):
    ≥75 → red, ≥50 → amber, else green."""
    return f"CASE WHEN ({prob}) >= 75 THEN 'red' WHEN ({prob}) >= 50 THEN 'amber' ELSE 'green' END"


def risk_label_sql(risk_level: str) -> str:
    """Reference C17 legend labels (``frontend/app/page.tsx:222,241-245``)."""
    return (
        f"CASE WHEN ({risk_level}) = 1 THEN 'Low' WHEN ({risk_level}) = 2 THEN 'Medium' "
        f"WHEN ({risk_level}) = 3 THEN 'High' ELSE 'Unknown' END"
    )
