"""Buddhist-era (BE) → Common-era (CE) date coercion — opt-in.

The reference coerces only strict ``%Y-%m-%d`` (``backend/app/utils.py:
520-524``), and its sheet-name normalizer already strips BE years from
SHEET NAMES (`functions/text.py::normalize_sheet_name`), but real Thai
incident workbooks carry BE years in the DATA too (พ.ศ. 2566 = ค.ศ.
2023; BE = CE + 543).  These helpers convert them without touching the
strict-parse default — reference parity is preserved unless the caller
asks (`pipelines/incidents.py::ingest_incidents(be_years=True)`).

The string path does the year arithmetic on the TEXT before parsing.
That ordering is load-bearing: a BE leap day like ``2559-02-29``
(= CE 2016-02-29, valid) is NOT a valid Gregorian date under the BE
year number (2559 % 4 != 0), so parse-then-shift would coerce it to
NULL; shift-then-parse resolves it correctly.  Conversely
``2560-02-29`` (= CE 2017, not a leap year) correctly nulls.

Threshold: a 4-digit year ≥ :data:`BE_YEAR_MIN` (2400) is treated as
BE.  2400 BE = 1857 CE; no disaster-log CE year reaches 2400 for
centuries, and no BE year below 2400 appears in modern records — the
band 2100–2399 is left alone (property-tested at the 2400 boundary and
through the 2500s where real data lives).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.functions.parity import sql_operand

__all__ = [
    "BE_YEAR_MIN",
    "BE_CE_OFFSET",
    "parse_be_date",
    "parse_be_date_sql",
    "be_to_ce",
    "be_to_ce_sql",
]

BE_YEAR_MIN = 2400
BE_CE_OFFSET = 543


def parse_be_date_sql(x: str) -> str:
    """Strict ISO ``yyyy-MM-dd`` parse accepting BOTH CE and BE years, as
    SQL text over operand text ``x``: a leading 4-digit year ≥ 2400 has
    543 subtracted in the string BEFORE parsing (see module docstring for
    why), anything else goes through the same ``try_to_date`` as the
    strict default — malformed input still coerces to NULL, never throws
    (ANSI-safe)."""
    s = f"trim({x})"
    yr = f"try_cast(substring({s}, 1, 4) AS INT)"
    shifted = (
        f"concat(lpad(CAST({yr} - {BE_CE_OFFSET} AS STRING), 4, '0'), substring({s}, 5, 6))"
    )
    return (
        rf"CASE WHEN {yr} >= {BE_YEAR_MIN} AND {s} RLIKE '^\\d{{4}}-\\d{{2}}-\\d{{2}}$' "
        f"THEN try_to_date({shifted}, 'yyyy-MM-dd') ELSE try_to_date({s}, 'yyyy-MM-dd') END"
    )


def parse_be_date(col: Column | str) -> Column:
    """:func:`parse_be_date_sql` as a Column (operand: :func:`sql_operand`)."""
    return F.expr(parse_be_date_sql(sql_operand(col)))


def be_to_ce_sql(x: str) -> str:
    """BE→CE for an already-TYPED date/timestamp operand (a
    pandas+openpyxl read surfaces date-styled cells as datetimes), as SQL
    text over operand text ``x``: a year ≥ 2400 shifts back 543 years via
    ``add_months``.

    A typed BE Feb 29 can NEVER map to a CE Feb 29: BE leap years are
    ≡ 0 (mod 4), so CE = BE − 543 ≡ 1 (mod 4) — never leap.  Such a
    value is therefore not a real Thai date (the workbook's Feb 29 was
    typed under the wrong-era calendar); ``add_months`` would silently
    CLAMP it to Feb 28, fabricating a date the string path
    (:func:`parse_be_date_sql`) correctly nulls.  We null it too — the
    two paths agree: malformed-for-the-era input coerces to NULL."""
    d = f"CAST({x} AS DATE)"
    shifted = f"add_months({d}, {-BE_CE_OFFSET * 12})"
    # a clamped day-of-month means the CE date does not exist
    return (
        f"CASE WHEN year({d}) >= {BE_YEAR_MIN} THEN "
        f"CASE WHEN dayofmonth({shifted}) = dayofmonth({d}) THEN {shifted} END "
        f"ELSE {d} END"
    )


def be_to_ce(col: Column | str) -> Column:
    """:func:`be_to_ce_sql` as a Column (operand: :func:`sql_operand`)."""
    return F.expr(be_to_ce_sql(sql_operand(col)))
