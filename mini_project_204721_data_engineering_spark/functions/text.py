"""Text normalization functions (reference C1-C3, SURVEY §2.8).

Reference semantics:
- ``clean_text`` (``backend/app/utils.py:23-33``): newline→space, strip the
  Thai admin prefixes ``จังหวัด`` / ``กิ่งอำเภอ`` / ``อำเภอ`` / ``K. ``,
  spelling fixes ``Muang→Mueang`` and ``Wieng→Wiang``, Unicode NFC
  normalization, whitespace trim; null-safe.
- ``normalize_th`` (``backend/app/utils.py:276-284``): trim, collapse runs
  of whitespace to one space, strip leading ``จ.`` / ``อ.`` prefixes.
  "Whitespace" is Python's (``str.strip()`` / ``re`` ``\\s``: tab, NBSP,
  U+3000 …); Spark ``trim`` strips U+0020 only and Java ``\\s`` has no
  NBSP, so the SQL text spells Python's set out (:data:`WHITESPACE`).
- ``normalize_sheets`` (``backend/app/utils.py:437-449``): driver-side sheet
  name canonicalization (lowercase, drop non-word chars, strip trailing
  CE/BE years) — plain Python, the sheet list exists before any DataFrame.

All but NFC are pure expressions (regexp_replace chains stay inside
whole-stage codegen); ``normalize_th`` is defined once as SQL text
(:func:`normalize_th_sql`), which the driver-side risk pipeline evaluates
in a ``selectExpr``.  NFC is a pandas UDF over Arrow batches; note the
DuckDB oracle equivalent is its built-in ``nfc_normalize``.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from mini_project_204721_data_engineering_spark.functions.parity import sql_operand

__all__ = [
    "clean_text",
    "normalize_th",
    "normalize_th_sql",
    "strip_sql",
    "nfc_normalize",
    "normalize_sheet_name",
]


def _nfc_batch(s: pd.Series) -> pd.Series:
    return s.map(lambda v: unicodedata.normalize("NFC", v) if v is not None else None)


_nfc_udf = None


def nfc_normalize(col: Column) -> Column:
    """Unicode NFC normalization (no Spark built-in; reference C1 uses
    ``unicodedata.normalize("NFC", …)`` at ``backend/app/utils.py:32``).

    Arrow-batched pandas UDF, created lazily (a ``pandas_udf`` needs an
    active SparkSession at definition time)."""
    global _nfc_udf
    if _nfc_udf is None:
        _nfc_udf = pandas_udf(_nfc_batch, "string")
    return _nfc_udf(col)


def clean_text(col: Column, *, nfc: bool = False) -> Column:
    """Reference ``clean_text`` (``backend/app/utils.py:23-33``) as a Column.

    Null-safety is inherent: every builder used here propagates null.
    ``nfc=True`` appends the pandas-UDF NFC pass (off the codegen path, so
    opt-in; Thai admin names are already NFC in practice).
    """
    c = F.regexp_replace(col, r"[\r\n]+", " ")
    # order matters: strip กิ่งอำเภอ (minor-district) before อำเภอ
    c = F.regexp_replace(c, "จังหวัด", "")
    c = F.regexp_replace(c, "กิ่งอำเภอ", "")
    c = F.regexp_replace(c, "อำเภอ", "")
    c = F.regexp_replace(c, r"^K\. ", "")
    c = F.regexp_replace(c, "Muang", "Mueang")
    c = F.regexp_replace(c, "Wieng", "Wiang")
    c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if nfc:
        c = nfc_normalize(c)
    return c


#: the characters Python's ``str.isspace`` (and ``re`` ``\\s``) accept, as
#: a Java regex class in SQL-literal escaping
WHITESPACE = (
    r"[\\x{9}-\\x{d}\\x{1c}-\\x{20}\\x{85}\\x{a0}\\x{1680}\\x{2000}-\\x{200a}"
    r"\\x{2028}\\x{2029}\\x{202f}\\x{205f}\\x{3000}]"
)


def strip_sql(s: str) -> str:
    """Python ``str.strip()`` as Spark SQL text over operand text ``s``."""
    return f"regexp_replace({s}, '^{WHITESPACE}+|{WHITESPACE}+$', '')"


def normalize_th_sql(s: str) -> str:
    """Reference ``normalize_th`` (``backend/app/utils.py:276-284``) as
    Spark SQL text over operand text ``s``: collapse whitespace runs to
    one space and trim, strip a leading ``จ.`` / ``อ.``, trim."""
    c = f"trim(regexp_replace({s}, '{WHITESPACE}+', ' '))"
    c = rf"regexp_replace(regexp_replace({c}, '^จ\\.', ''), '^อ\\.', '')"
    return f"trim({c})"


def normalize_th(col: Column | str) -> Column:
    """:func:`normalize_th_sql` as a Column (operand: :func:`sql_operand`)."""
    return F.expr(normalize_th_sql(sql_operand(col)))


_SHEET_YEAR_RE = re.compile(r"(19|20|25)\d{2}\s*$")
_SHEET_JUNK_RE = re.compile(r"[^0-9a-zก-๙]+")


def normalize_sheet_name(name: str) -> str:
    """Reference ``normalize_sheets`` (``backend/app/utils.py:437-449``) —
    driver-side Python: lowercase, drop non-Thai/word chars, strip a
    trailing CE/BE year."""
    s = name.strip().lower()
    s = _SHEET_YEAR_RE.sub("", s)
    s = _SHEET_JUNK_RE.sub("", s)
    return s
