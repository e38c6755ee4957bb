"""Cross-engine float parity helpers.

Spark's ``F.round(x, d)`` rounds HALF_UP on the double's SHORTEST decimal
representation (``BigDecimal.valueOf``), while DuckDB rounds through
scaled float math — so a value whose shortest repr lands exactly on the
d-th-decimal halfway point (e.g. 33.88325 at d=4) rounds UP in Spark and
DOWN in DuckDB even when both engines hold the identical double.  Rare
(~1e-4 of rows at sf0.1) but fatal to a value-hash compare.

:func:`portable_round` makes the operation explicit — multiply, round to
integer, divide — which both engines execute with the same IEEE ops:
``round(x * 10^d) / 10^d``.  At integer scale the halfway case only
arises when the PRODUCT is exactly ``*.5`` (representable), where Spark
HALF_UP and DuckDB's away-from-zero agree.  Mirror it in oracle SQL as
``round(x * 10000.0) / 10000.0`` (same d).

Pair with exact upstream aggregation (sum 2-dp money in DECIMAL, divide
once at the end) so the doubles being rounded are bit-identical to begin
with.

One definition, as Spark SQL text
---------------------------------
:func:`portable_round_sql` is the only definition of the formula.
``spark.sql`` statements splice its text in, and the Column helper
:func:`portable_round` is ``F.expr`` over the same text, so DataFrame
code and SQL statements round identically by construction.  The text is
written for Spark (double literals carry a ``D`` suffix; a bare ``1.0``
is a DECIMAL in Spark SQL); it is not the DuckDB oracle's spelling.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["portable_round", "portable_round_sql", "sql_operand"]

_NAME = re.compile(r"[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*")


def sql_operand(arg: Column | str) -> str:
    """SQL text of a formula operand: SQL text is taken as given; a
    Column must be a plain column reference (``F.col("x")``), which is
    used by name.  A Column expression raises ``TypeError`` — pass its
    SQL text instead — because a Column cannot be turned back into SQL."""
    if isinstance(arg, str):
        return arg
    name = arg._jc.toString()
    if not _NAME.fullmatch(name):
        raise TypeError(
            f"formula operand {name!r} is not a plain column reference; pass SQL text"
        )
    return name


def portable_round_sql(x: str, dp: int) -> str:
    """Engine-portable HALF-cases rounding of SQL operand ``x``:
    ``round(x * 10^dp) / 10^dp`` (see module docstring)."""
    scale = f"{10**dp}.0D"
    return f"round(({x}) * {scale}) / {scale}"


def portable_round(col: Column | str, dp: int) -> Column:
    """:func:`portable_round_sql` as a Column; ``col`` is a column
    reference or SQL text (:func:`sql_operand`)."""
    return F.expr(portable_round_sql(sql_operand(col), dp))
