"""Serving-query builder: dynamic predicates + whitelist sort + pagination.

Re-expresses the reference's serving family (``GET /list_rain`` et al.,
``backend/app/main.py:239-330``) as a reusable declarative builder:

- **F5 dynamic equality predicates** (``main.py:252-263``): optional params,
  ``'all'`` sentinel disables a predicate; conjunctive AND.
- **F6 date-range predicates** (``main.py:259-263``): each side optional —
  these reach the parquet scan as pushed filters, enabling partition
  pruning on date-partitioned facts.
- **O1 whitelist sort** (``main.py:276-284``): ``order_by`` looked up in a
  per-query map of sortable columns (joined dim columns included),
  fallback default, asc/desc.
- **O3 offset/limit pagination** (``main.py:270-271,300-301``): page clamped
  to ``ceil(total/size)``; page size capped (reference caps at 200).
- **A6 filtered count** (``main.py:266-269``) for the pagination total.

Scale notes
-----------
- Sorting for a page is a TOP-K problem, not a full sort: Spark compiles
  ``orderBy(...).limit(o + s)`` into ``TakeOrderedAndProject`` — no global
  shuffle-sort, each partition keeps only o+s candidates. We always put
  offset+limit directly after orderBy to keep that plan shape.
- A unique tiebreaker column is appended to every sort so pagination is
  deterministic under distributed (unstable) ordering — the reference gets
  this for free from single-node Postgres only when the sort key is unique;
  we make it explicit.
- The count and the page are built from one filtered DataFrame, but they
  are two Spark actions: ``count()`` runs (and scans) first, then the
  page's own action scans again.

Reuse
-----
``page_df`` returns the page through ``catalog.served_plan``.  When every
table the page reads comes from ``catalog.load_table`` (each read carries
its table's version digest), the page is persisted and kept per session:
a later request with the same plan over the same table versions gets the
kept DataFrame back, and its action reads the cached rows, one small job
instead of the joins, the scan and the top-k.  A rewritten table changes
the plan, so it never matches a page of the old version.  A page over any
other base (``createDataFrame``, a plain ``spark.read.parquet``) is not
kept.  ``count()`` and ``keyset_page`` keep nothing.
"""

from __future__ import annotations

import functools
import math
import operator
from dataclasses import dataclass, field
from typing import Any, Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.catalog import served_plan

__all__ = ["ListQuery", "Page"]

#: sentinel meaning "predicate disabled" (reference `'all'`, main.py:252-263)
ALL = "all"


@dataclass
class Page:
    """One page of a list query plus pagination metadata."""

    df: DataFrame
    total: int
    page: int
    page_size: int
    total_pages: int


@dataclass
class ListQuery:
    """Declarative filter→join→sort→paginate query over a fact DataFrame."""

    base: DataFrame
    #: order_by name → Column (whitelist; names may refer to joined dims)
    sortable: Mapping[str, Column]
    default_order: str
    #: unique tiebreaker for deterministic distributed pagination
    tiebreaker: Column | None = None
    max_page_size: int = 200
    filters: list[Column] = field(default_factory=list)

    def eq(self, col: Column, value: Any) -> "ListQuery":
        """F5: optional equality predicate; ``None``/``'all'`` disables."""
        if value is not None and value != ALL:
            self.filters.append(col == F.lit(value))
        return self

    def date_range(self, col: Column, start: Any = None, end: Any = None) -> "ListQuery":
        """F6: optional inclusive date-range predicate (partition-prunable)."""
        if start is not None:
            self.filters.append(col >= F.lit(start))
        if end is not None:
            self.filters.append(col <= F.lit(end))
        return self

    def where(self, cond: Column) -> "ListQuery":
        self.filters.append(cond)
        return self

    # ------------------------------------------------------------------
    def _filtered(self) -> DataFrame:
        # one filter() over the conjunction: each filter() call is a py4j
        # round trip after which the JVM re-analyses the whole plan
        if not self.filters:
            return self.base
        return self.base.filter(functools.reduce(operator.and_, self.filters))

    def _order(self, order_by: str | None, order_type: str) -> Sequence[Column]:
        col = self.sortable.get(order_by or "", None)
        if col is None:
            col = self.sortable[self.default_order]
        ordered = col.desc() if order_type == "desc" else col.asc()
        keys = [ordered]
        if self.tiebreaker is not None:
            keys.append(self.tiebreaker.asc())
        return keys

    def count(self) -> int:
        """A6: total row count under the current predicates."""
        return self._filtered().count()

    def page_df(
        self,
        page: int = 1,
        page_size: int = 10,
        order_by: str | None = None,
        order_type: str = "asc",
    ) -> DataFrame:
        """The page as a lazy DataFrame (no count/clamp round-trip).

        ``orderBy → offset → limit`` compiles to TakeOrderedAndProject:
        a distributed top-(offset+limit) with no global sort.
        """
        page_size = max(1, min(self.max_page_size, page_size))
        page = max(1, page)
        df = self._filtered().orderBy(*self._order(order_by, order_type))
        return served_plan(df.offset((page - 1) * page_size).limit(page_size))

    def keyset_page(
        self,
        after: tuple[Any, Any] | None = None,
        page_size: int = 10,
        order_by: str | None = None,
    ) -> DataFrame:
        """O3 at scale: keyset (cursor) pagination — the deep-page form.

        ``after`` is the last row of the previous page as
        ``(sort_value, tiebreaker_value)``; the next page is a pushed-down
        range predicate ``(sort, tie) > (after_sort, after_tie)`` + top-k.
        Unlike ``offset``, cost does not grow with page depth: page 10⁶
        still reads only rows past the cursor (partition-pruned when the
        sort key is the partition key).  Ascending only — a cursor needs a
        total order, which the mandatory tiebreaker provides.
        """
        if self.tiebreaker is None:
            raise ValueError("keyset pagination requires a tiebreaker column")
        page_size = max(1, min(self.max_page_size, page_size))
        col = self.sortable.get(order_by or "", None)
        if col is None:
            col = self.sortable[self.default_order]
        df = self._filtered()
        if after is not None:
            sort_v, tie_v = after
            df = df.filter(
                (col > F.lit(sort_v))
                | ((col == F.lit(sort_v)) & (self.tiebreaker > F.lit(tie_v)))
            )
        return df.orderBy(col.asc(), self.tiebreaker.asc()).limit(page_size)

    def fetch(
        self,
        page: int = 1,
        page_size: int = 10,
        order_by: str | None = None,
        order_type: str = "asc",
    ) -> Page:
        """Count + clamp + page, mirroring the reference's two-query flow
        (``main.py:266-271,300-305``).  Both queries come from one filtered
        plan, but the count runs here as its own Spark action (one scan),
        and the returned page scans again when its DataFrame is run."""
        page_size = max(1, min(self.max_page_size, page_size))
        total = self.count()
        total_pages = max(1, math.ceil(total / page_size)) if total else 1
        page = min(max(1, page), total_pages)
        df = self.page_df(page, page_size, order_by, order_type)
        return Page(df=df, total=total, page=page, page_size=page_size, total_pages=total_pages)
