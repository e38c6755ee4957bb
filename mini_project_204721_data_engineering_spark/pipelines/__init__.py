"""The reference's three ingest pipelines + dims init (SURVEY §3 / §7
Phase 3).

Grid-sized work is a lazy DataFrame dataflow — the reference's eager
pandas steps become stages of one Catalyst plan, with the same
aggregate-before-join ordering it hand-optimizes (SURVEY §4.1).  The
side uploads (a DBF or a workbook of a few thousand rows at most, which
reach the driver as pandas anyway) run their relational steps on the
driver and keep only their row formulas in Spark; each returns one
single-partition local frame.

- :mod:`.dims` — shapefile-shaped polygons → province/district dims
- :mod:`.rain` — rainfall grid → spatial join → per-district daily facts
- :mod:`.risk` — DBF risk table → class mean → level, with missing-
  district fill (driver-side)
- :mod:`.incidents` — incident log → per-day counts with idempotent
  anti-join append (driver-side)
"""
