"""Incident-log ingest: normalized workbook rows → per-day counts with
idempotent append, computed on the driver.

Reference: ``backend/app/utils.py:470-616``.  An incident workbook is a
few dozen to a few thousand rows and reaches the driver as pandas by
contract (``read_incident_workbook``); the dims are ≈ 100 rows.  As in
:mod:`.risk`, the relational steps run in pandas, the row formulas run
in one Spark projection over the input's local relation (no job), and
the result returns as one single-partition local frame.  Dataflow:

1. strict-format date parse with null coercion (C6) + year (C7); names
   stripped of Python's whitespace (``str.strip()``, tab and NBSP too)
2. name→id dim matches on stripped names (J12)
3. drop unmapped/unparseable rows (F8)
4. count per (disaster_date, province_id, district_id) (A5)
5. anti-join against the keys already in ``existing`` (S7 + J9): one
   collect of ``existing``'s keys, bounded to the upload's date range
   (the reference's ``WHERE disaster_date BETWEEN :min AND :max``,
   ``utils.py:565-591``), so it reads days × districts, never the table
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

from mini_project_204721_data_engineering_spark.functions.thaidates import (
    be_to_ce_sql,
    parse_be_date_sql,
)
from mini_project_204721_data_engineering_spark.functions.text import strip_sql
from mini_project_204721_data_engineering_spark.pipelines.dims import collect_dims

__all__ = ["ingest_incidents"]

KEYS = ["disaster_date", "province_id", "district_id"]
_OUT_DDL = (
    "disaster_date date, year int, province_id int, district_id int, count_of_disasters int"
)


def ingest_incidents(
    workbook_rows: DataFrame,
    province: DataFrame,
    district: DataFrame,
    existing: DataFrame | None = None,
    be_years: bool = False,
) -> DataFrame:
    """Workbook rows (`Disaster Date`, `Province`, `District` strings) →
    new incident_statistics_points rows ``(disaster_date, year,
    province_id, district_id, count_of_disasters)`` (DDL
    ``models.py:78-87``), excluding keys already in ``existing``.

    ``be_years=True`` additionally accepts Buddhist-era years (พ.ศ.
    2566 = 2023 — real Thai workbooks carry these) via
    `functions/thaidates.py`; the default stays the reference's strict
    CE-only parse (``utils.py:520-524``)."""
    # C6: strict yyyy-MM-dd parse, null on malformed — try_to_date matches
    # pandas errors="coerce" and survives ANSI mode.  A workbook read via
    # pandas+openpyxl surfaces date-styled cells as datetime columns
    # already (reference utils.py:520-524) — accept those directly.
    dd = "`Disaster Date`"
    if isinstance(
        workbook_rows.schema["Disaster Date"].dataType,
        (DateType, TimestampType, TimestampNTZType),
    ):
        parsed = be_to_ce_sql(dd) if be_years else f"CAST({dd} AS DATE)"
    elif be_years:
        parsed = parse_be_date_sql(dd)
    else:
        parsed = f"try_to_date({dd}, 'yyyy-MM-dd')"
    parsed_rows = workbook_rows.selectExpr(
        f"{parsed} AS disaster_date",
        f"year({parsed}) AS year",
        f"{strip_sql('Province')} AS Province",
        f"{strip_sql('District')} AS District",
    )
    rows = pd.DataFrame(parsed_rows.collect(), columns=parsed_rows.columns)
    prov, dist = collect_dims(
        province,
        district,
        {
            "province_id": ("province_id", "province_id"),
            "Province": (strip_sql("province_name"), None),
            "district_id": (None, "district_id"),
            "District": (None, strip_sql("district_name")),
        },
    )

    # J12 + F8: an equi-join never matches a null key, so null keys drop
    # first (pandas would match them to each other)
    counts = (
        rows.dropna()
        .merge(prov.dropna(), on="Province")
        .merge(dist.dropna(), on=["province_id", "District"])
        .groupby(["disaster_date", "year", "province_id", "district_id"])
        .size()
        .rename("count_of_disasters")
        .reset_index()
    )

    if existing is not None and len(counts):
        # J9: keep only keys not already in the table
        lo, hi = counts["disaster_date"].min(), counts["disaster_date"].max()
        seen = existing.where(F.col("disaster_date").between(lo, hi)).select(*KEYS).collect()
        counts = counts[~pd.MultiIndex.from_frame(counts[KEYS]).isin(seen)]

    return workbook_rows.sparkSession.createDataFrame(counts, _OUT_DDL).coalesce(1)
