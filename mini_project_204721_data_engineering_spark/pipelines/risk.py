"""Risk-table ingest: DBF rows → per-district risk levels, computed on
the driver.

Reference: ``backend/app/utils.py:286-434``.  A DBF risk table is a few
dozen to a few thousand rows and reaches the driver as pandas by
contract (``read_dbf``); the dims are ≈ 100 rows.  Run as a Spark plan,
its joins and shuffles cost ~15 jobs per upload whatever the size, so
the relational steps run in pandas and only the row formulas stay in
Spark: one projection over the input's local relation, which Catalyst
evaluates on the driver without a job.  The result returns as one
single-partition local frame, so ``snapshot_append`` writes one file in
one job.  Dataflow:

1. normalize Thai keys (C2) on file rows and dims; ``class_to_num`` (C4)
2. optional ``special_fix`` (F9): province keys not present in the dims
   are overwritten to Uttaradit (``utils.py:321-332``)
3. mean class per (province, district) (A4)
4. match against dims (J6/J7); add a fill row for every district of an
   in-file province (J8 + U1)
5. one row per district, matched rows win (A9 — the reference's concat
   order makes ``keep="first"`` prefer matched rows; we encode that order
   explicitly), so a fill row survives only where nothing matched
6. mean → ``avg_to_level`` (C5) in Spark; a fill row gets risk_level 1
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame

from mini_project_204721_data_engineering_spark.functions.binning import (
    avg_to_level_sql,
    class_to_num_sql,
)
from mini_project_204721_data_engineering_spark.functions.text import normalize_th_sql
from mini_project_204721_data_engineering_spark.pipelines.dims import collect_dims

__all__ = ["ingest_risk_dbf"]

_MEANS_DDL = "upload_risk_id int, province_id int, district_id int, risk_avg double"


def ingest_risk_dbf(
    dbf: DataFrame,
    province: DataFrame,
    district: DataFrame,
    upload_risk_id: int = 1,
    special_fix: bool = False,
) -> DataFrame:
    """DBF-shaped rows (prov_nam_t, amphoe_t, class) → risk_points rows
    ``(upload_risk_id, province_id, district_id, risk_level)``
    (storage DDL ``models.py:68-76``)."""
    keyed = dbf.selectExpr(
        f"{normalize_th_sql('prov_nam_t')} AS prov_key",
        f"{normalize_th_sql('amphoe_t')} AS dist_key",
        f"{class_to_num_sql('`class`')} AS class_num",
    )
    rows = pd.DataFrame(keyed.collect(), columns=keyed.columns)
    prov, dist = collect_dims(
        province,
        district,
        {
            "province_id": ("province_id", "province_id"),
            "prov_key": (normalize_th_sql("province_name"), None),
            "province_name_en": ("province_name_en", None),
            "district_id": (None, "district_id"),
            "dist_key": (None, normalize_th_sql("district_name")),
        },
    )

    if special_fix:
        # F9: any unknown province key → Uttaradit (utils.py:321-332), with
        # SQL NOT IN semantics: a null key, or a null among the known
        # keys, leaves the row as it is
        utt = prov.loc[prov["province_name_en"] == "Uttaradit", "prov_key"]
        if len(utt) and prov["prov_key"].notna().all():
            unknown = rows["prov_key"].notna() & ~rows["prov_key"].isin(prov["prov_key"])
            rows.loc[unknown, "prov_key"] = utt.iloc[0]

    # A4: mean class per (province, district).  Groups with a null key
    # are dropped here: an equi-join never matches them below
    means = (
        rows.astype({"class_num": "float64"})
        .dropna(subset=["class_num"])
        .groupby(["prov_key", "dist_key"])["class_num"]
        .mean()
        .rename("risk_avg")
        .reset_index()
    )

    # J6/J7: match to dims via (province key, district key)
    dist_with_prov = dist.merge(prov[["province_id", "prov_key"]].dropna(), on="province_id")
    matched = means.merge(dist_with_prov, on=["prov_key", "dist_key"])

    # J8 + U1: a fill row for every district of an in-file province
    in_file = prov.loc[prov["prov_key"].isin(means["prov_key"]), "province_id"]
    fill = dist_with_prov.loc[dist_with_prov["province_id"].isin(in_file)]
    result = pd.concat([matched.assign(_src=0), fill.assign(_src=1, risk_avg=float("nan"))])

    # A9: matched rows win over fill rows; one row per district
    result = (
        result.sort_values(["district_id", "_src", "province_id", "risk_avg"])
        .drop_duplicates("district_id")
        .assign(upload_risk_id=upload_risk_id)
    )
    return (
        dbf.sparkSession.createDataFrame(
            result[["upload_risk_id", "province_id", "district_id", "risk_avg"]], _MEANS_DDL
        )
        .selectExpr(
            "upload_risk_id",
            "province_id",
            "district_id",
            f"coalesce({avg_to_level_sql('risk_avg')}, 1) AS risk_level",
        )
        .coalesce(1)
    )
