"""Dims init: admin boundaries → province/district dimension tables.

Reference: ``/init_data_province_district`` (``backend/app/main.py:93-106``
→ ``backend/app/utils.py:185-253``) — a per-row iterrows upsert loop.
Here it's set-based: filter → clean → dedup → deterministic dense ids
(row_number over sorted names; the reference gets serial ids from
Postgres sequences, ours are reproducible).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mini_project_204721_data_engineering_spark.functions.text import clean_text

__all__ = ["NORTH_PROVINCES_EN", "build_dims", "collect_dims"]

#: the 9 northern provinces kept by F3 (reference ``utils.py:83-85``)
NORTH_PROVINCES_EN = (
    "Chiang Mai",
    "Chiang Rai",
    "Lampang",
    "Lamphun",
    "Mae Hong Son",
    "Nan",
    "Phayao",
    "Phrae",
    "Uttaradit",
)


def build_dims(
    adm2: DataFrame, north_only: bool = True
) -> tuple[DataFrame, DataFrame]:
    """ADM2 boundary attributes → (province, district) dimension frames.

    Input columns: ADM1_EN, ADM1_TH, ADM2_EN, ADM2_TH (the shapefile
    attribute schema, reference ``utils.py:88,214-217``).
    Output: ``province(province_id, province_name, province_name_en)``,
    ``district(district_id, district_name, district_name_en, province_id)``
    per the storage DDL (``models.py:26-41``).
    """
    df = adm2
    if north_only:
        df = df.filter(F.col("ADM1_EN").isin(*NORTH_PROVINCES_EN))
    cleaned = df.select(
        clean_text(F.col("ADM1_TH")).alias("province_name"),
        clean_text(F.col("ADM1_EN")).alias("province_name_en"),
        clean_text(F.col("ADM2_TH")).alias("district_name"),
        clean_text(F.col("ADM2_EN")).alias("district_name_en"),
    )

    prov = cleaned.select("province_name", "province_name_en").distinct()
    w_p = Window.orderBy("province_name_en")
    province = prov.withColumn("province_id", F.row_number().over(w_p)).select(
        "province_id", "province_name", "province_name_en"
    )

    dist = cleaned.dropDuplicates(["province_name_en", "district_name_en"])
    w_d = Window.orderBy("province_name_en", "district_name_en")
    district = (
        dist.withColumn("district_id", F.row_number().over(w_d))
        .join(F.broadcast(province), ["province_name", "province_name_en"])
        .select("district_id", "district_name", "district_name_en", "province_id")
    )
    return province, district


def collect_dims(
    province: DataFrame, district: DataFrame, cols: dict[str, tuple[str | None, str | None]]
) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Project both dims and bring them to the driver in ONE Spark job
    (one collect of a union), as pandas frames.  ``cols`` maps an output
    column to its (province, district) SQL text; ``None`` leaves the
    column out of that side's frame.  The dims are ≈ 100 rows."""
    def side(df: DataFrame, tag: str, pick: int) -> DataFrame:
        return df.selectExpr(
            f"'{tag}' AS dim", *[f"{e[pick] or 'NULL'} AS {c}" for c, e in cols.items()]
        )

    both = side(province, "province", 0).union(side(district, "district", 1))
    rows = both.collect()
    return tuple(
        pd.DataFrame([r for r in rows if r["dim"] == tag], columns=both.columns)[
            [c for c, e in cols.items() if e[pick]]
        ]
        for tag, pick in (("province", 0), ("district", 1))
    )
