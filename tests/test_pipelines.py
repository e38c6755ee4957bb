"""Pipeline golden tests on reference-shaped synthetic fixtures
(FIXTURES.md §A): miniature grid→rain, DBF→risk, workbook→incidents,
boundaries→dims, with hand-computed expected outputs."""

from __future__ import annotations

import math
import os
import tempfile

import pandas as pd
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.pipelines.dims import build_dims
from mini_project_204721_data_engineering_spark.pipelines.incidents import ingest_incidents
from mini_project_204721_data_engineering_spark.pipelines.rain import ingest_rain_grid
from mini_project_204721_data_engineering_spark.pipelines.risk import ingest_risk_dbf
from mini_project_204721_data_engineering_spark.sources.dbf import read_dbf, write_dbf
from mini_project_204721_data_engineering_spark.sources.excel import choose_sheet, normalize_incident_sheet
from mini_project_204721_data_engineering_spark.sources.geometry import parse_wkt_polygon, point_in_ring

import numpy as np


# --- fixture geometry: two rectangular "districts" in one province -------
# district A: lon [99, 100], lat [18, 19]; district B: lon [100, 101], lat [18, 19]
POLYGONS = pd.DataFrame(
    {
        "province": ["เชียงใหม่", "เชียงใหม่"],
        "district": ["เมือง", "แม่ริม"],
        "wkt": [
            "POLYGON ((99 18, 100 18, 100 19, 99 19, 99 18))",
            "POLYGON ((100 18, 101 18, 101 19, 100 19, 100 18))",
        ],
    }
)


@pytest.fixture(scope="module")
def dims(spark):
    adm2 = spark.createDataFrame(
        [
            Row(ADM1_EN="Chiang Mai", ADM1_TH="จังหวัดเชียงใหม่", ADM2_EN="Muang", ADM2_TH="อำเภอเมือง"),
            Row(ADM1_EN="Chiang Mai", ADM1_TH="จังหวัดเชียงใหม่", ADM2_EN="Mae Rim", ADM2_TH="อำเภอแม่ริม"),
            Row(ADM1_EN="Bangkok", ADM1_TH="กรุงเทพมหานคร", ADM2_EN="Dusit", ADM2_TH="ดุสิต"),
        ]
    )
    return build_dims(adm2, north_only=True)


def test_build_dims_filters_and_cleans(spark, dims):
    province, district = dims
    provs = province.collect()
    assert len(provs) == 1  # Bangkok filtered out (F3)
    assert provs[0]["province_name"] == "เชียงใหม่"  # จังหวัด prefix stripped (C1)
    assert provs[0]["province_name_en"] == "Chiang Mai"
    dists = {r["district_name_en"]: r for r in district.collect()}
    assert set(dists) == {"Mueang", "Mae Rim"}  # Muang→Mueang fix (C1)
    assert all(r["province_id"] == provs[0]["province_id"] for r in dists.values())


def test_geometry_primitives():
    ring = parse_wkt_polygon("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))")
    assert ring.shape == (5, 2)
    inside = point_in_ring(np.array([1.0, 3.0]), np.array([1.0, 1.0]), ring)
    assert inside.tolist() == [True, False]


@pytest.mark.parametrize("use_lookup", [True, False])
def test_rain_pipeline_golden(spark, dims, use_lookup):
    province, district = dims
    # 2 days × 4 grid cells: two cells in district A, one in B, one outside
    rows = []
    for day in ("2023-06-01", "2023-06-02"):
        rows += [
            Row(time=day, lat=18.25, lon=99.25, precip=10.0),
            Row(time=day, lat=18.75, lon=99.75, precip=20.0),
            Row(time=day, lat=18.25, lon=100.25, precip=5.0),
            Row(time=day, lat=18.25, lon=250.0, precip=99.0),  # wraps to -110 → outside bbox
        ]
    rows.append(Row(time="2023-06-01", lat=18.4, lon=99.4, precip=None))  # F2 drop
    grid = spark.createDataFrame(rows).withColumn("time", F.col("time").cast("timestamp"))

    out = ingest_rain_grid(grid, POLYGONS, province, district, upload_id=7, use_lookup=use_lookup)
    got = {(str(r["date"]), r["district_id"]): r for r in out.collect()}
    district_ids = {r["district_name"]: r["district_id"] for r in district.collect()}

    # hand-computed weighted mean for district A (เมือง) on each day:
    w1, w2 = math.cos(math.radians(18.25)), math.cos(math.radians(18.75))
    expected_wmean_a = (10.0 * w1 + 20.0 * w2) / (w1 + w2)
    a = got[("2023-06-01", district_ids["เมือง"])]
    assert abs(a["rain_mm_wmean"] - expected_wmean_a) < 1e-9
    assert a["upload_id"] == 7 and a["year"] == 2023

    b = got[("2023-06-02", district_ids["แม่ริม"])]
    assert abs(b["rain_mm_wmean"] - 5.0) < 1e-9
    # volume: precip · (111.32·dlat·111.32·dlon·cos lat) · 1000/1e6
    dlat = dlon = 0.5
    vol_b = 5.0 * (111.32 * dlat * 111.32 * dlon * w1) * 1000 / 1e6
    assert abs(b["rainfall_mm"] - vol_b) < 1e-9
    # out-of-bbox cell and null precip never reach any district
    assert len(got) == 4


def test_rain_pipeline_single_driver_action(spark, dims, monkeypatch):
    """r2 verdict #5: building the rain plan costs exactly ONE driver
    action (the fused axes agg feeding both the cell lookup and the A3
    step inference) — not two distinct().collect() plus an axes agg."""
    province, district = dims
    grid = spark.createDataFrame(
        [Row(time="2023-06-01", lat=18.25, lon=99.25, precip=10.0)]
    ).withColumn("time", F.col("time").cast("timestamp"))
    DataFrame = type(grid)  # the concrete (classic) DataFrame class

    # first()/head()/take() all funnel into collect(), so counting
    # collect + toPandas counts every driver action exactly once
    actions = []
    for name in ("collect", "toPandas"):
        orig = getattr(DataFrame, name)

        def counted(self, *a, _orig=orig, _name=name, **kw):
            actions.append(_name)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(DataFrame, name, counted)
    out = ingest_rain_grid(grid, POLYGONS, province, district, use_lookup=True)
    assert actions == ["collect"], f"plan construction ran {actions}"
    assert out.count() == 1  # the plan itself still executes fine


def test_risk_pipeline_with_real_dbf_roundtrip(spark, dims, tmp_path):
    province, district = dims
    # DBF with Thai TIS-620 content: Mueang risk words avg→level 3,
    # unknown district dropped, Mae Rim missing → filled with level 1
    src = pd.DataFrame(
        {
            "PROV_NAM_T": ["จ.เชียงใหม่", "เชียงใหม่", "เชียงใหม่"],
            "AMPHOE_T": ["เมือง", "เมือง", "อำเภอไม่มีจริง"],
            "CLASS": ["สูง", "สูงมาก", "junk"],
        }
    )
    path = os.path.join(tmp_path, "risk.dbf")
    write_dbf(src, path)
    back = read_dbf(path)  # lowercase columns, TIS-620 round trip
    assert list(back.columns) == ["prov_nam_t", "amphoe_t", "class"]
    assert back["prov_nam_t"][0] == "จ.เชียงใหม่"

    dbf = spark.createDataFrame(back)
    out = ingest_risk_dbf(dbf, province, district, upload_risk_id=3)
    got = {r["district_id"]: r for r in out.collect()}
    ids = {r["district_name"]: r["district_id"] for r in district.collect()}
    assert got[ids["เมือง"]]["risk_level"] == 3  # mean(3,3) → level 3
    assert got[ids["แม่ริม"]]["risk_level"] == 1  # J8 fill
    assert all(r["upload_risk_id"] == 3 for r in got.values())
    assert len(got) == 2


def test_incidents_pipeline_idempotent(spark, dims):
    province, district = dims
    wb = spark.createDataFrame(
        [
            Row(**{"Disaster Date": "2023-06-01", "Province": "เชียงใหม่", "District": "เมือง"}),
            Row(**{"Disaster Date": "2023-06-01", "Province": "เชียงใหม่", "District": "เมือง"}),
            Row(**{"Disaster Date": "2023-06-02", "Province": "เชียงใหม่", "District": "แม่ริม"}),
            Row(**{"Disaster Date": "garbage", "Province": "เชียงใหม่", "District": "เมือง"}),
            Row(**{"Disaster Date": "2023-06-03", "Province": "นอกระบบ", "District": "เมือง"}),
        ]
    )
    first = ingest_incidents(wb, province, district, existing=None)
    rows = {(str(r["disaster_date"]), r["district_id"]): r["count_of_disasters"] for r in first.collect()}
    ids = {r["district_name"]: r["district_id"] for r in district.collect()}
    # duplicate rows counted (A5); malformed date + unknown province dropped
    assert rows == {
        ("2023-06-01", ids["เมือง"]): 2,
        ("2023-06-02", ids["แม่ริม"]): 1,
    }
    # second run with the first result as existing → nothing new (J9)
    second = ingest_incidents(wb, province, district, existing=first)
    assert second.count() == 0


def test_excel_layout_normalization():
    # format 1
    f1 = pd.DataFrame(
        {"Disaster Date": ["2023-06-01"], "Province": [" เชียงใหม่ "], "District": ["เมือง"]}
    )
    out1 = normalize_incident_sheet(f1)
    assert out1["Province"][0] == "เชียงใหม่"
    # format 2: two junk rows then Thai headers
    f2 = pd.DataFrame(
        [
            ["junk", None, None],
            ["วันที่เกิดภัย", "จังหวัด", "อำเภอ"],
            ["2023-06-01", "เชียงใหม่", "เมือง"],
        ]
    )
    out2 = normalize_incident_sheet(f2)
    assert list(out2.columns) == ["Disaster Date", "Province", "District"]
    assert out2["District"][0] == "เมือง"
    # sheet chooser
    assert choose_sheet(["Summary", "Incidents 2566", "Other"]) == "Incidents 2566"
    assert choose_sheet(["A", "B"]) == "A"
    with pytest.raises(ValueError, match="missing required columns"):
        normalize_incident_sheet(pd.DataFrame({"X": [1]}))


def test_netcdf_files_to_long_distributed_decode(spark, tmp_path):
    """S1 scale path: binaryFile + mapInPandas converts a directory of
    grid files executor-side.  Decoder injected (CSV-bytes stand-in —
    the container has no NetCDF libs); plumbing, schema, and multi-file
    union are the real thing."""
    import io

    import pandas as pd

    from mini_project_204721_data_engineering_spark.sources.netcdf import netcdf_files_to_long

    for day in (1, 2):
        rows = "\n".join(
            f"2024-01-0{day} 00:00:00,{15.0 + i * 0.05},{100.0 + j * 0.05},{i + j + day}"
            for i in range(3)
            for j in range(3)
        )
        (tmp_path / f"grid{day}.nc").write_bytes(
            f"time,lat,lon,precip\n{rows}\n".encode()
        )

    def csv_decoder(content: bytes) -> pd.DataFrame:
        pdf = pd.read_csv(io.BytesIO(content), parse_dates=["time"])
        return pdf

    out = netcdf_files_to_long(spark, str(tmp_path), decoder=csv_decoder)
    rows = out.collect()
    assert len(rows) == 18  # 2 files × 9 cells
    assert {str(r["time"])[:10] for r in rows} == {"2024-01-01", "2024-01-02"}
    assert all(isinstance(r["precip"], float) for r in rows)


def test_geojson_roundtrip_to_polygon_frame(tmp_path):
    """S10 completes the loop: write_geojson → read_geojson reproduces
    the (province, district, wkt) polygon frame the spatial join
    consumes (outer-ring geometry preserved to full precision)."""
    from mini_project_204721_data_engineering_spark.sources.geometry import read_geojson, write_geojson

    p = str(tmp_path / "adm.geojson")
    n = write_geojson(POLYGONS, p)
    assert n == len(POLYGONS)
    back = read_geojson(p)
    assert back["province"].tolist() == POLYGONS["province"].tolist()
    assert back["district"].tolist() == POLYGONS["district"].tolist()
    for got, orig in zip(back["wkt"], POLYGONS["wkt"]):
        np.testing.assert_array_equal(parse_wkt_polygon(got), parse_wkt_polygon(orig))


def test_geojson_roundtrip_preserves_holes_and_parts(tmp_path):
    """Holes survive the S10 loop; MultiPolygon features come back one
    row per part with their holes; 3-element [x, y, z] GeoJSON positions
    read fine (ADVICE r2)."""
    import json

    from mini_project_204721_data_engineering_spark.sources.geometry import (
        parse_wkt_geometry,
        read_geojson,
        write_geojson,
    )

    donut = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 2 1, 2 2, 1 2, 1 1))"
    multi = "MULTIPOLYGON (((0 0, 1 0, 1 1, 0 0)), ((5 5, 6 5, 6 6, 5 5), (5.2 5.2, 5.4 5.2, 5.3 5.4, 5.2 5.2)))"
    pdf = pd.DataFrame(
        {"province": ["P1", "P2"], "district": ["D1", "D2"], "wkt": [donut, multi]}
    )
    p = str(tmp_path / "holes.geojson")
    assert write_geojson(pdf, p) == 2
    gj = json.load(open(p))
    assert gj["features"][0]["geometry"]["type"] == "Polygon"
    assert len(gj["features"][0]["geometry"]["coordinates"]) == 2  # outer + hole
    assert gj["features"][1]["geometry"]["type"] == "MultiPolygon"

    back = read_geojson(p)
    assert len(back) == 3  # donut row + one row per multipolygon part
    assert [len(parse_wkt_geometry(w)[0]) for w in back["wkt"]] == [2, 1, 2]

    # z-coordinate positions are legal GeoJSON — only x, y are read
    gj["features"][0]["geometry"]["coordinates"] = [
        [[x, y, 7.5] for x, y in ring]
        for ring in gj["features"][0]["geometry"]["coordinates"]
    ]
    p3 = str(tmp_path / "z.geojson")
    json.dump(gj, open(p3, "w"))
    back3 = read_geojson(p3)
    np.testing.assert_array_equal(
        parse_wkt_geometry(back3["wkt"][0])[0][0], parse_wkt_geometry(donut)[0][0]
    )
