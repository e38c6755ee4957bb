"""Declared grid axes: ``netcdf_files_to_long`` reads each file's
coordinate variables on the driver, and ``ingest_rain_grid`` builds its
cell lookup and grid steps from them without a Spark job; the lookup is
memoized per session and keyed by (axes, polygons)."""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import Row

from mini_project_204721_data_engineering_spark.pipelines import rain
from mini_project_204721_data_engineering_spark.pipelines.dims import build_dims
from mini_project_204721_data_engineering_spark.pipelines.rain import ingest_rain_grid
from mini_project_204721_data_engineering_spark.sources import geometry
from mini_project_204721_data_engineering_spark.sources.hdf5 import (
    netcdf_grid_to_long_batches,
    write_hdf5,
)
from mini_project_204721_data_engineering_spark.sources.netcdf import declared_axis, netcdf_files_to_long
from mini_project_204721_data_engineering_spark.sources.netcdf3 import write_netcdf3

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
LATS = np.array([18.25, 18.3, 18.35], dtype=np.float32)
LONS = np.array([99.9, 100.05], dtype=np.float32)  # one cell column per district


@pytest.fixture(scope="module")
def dims(spark):
    adm2 = spark.createDataFrame(
        [
            Row(ADM1_EN="Chiang Mai", ADM1_TH="จังหวัดเชียงใหม่", ADM2_EN="Muang", ADM2_TH="อำเภอเมือง"),
            Row(ADM1_EN="Chiang Mai", ADM1_TH="จังหวัดเชียงใหม่", ADM2_EN="Mae Rim", ADM2_TH="อำเภอแม่ริม"),
        ]
    )
    province, district = build_dims(adm2, north_only=True)
    ids = {r["district_name"]: r["district_id"] for r in district.collect()}
    return province, district, ids


def _precip(dry_row: int | None = None) -> np.ndarray:
    p = np.arange(1, 1 + 2 * len(LATS) * len(LONS), dtype=np.float32).reshape(2, len(LATS), len(LONS))
    if dry_row is not None:
        p[:, dry_row, :] = 0.0  # dry on every day
    return p


def _cdf1(path, precip, lats=LATS, lons=LONS) -> None:
    write_netcdf3(
        str(path),
        dims={"time": precip.shape[0], "latitude": len(lats), "longitude": len(lons)},
        variables={
            "time": (["time"], np.arange(precip.shape[0], dtype=np.float64), {"units": "days since 2023-06-01"}),
            "latitude": (["latitude"], lats, {}),
            "longitude": (["longitude"], lons, {}),
            "precip": (["time", "latitude", "longitude"], precip, {"_FillValue": np.float32(-9999.0)}),
        },
    )


def _nc4(path, precip, lats=LATS, lons=LONS) -> None:
    write_hdf5(
        str(path),
        datasets={
            "time": (np.arange(precip.shape[0], dtype=np.float64), {"units": "days since 2023-06-01"}),
            "latitude": (lats, {}),
            "longitude": (lons, {}),
            "precip": (precip, {"_FillValue": np.float32(-9999.0)}),
        },
        dim_names={
            "time": ["time"],
            "latitude": ["latitude"],
            "longitude": ["longitude"],
            "precip": ["time", "latitude", "longitude"],
        },
        options={"precip": {"chunks": (1, len(lats), len(lons)), "deflate": 4, "shuffle": True}},
        flavor="v2",
    )


def _jobs_started(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _by_key(out):
    return {
        (str(r["date"]), r["district_id"]): (round(r["rain_mm_wmean"], 9), round(r["rainfall_mm"], 9))
        for r in out.collect()
    }


def test_declared_axes_give_the_true_grid_step(spark, dims, tmp_path):
    """The middle latitude row is dry on every day: the wet cells' axes
    skip it (step 0.10°), the file's axes do not (step 0.05°)."""
    province, district, ids = dims
    precip = _precip(dry_row=1)
    _cdf1(tmp_path / "g.nc", precip)
    grid = netcdf_files_to_long(spark, str(tmp_path))
    got = _by_key(ingest_rain_grid(grid, POLYGONS, province, district))

    lat64, lon64 = LATS.astype(np.float64), LONS.astype(np.float64)
    dlat, dlon = float(np.min(np.diff(lat64))), float(np.min(np.diff(lon64)))
    assert dlat == pytest.approx(0.05, abs=1e-6)
    for day in range(2):
        for j, name in enumerate(("เมือง", "แม่ริม")):
            wet = [i for i in range(len(LATS)) if precip[day, i, j] > 0]
            w = [math.cos(math.radians(lat64[i])) for i in wet]
            vol = sum(
                float(precip[day, i, j]) * (111.32 * dlat * 111.32 * dlon * wi) * 1000 / 1e6
                for i, wi in zip(wet, w)
            )
            _, rainfall = got[(f"2023-06-0{day + 1}", ids[name])]
            assert rainfall == pytest.approx(vol, abs=1e-8)


def test_cdf1_and_netcdf4_declare_identical_axes(spark, tmp_path):
    for name, write in (("cdf1", _cdf1), ("nc4", _nc4)):
        (tmp_path / name).mkdir()
        write(tmp_path / name / "g.nc", _precip())
    cdf1 = netcdf_files_to_long(spark, str(tmp_path / "cdf1"))
    nc4 = netcdf_files_to_long(spark, str(tmp_path / "nc4"))
    for col, want in (("lat", LATS), ("lon", LONS)):
        a, b = declared_axis(cdf1, col), declared_axis(nc4, col)
        assert a.tobytes() == b.tobytes() == want.astype(np.float64).tobytes()
        # bit-identical to the decoded rows' values
        assert sorted({r[0] for r in nc4.select(col).collect()}) == a.tolist()
    custom = netcdf_files_to_long(spark, str(tmp_path / "nc4"), decoder=netcdf_grid_to_long_batches)
    assert declared_axis(custom, "lat") is None and declared_axis(custom, "lon") is None


def test_declared_and_collected_axes_agree_on_a_wrapped_gap_free_grid(spark, dims, tmp_path):
    """Longitudes stored as 459.9 / 460.05 wrap to the bbox in Spark; the
    numpy wrap of the declared axes must hit the same doubles, or the
    lookup join would drop every cell.  A NaN latitude row is dropped by
    the bbox on both paths."""
    province, district, _ = dims
    lats = np.array([18.25, 18.3, np.nan], dtype=np.float32)
    _cdf1(tmp_path / "g.nc", _precip(), lats=lats, lons=LONS + np.float32(360.0))
    declared = netcdf_files_to_long(spark, str(tmp_path))
    collected = netcdf_files_to_long(spark, str(tmp_path), decoder=netcdf_grid_to_long_batches)
    got = _by_key(ingest_rain_grid(declared, POLYGONS, province, district))
    assert len(got) == 4
    assert got == _by_key(ingest_rain_grid(collected, POLYGONS, province, district))


def test_rows_outside_the_declared_axes_fail_loudly(spark, dims, tmp_path):
    """A union keeps its first input's metadata; the second grid's cells
    must raise, not silently miss the lookup."""
    province, district, _ = dims
    for name, lats in (("a", LATS), ("b", LATS + np.float32(0.5))):
        (tmp_path / name).mkdir()
        _cdf1(tmp_path / name / "g.nc", _precip(), lats=lats)
    both = netcdf_files_to_long(spark, str(tmp_path / "a")).union(
        netcdf_files_to_long(spark, str(tmp_path / "b"))
    )
    with pytest.raises(Exception, match="declared axes"):
        ingest_rain_grid(both, POLYGONS, province, district).collect()


def test_rain_plan_over_declared_grid_starts_no_job(spark, dims, tmp_path):
    province, district, _ = dims
    _nc4(tmp_path / "g.nc", _precip())
    grid, n_read = _jobs_started(spark, "axes-read", lambda: netcdf_files_to_long(spark, str(tmp_path)))
    out, n_build = _jobs_started(
        spark, "axes-build", lambda: ingest_rain_grid(grid, POLYGONS, province, district)
    )
    assert (n_read, n_build) == (0, 0)
    assert len(out.collect()) == 4


def test_cell_lookup_memo_is_keyed_by_axes_polygons_and_session(spark, dims, tmp_path, monkeypatch):
    import weakref

    province, district, ids = dims
    monkeypatch.setattr(rain, "_LOOKUPS", weakref.WeakKeyDictionary())
    calls = []
    real = geometry.assign_district

    def counted(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(geometry, "assign_district", counted)
    _cdf1(tmp_path / "g.nc", _precip())
    grid = netcdf_files_to_long(spark, str(tmp_path))

    first = _by_key(ingest_rain_grid(grid, POLYGONS, province, district))
    again = _by_key(ingest_rain_grid(grid, POLYGONS.copy(), province, district))
    assert len(calls) == 1 and again == first

    # swap the two districts' shapes: a new lookup, and rows follow it
    swapped = POLYGONS.assign(wkt=POLYGONS["wkt"][::-1].to_numpy())
    moved = _by_key(ingest_rain_grid(grid, swapped, province, district))
    assert len(calls) == 2
    a, b = ids["เมือง"], ids["แม่ริม"]
    assert moved == {(d, b if k == a else a): v for (d, k), v in first.items()}

    ingest_rain_grid(grid, POLYGONS, province, district)
    assert len(calls) == 2
    other = netcdf_files_to_long(spark.newSession(), str(tmp_path))
    ingest_rain_grid(other, POLYGONS, province, district)
    assert len(calls) == 3
