"""Rainfall-grid ingest: NetCDF long-format → daily district facts.

Reference: ``ingest_nc_north_adm2_to_db`` (``backend/app/utils.py:36-182``),
the heaviest pipeline — a full year is ~18M grid-points driver-side there.
Here the row-level steps run fused in one numpy kernel inside the
executor tasks, and Spark moves only their partial sums:

decode → lon-wrap (S2) → bbox (F1) → precip>0 (F2) → cell → district
(J1, a dense ``nlat × nlon`` index) → per (time, district) Σp·w, Σw and
Σvolume (A1, A2; grid steps from A3) — in the kernel; then one small
``groupBy`` merges the partials (wmean = Σp·w / Σw), unless every time
value lives in one task → dim-key joins (J3/J4, broadcast) → dropna
(F8) → date/year/upload_id (C7/C8/C14) → rain_points rows.

Two plans, one kernel:

- **File plan.**  The exact frame ``sources.netcdf.netcdf_files_to_long``
  returned (default decoder, local files) declares its landing files
  (``declared_files``).  The rain plan then scans them itself: one task
  per time slab of a file, each reading its slab through an ``mmap``, so
  a year-long file decodes on every core.  The frame's own row decode
  never runs.
- **Row plan**, the one second path.  Any other grid — a union, filter
  or select of such a frame, a custom ``decoder=``, non-local files, a
  ``createDataFrame`` grid — feeds its rows to the same kernel in
  ``mapInPandas`` batches.

Grid axes: a grid from ``netcdf_files_to_long`` declares its files'
coordinate axes as field metadata, so building either plan runs no
Spark job — the axes get the same wrap and bbox in numpy, and a row off
the declared axes raises in its task.  Any other grid pays one driver
action that collects the axes of its present, positive-precip cells.
The axes feed the A3 grid steps and the cell index, which is memoized
per session.

Scale notes: a task emits one row per (time, district) with rain —
≈ 925 rows per day of the benchmark's 50 k-cell grid — so the merge
shuffles kilobytes whatever the grid size.  One NetCDF-4 file of a
CHIRPS year (18 M points) splits into about one slab task per core.
"""

from __future__ import annotations

import hashlib
import mmap
import os
import threading
import weakref
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.sources.geometry import build_cell_lookup
from mini_project_204721_data_engineering_spark.sources.netcdf import (
    THAILAND_BBOX,
    bbox_filter,
    declared_axis,
    declared_files,
    positive_precip,
    wrap_longitude,
)

__all__ = ["ingest_rain_grid"]

KM_PER_DEG = 111.32  # reference utils.py:113

#: what a kernel task emits: partial sums per (time, province, district)
PARTIALS = "time timestamp, province string, district string, s_pw double, s_w double, s_vol double"

#: grid points a slab task decodes at least (unless its file is
#: smaller): a Python task costs ≈ 0.15 s before its kernel runs, and
#: the kernel decodes and reduces a million NetCDF-4 points in ≈ 0.06 s
#: (CDF-1: ≈ 0.02 s; 4 shared cores)
SLAB_POINTS = 1_000_000

#: cell indexes kept per session (distinct grid × polygon-set pairs)
_LOOKUPS_KEPT = 4
#: session -> {digest of (axes, polygons) -> _CellIndex}, LRU order
_LOOKUPS: weakref.WeakKeyDictionary[SparkSession, OrderedDict[bytes, "_CellIndex"]] = (
    weakref.WeakKeyDictionary()
)
_LOCK = threading.Lock()


def _wrap(lons: np.ndarray) -> np.ndarray:
    """``wrap_longitude`` in numpy: ``np.fmod`` truncates like Spark's
    double ``%`` (Java's), so the values are bit-identical."""
    return np.fmod(lons + 180.0, 360.0) - 180.0


def _plan_axes(lats: np.ndarray, lons: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Declared axes after the lon wrap and the bbox (``bbox_filter``'s
    default), sorted and distinct."""
    lons = _wrap(lons)
    lat_lo, lat_hi, lon_lo, lon_hi = THAILAND_BBOX
    return (
        np.unique(lats[(lats >= lat_lo) & (lats <= lat_hi)]),
        np.unique(lons[(lons >= lon_lo) & (lons <= lon_hi)]),
    )


def _min_step(axis: np.ndarray) -> float:
    """A3: the smallest gap between neighbouring axis values, 0.05° for
    an axis of one value."""
    return float(np.min(np.diff(axis))) if len(axis) > 1 else 0.05


class _CellIndex:
    """Dense cell → (province, district) index: ``cells[i, j]`` is the
    code of the district holding the cell at ``(lats[i], lons[j])``, -1
    for a cell outside the bbox or outside every district.  ``lats`` and
    ``lons`` are sorted; ``wrap`` says whether a coordinate's longitude
    is wrapped before its lookup (the axes are wrapped ones) and
    ``strict`` whether a coordinate off the axes raises (declared axes)
    or drops (collected axes hold every kept cell)."""

    def __init__(self, lats, lons, cells, provinces, districts, wrap=True, strict=False):
        self.lats, self.lons, self.cells = lats, lons, cells
        self.provinces, self.districts = provinces, districts
        self.wrap, self.strict = wrap, strict
        self.w = np.cos(np.radians(lats))  # A1 weight, reference utils.py:101
        self.vw = None  # A2 volume weight per lat row, set by for_grid

    @classmethod
    def from_lookup(cls, lookup: pd.DataFrame, lats: np.ndarray, lons: np.ndarray) -> "_CellIndex":
        """The index over the plan axes from :func:`build_cell_lookup`'s
        ``(lat, lon, province, district)`` rows."""
        pc, pu = pd.factorize(lookup["province"])
        dc, du = pd.factorize(lookup["district"])
        n = max(1, len(du))
        code, pairs = pd.factorize(pc * n + dc)
        cells = np.full((len(lats), len(lons)), -1, dtype=np.int32)
        cells[np.searchsorted(lats, lookup["lat"]), np.searchsorted(lons, lookup["lon"])] = code
        return cls(lats, lons, cells, np.asarray(pu)[pairs // n], np.asarray(du)[pairs % n])

    def for_grid(self, dlat: float, dlon: float, raw_lats=None, raw_lons=None) -> "_CellIndex":
        """A copy for one grid, with the A2 volume weight of its grid
        steps (cell area · cos(lat), km²).  Given the grid's declared raw
        axes, the copy is over them: each raw cell takes the code of its
        wrapped cell, and a row off those axes raises."""
        if raw_lats is not None:
            i = self._pos(self.lats, raw_lats, strict=False)
            j = self._pos(self.lons, _wrap(raw_lons), strict=False)
            cells = np.full((len(raw_lats), len(raw_lons)), -1, dtype=np.int32)
            cells[np.ix_(i >= 0, j >= 0)] = self.cells[np.ix_(i[i >= 0], j[j >= 0])]
            out = _CellIndex(raw_lats, raw_lons, cells, self.provinces, self.districts, wrap=False, strict=True)
        else:
            out = _CellIndex(self.lats, self.lons, self.cells, self.provinces, self.districts)
        out.vw = (KM_PER_DEG * dlat * KM_PER_DEG * dlon) * out.w
        return out

    @staticmethod
    def _pos(axis: np.ndarray, v: np.ndarray, strict: bool) -> np.ndarray:
        """Position of each value on ``axis``, -1 off it (NaN matches NaN)."""
        if len(axis) == 0:
            i = np.zeros(np.shape(v), dtype=np.intp)
            hit = np.zeros(np.shape(v), dtype=bool)
        else:
            i = np.minimum(np.searchsorted(axis, v), len(axis) - 1)
            a = axis[i]
            hit = (a == v) | (np.isnan(a) & np.isnan(v))
        if strict and not hit.all():
            raise ValueError(
                "grid cell outside the grid's declared axes (a union of grids keeps "
                "only its first input's axes): ingest each grid on its own"
            )
        return np.where(hit, i, -1)

    def _lookup(self, lat: np.ndarray, lon: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(district code, lat position) per coordinate pair, code -1 to drop."""
        i = self._pos(self.lats, lat, self.strict)
        j = self._pos(self.lons, _wrap(lon) if self.wrap else lon, self.strict)
        code = np.full(len(i), -1, dtype=np.int32)
        ok = (i >= 0) & (j >= 0)
        code[ok] = self.cells[i[ok], j[ok]]
        return code, i

    def _sums(self, times, t, code, i, p) -> pd.DataFrame:
        """Partial sums per (time, district) of the kept cells: ``t``
        indexes ``times``, ``i`` the lat rows, ``p`` is the precip."""
        n = len(self.provinces)
        key = t * n + code
        size = len(times) * n
        w = self.w[i]
        s_pw = np.bincount(key, p * w, size)
        s_w = np.bincount(key, w, size)
        s_vol = np.bincount(key, p * self.vw[i] * 1000 / 1e6, size)
        hit = np.flatnonzero(np.bincount(key, minlength=size))
        return pd.DataFrame({
            "time": np.asarray(times)[hit // n],
            "province": self.provinces[hit % n],
            "district": self.districts[hit % n],
            "s_pw": s_pw[hit], "s_w": s_w[hit], "s_vol": s_vol[hit],
        })

    def slab_partials(self, times, lats, lons, values: np.ndarray) -> pd.DataFrame:
        """Partials of one decoded ``time × lat × lon`` slab."""
        code, i = self._lookup(np.repeat(lats, len(lons)), np.tile(lons, len(lats)))
        flat = values.reshape(len(times), -1)
        t, c = np.nonzero((flat > 0) & (code >= 0)[None, :])  # NaN > 0 is False
        return self._sums(times, t, code[c], i[c], flat[t, c])

    def row_partials(self, pdf: pd.DataFrame) -> pd.DataFrame:
        """Partials of a batch of long ``(time, lat, lon, precip)`` rows."""
        code, i = self._lookup(pdf["lat"].to_numpy(np.float64), pdf["lon"].to_numpy(np.float64))
        p = pdf["precip"].to_numpy(np.float64, na_value=np.nan)
        keep = np.flatnonzero((p > 0) & (code >= 0))
        t, times = pd.factorize(pdf["time"].iloc[keep], use_na_sentinel=False)
        return self._sums(times, t, code[keep], i[keep], p[keep])


def _cell_index(spark: SparkSession, lats: np.ndarray, lons: np.ndarray, polygons_pdf: pd.DataFrame) -> _CellIndex:
    """The :class:`_CellIndex` of :func:`build_cell_lookup` over the plan
    axes, memoized per session.  The key digests the axis values and
    every polygon field the lookup reads, so an edited polygon frame can
    never reuse a stale index."""
    h = hashlib.sha256()
    for axis in (lats, lons):
        h.update(np.asarray(axis, dtype=np.float64).tobytes() + b"|")
    for col in ("province", "district", "wkt"):
        for v in polygons_pdf[col]:
            h.update(repr(v).encode() + b"\x00")
    key = h.digest()
    with _LOCK:
        memo = _LOOKUPS.setdefault(spark, OrderedDict())
        hit = memo.get(key)
        if hit is not None:
            memo.move_to_end(key)
            return hit
    # two threads may both build a new key; both get the same answer
    index = _CellIndex.from_lookup(build_cell_lookup(spark, lats, lons, polygons_pdf), lats, lons)
    with _LOCK:
        memo[key] = index
        while len(memo) > _LOOKUPS_KEPT:
            memo.popitem(last=False)
    return index


def _slabs(files: list[dict], cores: int) -> list[tuple[dict, int, int]]:
    """``(file, t0, t1)`` time slabs: at most about ``cores`` of them
    over all files, none under :data:`SLAB_POINTS` grid points unless
    its file is smaller, each starting on a multiple of its file's chunk
    time extent."""
    share = -(-sum(f["steps"] * f["cells"] for f in files) // max(1, cores))
    points = max(SLAB_POINTS, share)
    out = []
    for f in files:
        size = max(1, -(-points // max(1, f["cells"])))
        size = -(-size // f["align"]) * f["align"]
        out += [(f, t0, min(f["steps"], t0 + size)) for t0 in range(0, f["steps"], size)]
    return out


def _slab_partials(slab: tuple[dict, int, int], index: _CellIndex):
    """Decode one file slab through an ``mmap`` and yield its partials.
    The mapping is left to the garbage collector: decoded arrays may be
    views of it."""
    from mini_project_204721_data_engineering_spark.sources.hdf5 import netcdf_grid_slabs

    f, t0, t1 = slab
    with open(f["path"], "rb") as fh:
        st = os.fstat(fh.fileno())
        if (st.st_size, st.st_mtime_ns) != (f["size"], f["mtime_ns"]):
            raise ValueError(f"landing file {f['path']} changed since netcdf_files_to_long declared it")
        m = mmap.mmap(fh.fileno(), 0, access=mmap.ACCESS_READ)
    for times, lats, lons, values in netcdf_grid_slabs(m, t0, t1):
        yield index.slab_partials(times, lats, lons, values)


def ingest_rain_grid(
    grid: DataFrame,
    polygons_pdf: pd.DataFrame,
    province: DataFrame,
    district: DataFrame,
    upload_id: int = 1,
) -> DataFrame:
    """Run the full rain pipeline; returns rain_points-shaped rows
    ``(upload_id, date, year, province_id, district_id, rain_mm_wmean,
    rainfall_mm)`` (storage DDL ``models.py:44-55``), one per time value
    of the grid and district with rain.

    The file plan or the row plan (module doc) emits partial sums; one
    ``groupBy`` on the time value, province and district merges them,
    and the date cast comes after it.  The file plan skips the merge
    when its files declare distinct time values (no time value then
    reaches two tasks).  The A3 grid steps come from the
    declared axes when the grid has them (the true file step), else from
    the axes of the cells with positive precipitation.
    """
    spark = grid.sparkSession
    raw_lats, raw_lons = declared_axis(grid, "lat"), declared_axis(grid, "lon")
    declared = raw_lats is not None and raw_lons is not None
    if declared:
        lats, lons = _plan_axes(raw_lats, raw_lons)
    else:
        # one driver action for everything coordinate-shaped: the distinct
        # axes (tiny — nlat + nlon values, never the nlat×nlon cross
        # product) feed both the cell index and the A3 step inference
        g = positive_precip(bbox_filter(grid.withColumn("lon", wrap_longitude(F.col("lon")))))
        row = g.agg(F.collect_set("lat").alias("lats"), F.collect_set("lon").alias("lons")).first()
        lats, lons = (np.unique(np.asarray(row[c], dtype=np.float64)) for c in ("lats", "lons"))

    index = _cell_index(spark, lats, lons, polygons_pdf).for_grid(
        _min_step(lats), _min_step(lons), *((raw_lats, raw_lons) if declared else ())
    )

    landing = declared_files(grid)
    if landing is not None:
        slabs = _slabs(landing["files"], spark.sparkContext.defaultParallelism)

        def scan(batches):
            for pdf in batches:
                for i in pdf["id"]:
                    yield from _slab_partials(slabs[i], index)

        partials = spark.range(0, len(slabs), 1, max(1, len(slabs))).mapInPandas(scan, PARTIALS)
    else:

        def rows(batches):
            for pdf in batches:
                yield index.row_partials(pdf)

        partials = grid.mapInPandas(rows, PARTIALS)

    if landing is not None and landing["distinct_times"]:
        # each time value lives in one slab task: its partials are final
        daily = partials.select(
            "time", "province", "district",
            (F.col("s_pw") / F.col("s_w")).alias("rain_mm_wmean"),
            F.col("s_vol").alias("rainfall_mm"),
        )
    else:
        daily = partials.groupBy("time", "province", "district").agg(
            (F.sum("s_pw") / F.sum("s_w")).alias("rain_mm_wmean"),
            F.sum("s_vol").alias("rainfall_mm"),
        )
    prov_keyed = province.select(
        F.col("province_id"), F.col("province_name").alias("province")
    )
    dist_keyed = district.select(
        F.col("district_id"), F.col("province_id"), F.col("district_name").alias("district")
    )
    return (
        daily.join(F.broadcast(prov_keyed), "province", "left")
        .join(F.broadcast(dist_keyed), ["province_id", "district"], "left")
        .na.drop(subset=["province_id", "district_id"])
        .select(
            F.lit(upload_id).alias("upload_id"),
            F.col("time").cast("date").alias("date"),
            F.year("time").alias("year"),
            F.col("province_id").cast("int"),
            F.col("district_id").cast("int"),
            F.col("rain_mm_wmean").cast("double"),
            F.col("rainfall_mm").cast("double"),
        )
    )
