"""Rainfall-grid ingest: NetCDF long-format → daily district facts.

Reference: ``ingest_nc_north_adm2_to_db`` (``backend/app/utils.py:36-182``),
the heaviest pipeline — a full year is ~18M grid-points driver-side there;
here the same dataflow is one lazy Spark plan:

grid → lon-wrap (S2) → bbox (F1) → precip>0 (F2) → spatial join (J1)
→ area-weighted mean (A1, algebraic sum(x·w)/sum(w))
→ cell-area volume sum (A2, grid steps from A3)
→ wmean⋈sum merge (J2) → dim-key joins (J3/J4, broadcast)
→ dropna (F8) → date/year/upload_id (C7/C8/C14) → rain_points rows.

Grid axes: a grid from ``sources.netcdf.netcdf_files_to_long`` declares
its files' coordinate axes as field metadata, so building the plan runs
no Spark job — the axes get the same wrap and bbox in numpy.  Any other
grid pays one driver action that collects the axes of its present,
positive-precip cells.  The axes feed the A3 grid steps and the
(lat, lon) → district cell lookup, which is memoized per session.

Scale notes: the spatial join is a broadcast equi-join against the
precomputed cell lookup (static grid × static polygons); both aggregates
shuffle once on (time, province, district) — Catalyst reuses the exchange
for wmean and volume since the grouping key is identical.
"""

from __future__ import annotations

import hashlib
import math
import threading
import weakref
from collections import OrderedDict

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.sources.geometry import assign_points_udf, build_cell_lookup
from mini_project_204721_data_engineering_spark.sources.netcdf import (
    THAILAND_BBOX,
    bbox_filter,
    declared_axis,
    positive_precip,
    wrap_longitude,
)

__all__ = ["cell_weight", "ingest_rain_grid"]

KM_PER_DEG = 111.32  # reference utils.py:113

#: cell lookups kept per session (distinct grid × polygon-set pairs)
_LOOKUPS_KEPT = 4
#: session -> {digest of (axes, polygons) -> lookup DataFrame}, LRU order
_LOOKUPS: weakref.WeakKeyDictionary[SparkSession, OrderedDict[bytes, DataFrame]] = (
    weakref.WeakKeyDictionary()
)
_LOCK = threading.Lock()


def cell_weight(lat: Column) -> Column:
    """A1 weight: cos(latitude) — the area weighting of lat/lon cells
    (reference ``utils.py:101``)."""
    return F.cos(F.radians(lat))


def _plan_axes(lats: np.ndarray, lons: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Declared axes after the plan's lon wrap and bbox.  ``np.fmod``
    truncates like Spark's double ``%`` (Java's), so the wrapped values
    are bit-identical to the plan's join keys."""
    lons = np.fmod(lons + 180.0, 360.0) - 180.0  # wrap_longitude
    lat_lo, lat_hi, lon_lo, lon_hi = THAILAND_BBOX  # bbox_filter's default
    return lats[(lats >= lat_lo) & (lats <= lat_hi)], lons[(lons >= lon_lo) & (lons <= lon_hi)]


def _on_axes(lats: np.ndarray, lons: np.ndarray) -> Column:
    """``precip``, raising for a row whose raw (lat, lon) is off the
    declared axes.  A union keeps its first input's field metadata, so
    such a row would otherwise miss the cell lookup and vanish.  One SQL
    text, not a py4j call per literal; ``repr`` + ``D`` is exact, and a
    NaN coordinate matches NaN (the bbox then drops it, as without axes)."""

    def lit(v: float) -> str:
        return f"{v!r}D" if math.isfinite(v) else f"CAST('{v}' AS DOUBLE)"

    on_axes = F.expr(" AND ".join(
        f"{c} IN ({', '.join(map(lit, axis.tolist())) or 'NULL'})"
        for c, axis in (("lat", lats), ("lon", lons))
    ))
    return F.when(on_axes, F.col("precip")).otherwise(F.raise_error(F.lit(
        "grid cell outside the grid's declared axes (a union of grids keeps "
        "only its first input's axes): ingest each grid on its own"
    )))


def _cell_lookup(spark: SparkSession, lats, lons, polygons_pdf: pd.DataFrame) -> DataFrame:
    """:func:`build_cell_lookup`, memoized per session.  The key digests
    the axis values and every polygon field the lookup reads, so an
    edited polygon frame can never reuse a stale lookup."""
    h = hashlib.sha256()
    for axis in (lats, lons):
        h.update(np.unique(np.asarray(axis, dtype=np.float64)).tobytes() + b"|")
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
    lookup = build_cell_lookup(spark, lats, lons, polygons_pdf)
    with _LOCK:
        memo[key] = lookup
        while len(memo) > _LOOKUPS_KEPT:
            memo.popitem(last=False)
    return lookup


def ingest_rain_grid(
    grid: DataFrame,
    polygons_pdf: pd.DataFrame,
    province: DataFrame,
    district: DataFrame,
    upload_id: int = 1,
    use_lookup: bool = True,
) -> DataFrame:
    """Run the full rain pipeline; returns rain_points-shaped rows
    ``(upload_id, date, year, province_id, district_id, rain_mm_wmean,
    rainfall_mm)`` (storage DDL ``models.py:44-55``).

    ``use_lookup=True`` precomputes the (lat,lon)→district cell table and
    broadcast-joins it (SURVEY §4.3.1 preferred path); ``False`` uses the
    general ray-casting ``mapInPandas`` path.  The A3 grid steps come
    from the declared axes when the grid has them (the true file step),
    else from the axes of the cells with positive precipitation.
    """
    spark = grid.sparkSession
    raw_lats, raw_lons = declared_axis(grid, "lat"), declared_axis(grid, "lon")
    declared = raw_lats is not None and raw_lons is not None
    cols = {"lon": wrap_longitude(F.col("lon"))}
    if declared:
        cols["precip"] = _on_axes(raw_lats, raw_lons)
    g = grid.withColumns(cols)  # both read the raw columns
    g = bbox_filter(g)
    g = positive_precip(g)

    if not declared:
        # one driver action for everything coordinate-shaped: the distinct
        # axes (tiny — nlat + nlon values, never the nlat×nlon cross
        # product) feed both the cell lookup and the A3 step inference
        row = g.agg(
            F.collect_set("lat").alias("lats"), F.collect_set("lon").alias("lons")
        ).first()
        lats, lons = row["lats"], row["lons"]
    else:
        lats, lons = _plan_axes(raw_lats, raw_lons)

    if use_lookup:
        lookup = _cell_lookup(spark, lats, lons, polygons_pdf)
        joined = g.join(F.broadcast(lookup), ["lat", "lon"], "inner")
    else:
        joined = assign_points_udf(g, polygons_pdf, lon_col="lon", lat_col="lat")

    def _min_step(vals) -> float:
        svals = sorted(set(vals))
        diffs = [abs(b - a) for a, b in zip(svals, svals[1:])]
        return min(diffs) if diffs else 0.05

    dlat = _min_step(lats)
    dlon = _min_step(lons)

    w = cell_weight(F.col("lat"))
    cell_area = F.lit(KM_PER_DEG * dlat * KM_PER_DEG * dlon) * w
    volume = F.col("precip") * cell_area * 1000 / 1e6

    keys = ["time", "province", "district"]
    daily = joined.groupBy(*keys).agg(
        (F.sum(F.col("precip") * w) / F.sum(w)).alias("rain_mm_wmean"),
        F.sum(volume).alias("rainfall_mm"),
    )

    prov_keyed = province.select(
        F.col("province_id"), F.col("province_name").alias("province")
    )
    dist_keyed = district.select(
        F.col("district_id"), F.col("province_id"), F.col("district_name").alias("district")
    )
    out = (
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
    return out
