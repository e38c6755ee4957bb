"""NetCDF rainfall-grid source (reference S1/S2, ``utils.py:63-77``).

Byte-level reads: xarray when installed (full NetCDF-4/HDF5 coverage);
classic CDF-1/CDF-2 files read through the dependency-free parser
(``sources/netcdf3.py``) and NetCDF-4 through ``sources/hdf5.py``, with
no third-party reader.  Everything after the read — longitude wrapping,
bbox filtering, positive-precip filtering — is Spark Column logic on the
flattened long-format frame ``(time, lat, lon, precip)``, or the same
steps in ``pipelines.rain``'s numpy kernel.

Scale path (SURVEY §4.3.3): a full CHIRPS year is ~18M points for the
Thailand bbox.  :func:`netcdf_files_to_long` lists the landing files
with ``spark.read.format("binaryFile")`` and decodes them in
``mapInPandas`` tasks, one time slab at a time.  The rain pipeline goes
further for the frames it declares (below): it never runs that row
decode, and plans its own scan of the files, one task per time slab of
a file, each reducing its slab to per-district partial sums.

Declarations: with the default decoder and local files,
:func:`netcdf_files_to_long` also reads each landing file's header and
latitude/longitude coordinate variables on the driver, never the precip
grid.  It attaches their sorted union to the ``lat`` and ``lon`` fields
as column metadata (:data:`GRID_AXIS`), and the files themselves —
path, stat token, time steps, cells, chunk time extent, and whether
any time value repeats — to the ``time`` field (:data:`GRID_FILES`).  ``pipelines.rain`` builds its cell
index from the axes without a Spark action, and plans from the files
when the grid is the exact frame returned (:func:`declared_files`).
"""

from __future__ import annotations

import base64
import json
import mmap
import os
import weakref
from urllib.parse import urlparse
from urllib.request import url2pathname

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "wrap_longitude",
    "bbox_filter",
    "positive_precip",
    "netcdf_to_long",
    "netcdf_files_to_long",
    "declared_axis",
    "declared_files",
    "GRID_AXIS",
    "GRID_FILES",
    "THAILAND_BBOX",
]

#: reference bbox (``utils.py:69-71``): lat 5.6-20.5, lon 97.3-105.7
THAILAND_BBOX = (5.6, 20.5, 97.3, 105.7)

#: field-metadata key of a grid's declared axis: the sorted distinct
#: coordinate values of every landing file, base64 of little-endian
#: float64 bytes (bit-exact, unlike a decimal text round trip)
GRID_AXIS = "grid_axis"

#: field-metadata key of a grid's landing files, on its ``time`` field:
#: JSON ``{"files": [{path, size, mtime_ns, steps, cells, align}],
#: "distinct_times": bool}`` — the local path and stat token each file
#: had when declared, its time steps, grid cells per step and the step
#: multiple its slabs start on (the chunk time extent); and whether no
#: time value repeats within or across the files
GRID_FILES = "grid_files"
_FILE_KEYS = ("path", "size", "mtime_ns", "steps", "cells", "align")

#: the frames :func:`netcdf_files_to_long` returned with declared files
_DECLARING: weakref.WeakSet[DataFrame] = weakref.WeakSet()


def wrap_longitude(lon: Column) -> Column:
    """S2: wrap 0-360 longitudes to [-180, 180) (``utils.py:65-67``).
    Long format has no coordinate-order dependence, so no re-sort."""
    return ((lon + 180) % 360) - 180


def bbox_filter(
    df: DataFrame,
    bbox: tuple[float, float, float, float] = THAILAND_BBOX,
    lat_col: str = "lat",
    lon_col: str = "lon",
) -> DataFrame:
    """F1: inclusive bbox slice — pushed to the scan by Catalyst."""
    lat_lo, lat_hi, lon_lo, lon_hi = bbox
    return df.filter(
        F.col(lat_col).between(lat_lo, lat_hi) & F.col(lon_col).between(lon_lo, lon_hi)
    )


def positive_precip(df: DataFrame, col: str = "precip") -> DataFrame:
    """F2: keep present-and-positive precipitation (``utils.py:74``)."""
    return df.filter(F.col(col).isNotNull() & (F.col(col) > 0))


def netcdf_to_long(spark: SparkSession, nc_path: str, var: str = "precip") -> DataFrame:
    """S1: NetCDF → long-format DataFrame (time, lat, lon, precip).

    Both container families decode dependency-free (classic CDF-1/2/5
    via ``sources/netcdf3.py``, NetCDF-4/HDF5 via ``sources/hdf5.py``);
    xarray, when installed, is preferred for its broader edge coverage
    (the reference's own read path, ``backend/app/utils.py:63``)."""
    try:
        import xarray as xr  # noqa: F401
    except ImportError:
        from mini_project_204721_data_engineering_spark.sources.hdf5 import (
            netcdf_grid_to_long,
        )

        with open(nc_path, "rb") as f:
            content = f.read()
        return spark.createDataFrame(netcdf_grid_to_long(content, var=var))
    ds = xr.open_dataset(nc_path)
    da = ds[var]
    pdf = da.to_dataframe().reset_index()
    pdf = pdf.rename(
        columns={"latitude": "lat", "longitude": "lon", "time": "time", var: "precip"}
    )
    return spark.createDataFrame(pdf[["time", "lat", "lon", "precip"]])


def declared_axis(df: DataFrame, col: str) -> np.ndarray | None:
    """The sorted axis ``df``'s ``col`` field declares (see
    :data:`GRID_AXIS`), or None when it declares none."""
    raw = df.schema[col].metadata.get(GRID_AXIS)
    return None if raw is None else np.frombuffer(base64.b64decode(raw), "<f8").copy()


def declared_files(df: DataFrame) -> dict | None:
    """The landing files ``df`` declares (see :data:`GRID_FILES`) when
    ``df`` is itself a frame :func:`netcdf_files_to_long` returned, else
    None.  A union, filter or select keeps the field metadata but not
    the frame, so only the exact frame can be planned from its files."""
    if df not in _DECLARING:
        return None
    return json.loads(df.schema["time"].metadata[GRID_FILES])


def _local_path(uri: str) -> str | None:
    """Driver-readable path of a scan's input file, None off ``file:``."""
    u = urlparse(uri)
    return url2pathname(u.path) if u.scheme in ("", "file") else None


def _file_layouts(paths: list[str]) -> list[dict] | None:
    """Each landing file's local path, stat token, coordinate axes, time
    values and slab alignment, read from the headers and 1-D coordinate
    variables of mmapped files (the grid variable's data is never read);
    None when any file is not local or not readable as a grid here — its
    decode task then reports it."""
    from mini_project_204721_data_engineering_spark.sources.hdf5 import netcdf_grid_layout

    out = []
    for p in map(_local_path, paths):
        if p is None:
            return None
        try:
            with open(p, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as m:
                lats, lons, times, align = netcdf_grid_layout(m)
                st = os.fstat(f.fileno())
        except (OSError, ValueError, NotImplementedError, BufferError):
            return None  # unreadable here just means "undeclared"
        out.append({
            "path": p, "size": st.st_size, "mtime_ns": st.st_mtime_ns, "steps": len(times),
            "cells": len(lats) * len(lons), "align": align, "lats": lats, "lons": lons,
            "times": times,
        })
    return out or None


def netcdf_files_to_long(
    spark: SparkSession,
    dir_path: str,
    decoder=None,
    pattern: str = "*.nc",
) -> DataFrame:
    """S1 at scale: distributed grid-file conversion — the executor-side
    path the reference's driver-bound ``da.to_dataframe()`` (``utils.py:77``)
    cannot take.

    ``binaryFile`` scan lists the landing directory; each task decodes one
    file's bytes to long format via ``decoder(content: bytes)`` returning
    either one ``pd.DataFrame[time, lat, lon, precip]`` or an ITERABLE of
    such frames (slab-streamed), so 100 TB of yearly grids convert at scan
    parallelism.  The default decoder sniffs the container magic and
    handles BOTH NetCDF families dependency-free — classic CDF-1/2/5 via
    ``sources/netcdf3.py`` and NetCDF-4/HDF5 (the reference's real CHIRPS
    input, ``backend/app/main.py:162``) via ``sources/hdf5.py`` — and
    streams per-time-slab frames, so a year-long file's decoded expansion
    never materializes in one task (peak = raw bytes + one slab).
    ``decoder=`` still overrides for exotic variable names or containers.

    What the driver reads: the scan's file list, and — with the default
    decoder and ``file:`` inputs only — each file's header and its 1-D
    coordinate variables through ``mmap``, never the precip grid.  The
    axes' sorted union is declared on the ``lat`` and ``lon`` fields as
    :data:`GRID_AXIS` metadata, the files on the ``time`` field as
    :data:`GRID_FILES`.  A custom ``decoder=``, a non-local path or a
    file the driver cannot read that way declares neither.
    """
    import pandas as pd

    layouts = None
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", pattern)
        .load(dir_path)
        .select("content")
    )
    if decoder is None:
        from mini_project_204721_data_engineering_spark.sources.hdf5 import (
            netcdf_grid_to_long_batches,
        )

        decoder = netcdf_grid_to_long_batches
        # the scan's own file index: exactly the files the tasks decode
        layouts = _file_layouts(files.inputFiles())

    def worker(batches):
        for pdf in batches:
            for content in pdf["content"]:
                out = decoder(bytes(content))
                if isinstance(out, pd.DataFrame):
                    yield out[["time", "lat", "lon", "precip"]]
                else:  # slab generator: one frame per time slab
                    for part in out:
                        yield part[["time", "lat", "lon", "precip"]]

    out = files.mapInPandas(
        worker, "time timestamp, lat double, lon double, precip double"
    )
    if layouts is None:
        return out

    def axis(key: str) -> str:
        values = np.unique(np.concatenate([f[key] for f in layouts]))
        return base64.b64encode(values.astype("<f8").tobytes()).decode()

    try:
        times = np.concatenate([f["times"] for f in layouts])
        distinct = bool(len(np.unique(times)) == len(times))
    except TypeError:  # time axes of different kinds: their rows never run
        distinct = False
    landing = {"files": [{k: f[k] for k in _FILE_KEYS} for f in layouts], "distinct_times": distinct}
    out = out.select(
        F.col("time").alias("time", metadata={GRID_FILES: json.dumps(landing)}),
        F.col("lat").alias("lat", metadata={GRID_AXIS: axis("lats")}),
        F.col("lon").alias("lon", metadata={GRID_AXIS: axis("lons")}),
        "precip",
    )
    _DECLARING.add(out)
    return out
