"""NetCDF rainfall-grid source (reference S1/S2, ``utils.py:63-77``).

Byte-level reads: xarray when installed (full NetCDF-4/HDF5 coverage);
classic CDF-1/CDF-2 files read through the dependency-free parser
(``sources/netcdf3.py``) even without it — only NetCDF-4 containers
still require an injected decoder in this environment.  Everything after
the read — longitude wrapping, bbox filtering, positive-precip
filtering — is Spark Column logic on the flattened long-format frame
``(time, lat, lon, precip)`` and fully tested.

Scale path (SURVEY §4.3.3): a full CHIRPS year is ~18M points for the
Thailand bbox — fine through the driver once; for 100 TB of grids,
land the files on object storage and convert per-file with
``spark.read.format("binaryFile")`` + ``mapInPandas`` (one time-chunk per
task), then everything downstream is identical.

Declared axes: with the default decoder, :func:`netcdf_files_to_long`
also reads each local landing file's latitude/longitude coordinate
variables on the driver and attaches their sorted union to the ``lat``
and ``lon`` fields as column metadata (:data:`GRID_AXIS`), so
``pipelines.rain`` can build its cell lookup without a Spark action.
"""

from __future__ import annotations

import base64
import mmap
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
    "GRID_AXIS",
    "THAILAND_BBOX",
]

#: reference bbox (``utils.py:69-71``): lat 5.6-20.5, lon 97.3-105.7
THAILAND_BBOX = (5.6, 20.5, 97.3, 105.7)

#: field-metadata key of a grid's declared axis: the sorted distinct
#: coordinate values of every landing file, base64 of little-endian
#: float64 bytes (bit-exact, unlike a decimal text round trip)
GRID_AXIS = "grid_axis"


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


def _local_path(uri: str) -> str | None:
    """Driver-readable path of a scan's input file, None off ``file:``."""
    u = urlparse(uri)
    return url2pathname(u.path) if u.scheme in ("", "file") else None


def _file_axes(paths: list[str]) -> tuple[np.ndarray, np.ndarray] | None:
    """Sorted union of the files' ``(lat, lon)`` coordinate values, read
    from the headers and 1-D coordinate variables of mmapped files (the
    grid variable's data is never read); None when any file is not local
    or not readable as a grid here — its decode task then reports it."""
    from mini_project_204721_data_engineering_spark.sources.hdf5 import netcdf_grid_axes

    lats, lons = [], []
    for p in map(_local_path, paths):
        if p is None:
            return None
        try:
            with open(p, "rb") as f, mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as m:
                la, lo = netcdf_grid_axes(m)
        except (OSError, ValueError, NotImplementedError, BufferError):
            return None  # unreadable here just means "undeclared"
        lats.append(la)
        lons.append(lo)
    if not lats:
        return None
    return np.unique(np.concatenate(lats)), np.unique(np.concatenate(lons))


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
    latitude/longitude coordinate variables through ``mmap``, never the
    precip grid.  Their sorted union is attached to the ``lat`` and
    ``lon`` fields as :data:`GRID_AXIS` metadata.  A custom ``decoder=``,
    a non-local path or a file the driver cannot read that way declares
    no axes.
    """
    import pandas as pd

    axes = None
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
        axes = _file_axes(files.inputFiles())

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
    for col, axis in zip(("lat", "lon"), axes or ()):
        raw = base64.b64encode(axis.astype("<f8").tobytes()).decode()
        out = out.withMetadata(col, {GRID_AXIS: raw})
    return out
