"""Dependency-free NetCDF classic (.nc, CDF-1/CDF-2/CDF-5) reader (S1
byte level).

The reference opens rainfall grids with xarray (``xr.open_dataset``,
``backend/app/utils.py:63``); no NetCDF library ships in this
environment, but the NetCDF *classic* container is a small public binary
format (the NetCDF "CDF" spec; CDF-5 64-bit extensions per pnetcdf's
published spec): a header of dimension / attribute / variable lists
followed by big-endian array data, fixed-size variables at absolute
offsets and record variables interleaved along the unlimited dimension.
This module reads that family — enough for CHIRPS-style
``time × latitude × longitude`` grids exported as classic files.
(NetCDF-4/HDF5 containers are covered by ``sources/hdf5.py``.)

``netcdf3_grid_to_long`` is a drop-in ``decoder=`` for
``sources.netcdf.netcdf_files_to_long`` — executor-side, bytes in /
long-format pandas out — honoring ``_FillValue``, ``scale_factor``,
``add_offset`` and CF "unit since epoch" time attributes.

The writer emits valid classic files and exists to round-trip the reader
in tests (the dbf/shp/xlsx strategy).
"""

from __future__ import annotations

import struct
from typing import Any

import numpy as np
import pandas as pd

__all__ = [
    "read_netcdf3",
    "netcdf3_grid_to_long",
    "netcdf3_grid_to_long_batches",
    "netcdf3_grid_axes",
    "write_netcdf3",
]

#: low-level exceptions a malformed file surfaces from the byte walkers
_CORRUPT = (struct.error, IndexError, KeyError, OverflowError, MemoryError)

_NC_DIMENSION = 0x0A
_NC_VARIABLE = 0x0B
_NC_ATTRIBUTE = 0x0C

#: nc_type → (numpy dtype, size); data is big-endian on disk
#: (7-11 are the CDF-5 extended types — pnetcdf's public CDF-5 spec)
_TYPES = {
    1: (np.dtype(">i1"), 1),  # byte
    2: (np.dtype("S1"), 1),  # char
    3: (np.dtype(">i2"), 2),  # short
    4: (np.dtype(">i4"), 4),  # int
    5: (np.dtype(">f4"), 4),  # float
    6: (np.dtype(">f8"), 8),  # double
    7: (np.dtype(">u1"), 1),  # ubyte   (CDF-5)
    8: (np.dtype(">u2"), 2),  # ushort  (CDF-5)
    9: (np.dtype(">u4"), 4),  # uint    (CDF-5)
    10: (np.dtype(">i8"), 8),  # int64  (CDF-5)
    11: (np.dtype(">u8"), 8),  # uint64 (CDF-5)
}


class _Cursor:
    def __init__(self, data: bytes, wide: bool = False):
        self.data = data
        self.pos = 0
        self.wide = wide  # CDF-5: NON_NEG fields are 64-bit

    def i4(self) -> int:
        (v,) = struct.unpack_from(">i", self.data, self.pos)
        self.pos += 4
        return v

    def i8(self) -> int:
        (v,) = struct.unpack_from(">q", self.data, self.pos)
        self.pos += 8
        return v

    def nn(self) -> int:
        """NON_NEG: 4 bytes in CDF-1/2, 8 in CDF-5."""
        return self.i8() if self.wide else self.i4()

    def name(self) -> str:
        n = self.nn()
        s = self.data[self.pos : self.pos + n].decode("utf-8", "replace")
        self.pos += n + (-n) % 4  # names pad to 4-byte boundary
        return s

    def values(self, nc_type: int, nelems: int):
        dt, size = _TYPES[nc_type]
        nbytes = size * nelems
        raw = self.data[self.pos : self.pos + nbytes]
        self.pos += nbytes + (-nbytes) % 4
        if nc_type == 2:
            return raw.decode("utf-8", "replace")
        arr = np.frombuffer(raw, dtype=dt)
        return arr.tolist() if nelems > 1 else arr[0].item()


def _att_list(c: _Cursor) -> dict[str, Any]:
    tag, n = c.i4(), c.nn()
    if tag == 0 and n == 0:
        return {}
    if tag != _NC_ATTRIBUTE:
        raise ValueError(f"bad attribute-list tag {tag}")
    out = {}
    for _ in range(n):
        name = c.name()
        nc_type = c.i4()
        nelems = c.nn()
        out[name] = c.values(nc_type, nelems)
    return out


def _parse_header(data: bytes) -> dict:
    """Header-only parse: dimension/attribute/variable lists + record
    geometry, NO array materialization — the piece the slab-streaming
    reader shares with the eager one."""
    if data[:3] != b"CDF" or data[3] not in (1, 2, 5):
        raise ValueError("not a classic NetCDF (CDF-1/CDF-2/CDF-5) file")
    version = data[3]
    c = _Cursor(data, wide=version == 5)
    c.pos = 4
    numrecs = c.nn()

    dims: list[tuple[str, int]] = []
    record_dim: str | None = None
    tag, n = c.i4(), c.nn()
    if tag == _NC_DIMENSION:
        for _ in range(n):
            name = c.name()
            size = c.nn()
            if size == 0:
                record_dim = name
            dims.append((name, size))
    elif not (tag == 0 and n == 0):
        raise ValueError(f"bad dimension-list tag {tag}")

    gattrs = _att_list(c)

    variables: list[dict] = []
    tag, n = c.i4(), c.nn()
    if tag == _NC_VARIABLE:
        for _ in range(n):
            name = c.name()
            ndims = c.nn()
            dimids = [c.i4() for _ in range(ndims)]
            vattrs = _att_list(c)
            nc_type = c.i4()
            vsize = c.nn()
            begin = c.i8() if version in (2, 5) else c.i4()
            variables.append(
                {
                    "name": name,
                    "dims": [dims[i][0] for i in dimids],
                    "shape": [dims[i][1] for i in dimids],
                    "attrs": vattrs,
                    "nc_type": nc_type,
                    "vsize": vsize,
                    "begin": begin,
                }
            )
    elif not (tag == 0 and n == 0):
        raise ValueError(f"bad variable-list tag {tag}")

    rec_vars = [v for v in variables if record_dim is not None and record_dim in v["dims"]]
    rec_stride = sum(v["vsize"] for v in rec_vars)
    if len(rec_vars) == 1:
        # CDF spec special case: with exactly ONE record variable of
        # byte/char/short, record slabs are packed with NO padding even
        # though the stored vsize stays rounded up to 4 (scipy.io.netcdf
        # does the same) — using the padded vsize would silently shift
        # every record after the first.
        v0 = rec_vars[0]
        _, tsize = _TYPES[v0["nc_type"]]
        per = [s for d, s in zip(v0["dims"], v0["shape"]) if d != record_dim]
        unpadded = (int(np.prod(per)) if per else 1) * tsize
        if unpadded % 4:
            rec_stride = unpadded
    if numrecs < 0 and rec_vars:
        # STREAMING sentinel (0xFFFFFFFF): record count is derived from
        # the file size past the start of the record block (CDF spec)
        rec_begin = min(v["begin"] for v in rec_vars)
        numrecs = max(0, (len(data) - rec_begin) // rec_stride) if rec_stride else 0

    return {
        "version": version,
        "dims": dims,
        "record_dim": record_dim,
        "attrs": gattrs,
        "variables": variables,
        "rec_var_names": {v["name"] for v in rec_vars},
        "rec_stride": rec_stride,
        "numrecs": numrecs,
    }


def _materialize_var(
    data: bytes, hdr: dict, v: dict, r0: int | None = None, r1: int | None = None
) -> np.ndarray:
    """Decode one variable's array — optionally only rows [r0, r1) of
    its FIRST axis (records for record variables, leading-dim rows for
    fixed variables): the slab the streaming reader materializes."""
    dt, size = _TYPES[v["nc_type"]]
    record_dim = hdr["record_dim"]
    if v["name"] in hdr["rec_var_names"]:
        per_rec_shape = [s for d, s in zip(v["dims"], v["shape"]) if d != record_dim]
        per_rec_elems = int(np.prod(per_rec_shape)) if per_rec_shape else 1
        lo, hi = (0, hdr["numrecs"]) if r0 is None else (r0, r1)
        chunks = [
            np.frombuffer(
                data, dtype=dt, count=per_rec_elems,
                offset=v["begin"] + r * hdr["rec_stride"],
            )
            for r in range(lo, hi)
        ]
        arr = (
            np.stack(chunks).reshape([hi - lo] + per_rec_shape)
            if chunks
            else np.empty([0] + per_rec_shape, dtype=dt)
        )
    elif r0 is not None and v["shape"]:
        # fixed variable, leading-axis slab: rows are contiguous
        row_elems = int(np.prod(v["shape"][1:])) if len(v["shape"]) > 1 else 1
        arr = np.frombuffer(
            data, dtype=dt, count=(r1 - r0) * row_elems,
            offset=v["begin"] + r0 * row_elems * size,
        ).reshape([r1 - r0] + v["shape"][1:])
    else:
        nelems = int(np.prod(v["shape"])) if v["shape"] else 1
        arr = np.frombuffer(data, dtype=dt, count=nelems, offset=v["begin"]).reshape(
            v["shape"]
        )
    return arr.astype(dt.newbyteorder("=")) if v["nc_type"] != 2 else arr


def read_netcdf3(source: str | bytes) -> dict:
    """Parse a classic NetCDF file.

    Returns ``{"dims": {name: size}, "record_dim": name | None,
    "attrs": {...}, "vars": {name: {"dims": [...], "attrs": {...},
    "data": np.ndarray}}}`` — data in native byte order, record variables
    already stitched along the unlimited dimension.
    """
    data = source if isinstance(source, bytes) else open(source, "rb").read()
    try:
        hdr = _parse_header(data)
        out_vars = {
            v["name"]: {
                "dims": v["dims"],
                "attrs": v["attrs"],
                "data": _materialize_var(data, hdr, v),
            }
            for v in hdr["variables"]
        }
    except _CORRUPT as e:
        raise ValueError(f"corrupt or truncated NetCDF classic file: {e!r}") from e
    dim_sizes = {
        name: (hdr["numrecs"] if size == 0 else size) for name, size in hdr["dims"]
    }
    return {
        "dims": dim_sizes,
        "record_dim": hdr["record_dim"],
        "attrs": hdr["attrs"],
        "vars": out_vars,
    }


def _decode_cf_values(var: dict) -> np.ndarray:
    """Apply _FillValue / missing_value → NaN and scale_factor/add_offset
    (CF conventions; CHIRPS uses _FillValue=-9999)."""
    arr = var["data"].astype(np.float64)
    attrs = var["attrs"]
    for key in ("_FillValue", "missing_value"):
        if key in attrs:
            arr = np.where(arr == float(attrs[key]), np.nan, arr)
    if "scale_factor" in attrs:
        arr = arr * float(attrs["scale_factor"])
    if "add_offset" in attrs:
        arr = arr + float(attrs["add_offset"])
    return arr


def _decode_cf_time(var: dict) -> np.ndarray:
    """CF '<unit> since <epoch>' → datetime64[ns]; raw values otherwise."""
    units = str(var["attrs"].get("units", ""))
    if " since " in units:
        unit, epoch = units.split(" since ", 1)
        unit_td = {
            "days": "D",
            "hours": "h",
            "minutes": "m",
            "seconds": "s",
        }.get(unit.strip().lower())
        if unit_td:
            base = pd.Timestamp(epoch.strip())
            vals = np.asarray(var["data"], dtype=np.float64)
            return (base + pd.to_timedelta(vals, unit=unit_td)).to_numpy()
    return var["data"]


def _grid_header(content, var: str, time_dim: str, lat_dim: str, lon_dim: str):
    """Header parse + grid-shape check shared by the decoder and the
    axes reader: ``(header, variables by name, the grid variable)``."""
    try:
        hdr = _parse_header(content)
    except _CORRUPT as e:
        raise ValueError(f"corrupt or truncated NetCDF classic file: {e!r}") from e
    by_name = {v["name"]: v for v in hdr["variables"]}
    if var not in by_name:
        raise ValueError(f"variable {var!r} not in file (has {sorted(by_name)})")
    v = by_name[var]
    if v["dims"] != [time_dim, lat_dim, lon_dim]:
        raise ValueError(f"{var} dims {v['dims']} != [{time_dim}, {lat_dim}, {lon_dim}]")
    return hdr, by_name, v


def netcdf3_grid_axes(
    content,
    var: str = "precip",
    time_dim: str = "time",
    lat_dim: str = "latitude",
    lon_dim: str = "longitude",
) -> tuple[np.ndarray, np.ndarray]:
    """The ``(lat, lon)`` coordinate arrays of one classic grid file as
    float64 — exactly the values :func:`netcdf3_grid_to_long_batches`
    puts in its ``lat``/``lon`` columns.  Reads the header and the two
    1-D coordinate variables only, never ``var``'s data, so ``content``
    may be an ``mmap`` of a file of any size."""
    hdr, by_name, _ = _grid_header(content, var, time_dim, lat_dim, lon_dim)
    try:
        return tuple(
            np.array(_materialize_var(content, hdr, by_name[n]), dtype=np.float64)
            for n in (lat_dim, lon_dim)
        )
    except _CORRUPT as e:
        raise ValueError(f"corrupt or truncated NetCDF classic file: {e!r}") from e


def netcdf3_grid_to_long(
    content: bytes,
    var: str = "precip",
    time_dim: str = "time",
    lat_dim: str = "latitude",
    lon_dim: str = "longitude",
) -> pd.DataFrame:
    """Classic-NetCDF decoder for ``netcdf_files_to_long``: bytes of one
    ``time × latitude × longitude`` grid file → long-format
    ``(time, lat, lon, precip)`` pandas frame, CF-decoded.  Runs on
    executors — no driver round-trip, no external library."""
    batches = list(netcdf3_grid_to_long_batches(content, var, time_dim, lat_dim, lon_dim))
    return pd.concat(batches, ignore_index=True) if batches else pd.DataFrame(
        {"time": [], "lat": [], "lon": [], "precip": []}
    )


def netcdf3_grid_to_long_batches(
    content: bytes,
    var: str = "precip",
    time_dim: str = "time",
    lat_dim: str = "latitude",
    lon_dim: str = "longitude",
    records_per_batch: int = 32,
):
    """Slab-streamed decode: yields long-format frames of
    ``records_per_batch`` time steps each, so a full-year file's DECODED
    expansion (~8× the raw f4 grid as four float64 long columns) never
    materializes at once — peak task memory is the raw bytes plus ONE
    slab.  Record variables slice by record stride; a fixed time-first
    variable slices by leading-axis offset math.  This is the default
    executor decode path under ``netcdf_files_to_long``."""
    hdr, by_name, v = _grid_header(content, var, time_dim, lat_dim, lon_dim)
    try:
        coords = {
            n: {"dims": by_name[n]["dims"], "attrs": by_name[n]["attrs"],
                "data": _materialize_var(content, hdr, by_name[n])}
            for n in (time_dim, lat_dim, lon_dim)
        }
    except _CORRUPT as e:
        raise ValueError(f"corrupt or truncated NetCDF classic file: {e!r}") from e
    times = _decode_cf_time(coords[time_dim])
    lats = np.asarray(coords[lat_dim]["data"], dtype=np.float64)
    lons = np.asarray(coords[lon_dim]["data"], dtype=np.float64)
    nt, nla, nlo = len(times), len(lats), len(lons)
    lat_tile = np.repeat(lats, nlo)
    for r0 in range(0, nt, records_per_batch):
        r1 = min(nt, r0 + records_per_batch)
        try:
            slab = _materialize_var(content, hdr, v, r0, r1)
        except _CORRUPT as e:
            raise ValueError(f"corrupt or truncated NetCDF classic file: {e!r}") from e
        vals = _decode_cf_values({"data": slab, "attrs": v["attrs"]})
        k = r1 - r0
        yield pd.DataFrame(
            {
                "time": np.repeat(times[r0:r1], nla * nlo),
                "lat": np.tile(lat_tile, k),
                "lon": np.tile(lons, k * nla),
                "precip": vals.reshape(-1),
            }
        )


def write_netcdf3(
    path: str,
    dims: dict[str, int],
    variables: dict[str, tuple[list[str], np.ndarray, dict]],
    record_dim: str | None = None,
    attrs: dict | None = None,
    version: int = 1,
) -> None:
    """Write a classic file (tests/fixtures — round-trips the reader).
    ``variables``: name → (dim names, array, attrs); arrays must match
    the declared dim sizes; ``record_dim`` (if given) must be the first
    dim of every variable that uses it.  ``version``: 1 (CDF-1) or 5
    (CDF-5: 64-bit NON_NEG fields + int64/unsigned types)."""
    if version not in (1, 5):
        raise ValueError("write_netcdf3 emits CDF-1 or CDF-5")
    nn = ">q" if version == 5 else ">i"  # NON_NEG field width

    def pad4(b: bytes) -> bytes:
        return b + b"\x00" * ((-len(b)) % 4)

    def w_name(s: str) -> bytes:
        b = s.encode("utf-8")
        return struct.pack(nn, len(b)) + pad4(b)

    def np_to_nc(arr: np.ndarray) -> int:
        kind = arr.dtype.kind, arr.dtype.itemsize
        classic = {("i", 1): 1, ("S", 1): 2, ("i", 2): 3, ("i", 4): 4, ("f", 4): 5, ("f", 8): 6}
        cdf5 = {("u", 1): 7, ("u", 2): 8, ("u", 4): 9, ("i", 8): 10, ("u", 8): 11}
        if kind in classic:
            return classic[kind]
        if version == 5 and kind in cdf5:
            return cdf5[kind]
        raise ValueError(f"dtype {arr.dtype} needs CDF-5" if kind in cdf5 else f"unsupported dtype {arr.dtype}")

    def w_attrs(a: dict) -> bytes:
        if not a:
            return struct.pack(">i", 0) + struct.pack(nn, 0)
        out = struct.pack(">i", _NC_ATTRIBUTE) + struct.pack(nn, len(a))
        for k, v in a.items():
            out += w_name(k)
            if isinstance(v, str):
                b = v.encode("utf-8")
                out += struct.pack(">i", 2) + struct.pack(nn, len(b)) + pad4(b)
            else:
                arr = np.asarray(v)
                if arr.dtype.kind == "f":
                    arr = arr.astype(">f8")
                    t = 6
                else:
                    arr = arr.astype(">i4")
                    t = 4
                out += struct.pack(">i", t) + struct.pack(nn, arr.size) + pad4(arr.tobytes())
        return out

    dim_names = list(dims)
    numrecs = dims[record_dim] if record_dim else 0

    header = b"CDF" + bytes([version]) + struct.pack(nn, numrecs)
    header += struct.pack(">i", _NC_DIMENSION) + struct.pack(nn, len(dims))
    for name in dim_names:
        header += w_name(name) + struct.pack(nn, 0 if name == record_dim else dims[name])
    header += w_attrs(attrs or {})

    # variable metadata needs data offsets — lay out in two passes
    metas = []
    for name, (vdims, arr, vattrs) in variables.items():
        arr = np.ascontiguousarray(arr)
        nc_type = np_to_nc(arr)
        _, size = _TYPES[nc_type]
        is_rec = record_dim is not None and record_dim in vdims
        per_rec = int(np.prod([dims[d] for d in vdims if d != record_dim])) if vdims else 1
        n_elems = per_rec if is_rec else int(np.prod([dims[d] for d in vdims])) if vdims else 1
        vsize = n_elems * size + (-(n_elems * size)) % 4
        metas.append((name, vdims, arr, vattrs, nc_type, vsize, is_rec))

    begin_size = 8 if version == 5 else 4
    var_hdr_len = 4 + struct.calcsize(nn)
    var_entries = []
    for name, vdims, arr, vattrs, nc_type, vsize, is_rec in metas:
        entry = w_name(name) + struct.pack(nn, len(vdims))
        entry += b"".join(struct.pack(">i", dim_names.index(d)) for d in vdims)
        entry += w_attrs(vattrs) + struct.pack(">i", nc_type) + struct.pack(nn, vsize)
        var_entries.append(entry)
    header_len = (
        len(header)
        + var_hdr_len
        + sum(len(e) + begin_size for e in var_entries)
    )

    # offsets: fixed vars first, then the record block
    begins, off = [], header_len
    for name, vdims, arr, vattrs, nc_type, vsize, is_rec in metas:
        if not is_rec:
            begins.append(off)
            off += vsize
        else:
            begins.append(None)
    rec_start = off
    rec_off = rec_start
    rec_stride = sum(m[5] for m in metas if m[6])
    for i, (name, vdims, arr, vattrs, nc_type, vsize, is_rec) in enumerate(metas):
        if is_rec:
            begins[i] = rec_off
            rec_off += vsize

    out = bytearray(header)
    out += struct.pack(">i", _NC_VARIABLE) + struct.pack(nn, len(metas))
    for entry, begin in zip(var_entries, begins):
        out += entry + struct.pack(">q" if version == 5 else ">i", begin)
    for name, vdims, arr, vattrs, nc_type, vsize, is_rec in metas:
        if not is_rec:
            dt, _ = _TYPES[nc_type]
            out += pad4(arr.astype(dt).tobytes())
    # record block: per record, each record var's chunk in variable order;
    # the spec's single-small-record-variable case packs WITHOUT padding
    pad_records = sum(1 for m in metas if m[6]) != 1
    for r in range(numrecs):
        for name, vdims, arr, vattrs, nc_type, vsize, is_rec in metas:
            if is_rec:
                dt, _ = _TYPES[nc_type]
                # np.asarray: indexing a 1-d record var yields a numpy
                # scalar, whose astype silently drops the big-endian order
                chunk = np.asarray(arr[r]).astype(dt).tobytes()
                out += pad4(chunk) if pad_records else chunk
    with open(path, "wb") as f:
        f.write(bytes(out))
