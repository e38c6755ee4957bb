"""Dependency-free NetCDF-4/HDF5 reader (S1 parity with the reference's
``xr.open_dataset``, ``/root/reference/backend/app/utils.py:63``).

The reference's golden input (``chirps-v2.0.<year>.days_p05.nc``,
``/root/reference/backend/app/main.py:162``) ships as NetCDF-4 — an HDF5
container.  No HDF5 library is installed here, but the HDF5 disk format
is a public specification (the HDF Group's "HDF5 File Format
Specification Version 3.0") and the subset netCDF-4 actually writes is
bounded.  This module is a clean-room reader of that subset:

- superblock versions 0/1 (symbol-table root) and 2/3 (root header addr);
- object headers v1 and v2 (``OHDR``), with continuation blocks;
- groups old-style (v1 B-tree + local heap + ``SNOD`` symbol tables),
  new-style compact (Link messages in the header), and new-style DENSE
  (fractal heap + v2 B-tree name index, any tree depth — the shape a
  file with hundreds of variables gets); dense attributes likewise;
- shared messages in BOTH forms: committed object-header targets
  (netCDF-4 named types) and SOHM heap storage (v3 share type 1 — the
  superblock-extension Shared Message Table, its "SMTB" indexes, and
  fractal-heap-resident message bodies that ``libver=latest`` writers
  emit when shared-message indexes are enabled);
- dataset layouts: compact, contiguous, and chunked via every index a
  netCDF-4 writer emits — the v3 v1-B-tree index and the v4 indexes of
  HDF5 >= 1.10 ``libver=latest`` files: Single Chunk, Implicit, Fixed
  Array (paged and not), Extensible Array (index block, super blocks,
  paged data blocks), and the v2-B-tree chunk index (type 5, records
  10/11 — the >1-unlimited-dimension shape), i.e. every defined chunk
  index;
- filter pipeline: deflate (stdlib zlib), shuffle, fletcher32 — the
  exact pipeline CHIRPS-style files use (``shuffle+deflate``) — plus
  lzf (h5py's default lightweight compressor, clean-room libLZF codec);
  szip remains a GUIDED NotImplementedError naming the lossless
  ``h5repack -f GZIP`` escape hatch (no szip/libaec exists in this
  environment to validate a clean-room CCSDS-121 decoder against, and
  a self-round-tripped-only decoder that misread real NOAA archives
  would be worse than refusing; the repacked shape is pinned by test);
- datatypes: fixed-point, IEEE float, fixed strings, variable-length
  strings and VL sequences of object references (via the global heap) —
  enough for CF attributes and netCDF-4's ``DIMENSION_LIST`` — plus
  compound (v1/v2/v3 member encodings → numpy structured dtypes), enum
  (→ base ints + a name map on the dataset entry), array datatypes
  (→ numpy subarray dtypes), bitfields (→ unsigned words) and opaque
  blobs (NC_OPAQUE → raw bytes) — the netCDF-4 user-defined-type
  surface.

``read_netcdf4`` adapts the generic HDF5 tree to the same dict shape as
``netcdf3.read_netcdf3`` (netCDF semantics: dimension-scale datasets
become dims, ``DIMENSION_LIST`` references become per-variable dim
names); ``netcdf_grid_to_long`` sniffs the magic and routes classic
bytes to the CDF parser and HDF5 bytes here, so
``sources.netcdf.netcdf_files_to_long`` handles BOTH container families
executor-side with no injected decoder.

``write_hdf5`` emits valid-subset files in both flavors (old-style
symbol-table groups and new-style ``OHDR``+link-message groups) and
exists to round-trip the reader in tests — the same strategy as the
dbf/shp/xlsx/netcdf3 readers.  (Checksums in v2-flavor structures are
written as zeros; this reader never verifies them, per the spec's note
that checksums protect against corruption, not semantics.)

Scale shape: one file is decoded per executor task from in-memory bytes
(``binaryFile`` + ``mapInPandas``) — the container is parsed with numpy
slicing, no Python per-element loops, and only the requested variables
materialize.
"""

from __future__ import annotations

import struct
import zlib
from typing import Any

import numpy as np
import pandas as pd

__all__ = [
    "read_hdf5",
    "read_netcdf4",
    "netcdf4_grid_to_long",
    "netcdf4_grid_to_long_batches",
    "netcdf_grid_to_long",
    "netcdf_grid_to_long_batches",
    "netcdf4_grid_axes",
    "netcdf_grid_axes",
    "write_hdf5",
]

_SIG = b"\x89HDF\r\n\x1a\n"
_UNDEF = 0xFFFFFFFFFFFFFFFF

#: low-level exceptions a malformed container can surface from the byte
#: walkers — public readers re-raise these as ValueError with context
_PARSE_ERRORS = (
    struct.error, IndexError, KeyError, OverflowError, zlib.error,
    RecursionError, MemoryError,
)

# --------------------------------------------------------------------------
# reader
# --------------------------------------------------------------------------


class _H5:
    """Parsed-file context: raw bytes + superblock geometry."""

    def __init__(self, data: bytes):
        self.data = data
        base = -1
        off = 0
        while off < len(data):  # spec: superblock at 0, 512, 1024, 2048...
            if data[off : off + 8] == _SIG:
                base = off
                break
            off = 512 if off == 0 else off * 2
        if base < 0:
            raise ValueError("not an HDF5 file (no superblock signature)")
        self.base = base
        self.ext: int | None = None  # superblock extension header addr
        self._sohm: list[tuple[int, int]] | None = None  # (flags, heap addr)
        ver = data[base + 8]
        if ver in (0, 1):
            self.offs = data[base + 13]
            self.lens = data[base + 14]
            p = base + 24 + (4 if ver == 1 else 0)
            p += 4 * self.offs  # base, free-space, eof, driver-info
            # root group symbol-table entry: link-name offset, header addr
            p += self.offs
            self.root = self._off_at(p)
        elif ver in (2, 3):
            self.offs = data[base + 9]
            self.lens = data[base + 10]
            p = base + 12 + 3 * self.offs  # base, extension, eof
            self.root = self._off_at(p)
            ext = self._off_at(base + 12 + self.offs)
            self.ext = None if ext == _UNDEF else ext
        else:
            raise ValueError(f"unsupported HDF5 superblock version {ver}")
        if self.offs not in (4, 8) or self.lens not in (4, 8):
            raise ValueError(f"unsupported offset/length sizes {self.offs}/{self.lens}")

    def _off_at(self, p: int) -> int:
        return int.from_bytes(self.data[p : p + self.offs], "little")

    def _len_at(self, p: int) -> int:
        return int.from_bytes(self.data[p : p + self.lens], "little")


def _u(buf: bytes, p: int, n: int) -> int:
    return int.from_bytes(buf[p : p + n], "little")


# ---- object headers -------------------------------------------------------


#: message type → its bit in the SOHM index "message type flags" field
_SOHM_FLAG = {0x01: 0x0001, 0x03: 0x0002, 0x05: 0x0004, 0x0B: 0x0008, 0x0C: 0x0010}


def _sohm_indexes(h: _H5) -> list[tuple[int, int]]:
    """(message-type-flags, fractal heap address) per SOHM index, from
    the superblock extension's Shared Message Table message (0x0F) and
    the SMTB table it points at.  Cached on the file context."""
    if h._sohm is not None:
        return h._sohm
    out: list[tuple[int, int]] = []
    if h.ext is not None:
        for t, b in _messages(h, h.ext):
            if t != 0x0F:
                continue
            table = _u(b, 1, h.offs)
            nidx = b[1 + h.offs]
            if h.data[table : table + 4] != b"SMTB":
                raise ValueError("bad shared-message table signature")
            p = table + 4
            for _ in range(nidx):
                # ver(1), index type(1), msg type flags(2), min msg
                # size(4), list cutoff(2), btree cutoff(2), nmsgs(2),
                # index addr(offs), fractal heap addr(offs)
                flags = _u(h.data, p + 2, 2)
                heap = _u(h.data, p + 14 + h.offs, h.offs)
                out.append((flags, heap))
                p += 14 + 2 * h.offs
    h._sohm = out
    return out


def _resolve_shared(h: _H5, mtype: int, body: bytes) -> bytes:
    """A message whose header flags mark it SHARED stores a Shared
    Message structure — version, share type, and either the address of
    the object header holding the real message (netCDF-4
    committed/named datatypes) or, for v3 share type 1, a fractal-heap
    ID into the file's SOHM heap (``libver=latest`` writers with
    shared-message indexes enabled).  Returns the target message body
    of the same type."""
    ver = body[0]
    if ver == 3 and body[1] == 1:  # SOHM heap: version, type, heap ID
        heap_id = body[2:10]
        fallback = None
        for flags, heap in _sohm_indexes(h):
            if heap == _UNDEF:
                continue
            if flags & _SOHM_FLAG.get(mtype, 0):
                _, read_id = _fractal_heap(h, heap)
                return read_id(heap_id)
            fallback = heap
        if fallback is not None:  # flags unset/unknown: single-index files
            _, read_id = _fractal_heap(h, fallback)
            return read_id(heap_id)
        raise ValueError(
            "SOHM-shared message but no shared-message heap in the "
            "superblock extension"
        )
    if ver == 1:  # version, type, 6 reserved, address
        addr = _u(body, 8, h.offs)
    elif ver == 2 or (ver == 3 and body[1] in (0, 2)):
        addr = _u(body, 2, h.offs)
    else:
        raise NotImplementedError(
            f"shared-message version/type {ver}/{body[1]} not supported"
        )
    for t, b in _messages(h, addr):
        if t == mtype:
            return b
    raise ValueError(f"shared-message target at {addr} lacks message type {mtype}")


def _messages(h: _H5, addr: int) -> list[tuple[int, bytes]]:
    """All (type, body) messages of the object header at ``addr``,
    following continuation blocks and resolving SHARED messages to
    their committed targets; handles header versions 1 and 2."""
    d = h.data
    if d[addr : addr + 4] == b"OHDR":
        return _messages_v2(h, addr)
    if d[addr] != 1:
        raise ValueError(f"unsupported object header version {d[addr]} at {addr}")
    nmsgs = _u(d, addr + 2, 2)  # counts continuation messages too
    hdr_size = _u(d, addr + 8, 4)
    blocks = [(addr + 16, hdr_size)]
    out: list[tuple[int, bytes]] = []
    seen = 0
    while blocks and seen < nmsgs:
        start, size = blocks.pop(0)
        p, end = start, start + size
        while p + 8 <= end and seen < nmsgs:
            mtype = _u(d, p, 2)
            msize = _u(d, p + 2, 2)
            mflags = d[p + 4]
            body = d[p + 8 : p + 8 + msize]
            p += 8 + msize
            seen += 1
            if mtype == 0x10:  # continuation: offset + length
                blocks.append((_u(body, 0, h.offs), _u(body, h.offs, h.lens)))
            else:
                if mflags & 0x02:  # shared: resolve the committed target
                    body = _resolve_shared(h, mtype, body)
                out.append((mtype, body))
    return out


def _messages_v2(h: _H5, addr: int) -> list[tuple[int, bytes]]:
    d = h.data
    flags = d[addr + 5]
    p = addr + 6
    if flags & 0x20:
        p += 16  # access/mod/change/birth times
    if flags & 0x10:
        p += 4  # max compact / min dense attributes
    size_bytes = 1 << (flags & 0x3)
    chunk0 = _u(d, p, size_bytes)
    p += size_bytes
    tracked = bool(flags & 0x04)  # message creation order present
    out: list[tuple[int, bytes]] = []
    blocks = [(p, chunk0, False)]
    seen_cont: set[int] = set()
    while blocks:
        start, size, is_cont = blocks.pop(0)
        if is_cont:
            if start in seen_cont:
                raise ValueError("cyclic OCHK continuation chain")
            seen_cont.add(start)
            if d[start : start + 4] != b"OCHK":
                raise ValueError("bad OCHK continuation signature")
            start += 4
            size -= 8  # signature + trailing checksum
        q, end = start, start + size
        while q + 4 <= end:
            mtype = d[q]
            msize = _u(d, q + 1, 2)
            mflags = d[q + 3]
            q += 4 + (2 if tracked else 0)
            body = d[q : q + msize]
            q += msize
            if mtype == 0x10:
                blocks.append((_u(body, 0, h.offs), _u(body, h.offs, h.lens), True))
            elif not (mtype == 0 and msize == 0):
                if mflags & 0x02:  # shared: resolve the committed target
                    body = _resolve_shared(h, mtype, body)
                out.append((mtype, body))
    return out


# ---- datatype / dataspace -------------------------------------------------


def _datatype(buf: bytes) -> dict:
    return _parse_dt(buf)[0]


def _nt_name(buf: bytes, p: int, padded: bool) -> tuple[str, int]:
    """Null-terminated name at ``p`` → (name, next offset); ``padded``
    pads the field (name + NUL) to a multiple of 8 (datatype versions
    1/2; version 3 drops the padding)."""
    end = buf.index(b"\x00", p)
    name = buf[p:end].decode("utf-8", "replace")
    field = end - p + 1
    return name, p + (field + (-field) % 8 if padded else field)


def _parse_dt(buf: bytes) -> tuple[dict, int]:
    """Parse one (possibly nested) datatype message → (dict, bytes
    consumed).  The consumed length is what lets compound members, enum
    bases and array bases be decoded recursively — the spec stores no
    per-member length."""
    cls = buf[0] & 0x0F
    ver = buf[0] >> 4
    bits0 = buf[1]
    size = _u(buf, 4, 4)
    order = ">" if (bits0 & 1) else "<"
    if cls == 0:  # fixed-point; property: bit offset + precision
        if size not in (1, 2, 4, 8):
            raise ValueError(f"unsupported fixed-point size {size}")
        kind = "i" if (bits0 & 0x08) else "u"
        return {"class": cls, "np": np.dtype(f"{order}{kind}{size}"), "size": size}, 12
    if cls == 1:  # IEEE float; property: offsets/sizes/bias
        if size not in (2, 4, 8):
            raise ValueError(f"unsupported float size {size}")
        return {"class": cls, "np": np.dtype(f"{order}f{size}"), "size": size}, 20
    if cls == 3:  # fixed-length string; no properties
        return {"class": cls, "np": np.dtype(f"S{size}"), "size": size}, 8
    if cls == 4:  # bitfield: flag words — expose as unsigned of the size
        if size not in (1, 2, 4, 8):
            raise ValueError(f"unsupported bitfield size {size}")
        return {"class": cls, "np": np.dtype(f"{order}u{size}"), "size": size}, 12
    if cls == 5:  # opaque: uninterpreted bytes (netCDF NC_OPAQUE);
        # property = the ASCII tag (length in bits 0-7 of the bit field)
        return {"class": cls, "np": np.dtype(f"V{size}"), "size": size}, 8 + bits0
    if cls == 6:  # compound
        nmem = buf[1] | (buf[2] << 8)
        if ver not in (1, 2, 3):
            raise ValueError(f"unsupported compound datatype version {ver}")
        # v3 member offsets use the minimum bytes that encode `size`
        # (libhdf5 H5VM_limit_enc_size: floor(log2 size)/8 + 1)
        obytes = (max(size, 1).bit_length() - 1) // 8 + 1
        p = 8
        names: list[str] = []
        formats: list = []
        offsets: list[int] = []
        for _ in range(nmem):
            name, p = _nt_name(buf, p, padded=ver < 3)
            if ver == 3:
                off = _u(buf, p, obytes)
                p += obytes
            else:
                off = _u(buf, p, 4)
                p += 4
            shape: tuple[int, ...] = ()
            if ver == 1:  # dimensionality + perm + 4 dim sizes
                d = buf[p]
                dims = [_u(buf, p + 12 + 4 * i, 4) for i in range(4)]
                shape = tuple(dims[:d])
                p += 28
            member, used = _parse_dt(buf[p:])
            p += used
            if "np" not in member:
                raise NotImplementedError(
                    f"compound member {name!r} of class {member['class']} "
                    "(VL/reference members) not supported"
                )
            names.append(name)
            formats.append((member["np"], shape) if shape else member["np"])
            offsets.append(off)
        npdt = np.dtype(
            {"names": names, "formats": formats, "offsets": offsets, "itemsize": size}
        )
        return {"class": cls, "np": npdt, "size": size}, p
    if cls == 7:  # object reference; no properties
        return {"class": cls, "size": size}, 8
    if cls == 8:  # enumeration: base datatype + named values
        nmem = buf[1] | (buf[2] << 8)
        base, used = _parse_dt(buf[8:])
        if base["class"] != 0:
            raise ValueError("enum base datatype must be fixed-point")
        p = 8 + used
        enames = []
        for _ in range(nmem):
            name, p = _nt_name(buf, p, padded=ver < 3)
            enames.append(name)
        vals = np.frombuffer(buf, dtype=base["np"], count=nmem, offset=p)
        p += nmem * base["size"]
        return {
            "class": cls,
            "np": base["np"],
            "size": size,
            "enum": dict(zip(enames, vals.tolist())),
        }, p
    if cls == 9:  # variable-length
        vtype = bits0 & 0x0F
        base, used = _parse_dt(buf[8:])
        return {
            "class": cls,
            "vl": "string" if vtype == 1 else "sequence",
            "base": base,
            "size": size,
        }, 8 + used
    if cls == 10:  # array: fixed multi-dim elements (compound-member shape)
        ndims = buf[8]
        if ver == 2:  # reserved bytes + dims + permutation indices
            p = 12
            dims = [_u(buf, p + 4 * i, 4) for i in range(ndims)]
            p += 8 * ndims
        else:  # v3: dims only
            p = 9
            dims = [_u(buf, p + 4 * i, 4) for i in range(ndims)]
            p += 4 * ndims
        base, used = _parse_dt(buf[p:])
        if "np" not in base:
            raise NotImplementedError("array datatype over VL/reference base")
        return {
            "class": cls,
            "np": np.dtype((base["np"], tuple(dims))),
            "size": size,
        }, p + used
    raise ValueError(f"unsupported HDF5 datatype class {cls}")


def _dataspace(buf: bytes, lens: int) -> list[int]:
    ver, rank = buf[0], buf[1]
    p = 8 if ver == 1 else 4
    return [_u(buf, p + i * lens, lens) for i in range(rank)]


# ---- global heap / VL data ------------------------------------------------


def _gheap_object(h: _H5, addr: int, index: int) -> bytes:
    d = h.data
    if d[addr : addr + 4] != b"GCOL":
        raise ValueError("bad global heap signature")
    total = _u(d, addr + 8, h.lens)
    p = addr + 8 + h.lens
    end = addr + total
    while p < end:
        idx = _u(d, p, 2)
        osize = _u(d, p + 8, h.lens)
        body = d[p + 8 + h.lens : p + 8 + h.lens + osize]
        if idx == index:
            return body
        if idx == 0:
            break
        p += 8 + h.lens + osize + (-osize) % 8
    raise ValueError(f"global heap object {index} not found at {addr}")


def _read_vl(h: _H5, dt: dict, raw: bytes, count: int) -> list:
    """VL elements: (u4 count, gheap addr, u4 index) each."""
    esize = 4 + h.offs + 4
    out = []
    for i in range(count):
        p = i * esize
        n = _u(raw, p, 4)
        addr = _u(raw, p + 4, h.offs)
        idx = _u(raw, p + 4 + h.offs, 4)
        if addr == 0 or addr == _UNDEF:
            out.append("" if dt["vl"] == "string" else [])
            continue
        body = _gheap_object(h, addr, idx)
        if dt["vl"] == "string":
            out.append(body[:n].decode("utf-8", "replace"))
        else:
            base = dt["base"]
            if base["class"] == 7:  # sequence of object references
                out.append([_u(body, j * base["size"], base["size"]) for j in range(n)])
            else:
                out.append(np.frombuffer(body, dtype=base["np"], count=n).tolist())
    return out


def _attr_value(h: _H5, dt: dict, shape: list[int], raw: bytes):
    n = int(np.prod(shape)) if shape else 1
    if dt["class"] == 3:
        if not shape:
            return raw[: dt["size"]].split(b"\x00")[0].decode("utf-8", "replace")
        return [
            raw[i * dt["size"] : (i + 1) * dt["size"]].split(b"\x00")[0].decode("utf-8", "replace")
            for i in range(n)
        ]
    if dt["class"] == 9:
        vals = _read_vl(h, dt, raw, n)
        return vals[0] if not shape else vals
    if dt["class"] == 7:
        refs = [_u(raw, i * dt["size"], dt["size"]) for i in range(n)]
        return refs[0] if not shape else refs
    arr = np.frombuffer(raw, dtype=dt["np"], count=n)
    if not shape:
        return arr[0].item()
    return arr.reshape(shape).tolist()


def _attribute(h: _H5, body: bytes) -> tuple[str, Any]:
    ver = body[0]
    # flag bit 0 (v2/v3): the datatype is SHARED (committed elsewhere) —
    # the datatype field holds a shared-message reference to resolve,
    # not an inline datatype (netCDF-4 named types)
    shared_dt = ver in (2, 3) and bool(body[1] & 0x01)
    name_size = _u(body, 2, 2)
    dt_size = _u(body, 4, 2)
    ds_size = _u(body, 6, 2)
    p = 8 + (1 if ver == 3 else 0)

    def pad8(n: int) -> int:
        return n + (-n) % 8 if ver == 1 else n

    name = body[p : p + name_size].split(b"\x00")[0].decode("utf-8", "replace")
    p += pad8(name_size)
    if shared_dt:
        dt = _datatype(_resolve_shared(h, 0x03, body[p : p + dt_size]))
    else:
        dt = _datatype(body[p : p + dt_size])
    p += pad8(dt_size)
    shape = _dataspace(body[p : p + ds_size], h.lens)
    p += pad8(ds_size)
    return name, _attr_value(h, dt, shape, body[p:])


# ---- group traversal ------------------------------------------------------


def _local_heap_name(h: _H5, heap_addr: int, offset: int) -> str:
    d = h.data
    if d[heap_addr : heap_addr + 4] != b"HEAP":
        raise ValueError("bad local heap signature")
    data_addr = _u(d, heap_addr + 8 + 2 * h.lens, h.offs)
    end = d.index(b"\x00", data_addr + offset)
    return d[data_addr + offset : end].decode("utf-8", "replace")


def _walk_group_btree(h: _H5, btree_addr: int, heap_addr: int, out: dict[str, int]) -> None:
    d = h.data
    if d[btree_addr : btree_addr + 4] != b"TREE":
        raise ValueError("bad v1 B-tree signature")
    level = d[btree_addr + 5]
    nused = _u(d, btree_addr + 6, 2)
    p = btree_addr + 8 + 2 * h.offs
    key_size = h.lens
    for i in range(nused):
        child = _u(d, p + key_size + i * (key_size + h.offs), h.offs)
        if level > 0:
            _walk_group_btree(h, child, heap_addr, out)
        else:  # SNOD symbol-table node
            if d[child : child + 4] != b"SNOD":
                raise ValueError("bad SNOD signature")
            nsyms = _u(d, child + 6, 2)
            q = child + 8
            for _ in range(nsyms):
                name_off = _u(d, q, h.offs)
                ohdr = _u(d, q + h.offs, h.offs)
                out[_local_heap_name(h, heap_addr, name_off)] = ohdr
                q += 2 * h.offs + 24


def _link_target(h: _H5, body: bytes) -> tuple[str, int] | None:
    flags = body[1]
    p = 2
    ltype = 0
    if flags & 0x08:
        ltype = body[p]
        p += 1
    if flags & 0x04:
        p += 8  # creation order
    if flags & 0x10:
        p += 1  # charset
    nlen = _u(body, p, 1 << (flags & 0x3))
    p += 1 << (flags & 0x3)
    name = body[p : p + nlen].decode("utf-8", "replace")
    p += nlen
    if ltype != 0:
        return None  # soft/external links: outside the netCDF subset
    return name, _u(body, p, h.offs)


def _group_children(h: _H5, msgs: list[tuple[int, bytes]]) -> dict[str, int]:
    children: dict[str, int] = {}
    for mtype, body in msgs:
        if mtype == 0x11:  # old-style: symbol table (btree + local heap)
            btree = _u(body, 0, h.offs)
            heap = _u(body, h.offs, h.offs)
            _walk_group_btree(h, btree, heap, children)
        elif mtype == 0x06:  # new-style compact link message
            t = _link_target(h, body)
            if t:
                children[t[0]] = t[1]
        elif mtype == 0x02:  # link info: dense storage → fractal heap
            p = 2 + (8 if body[1] & 1 else 0)
            heap_addr = _u(body, p, h.offs)
            btree_addr = _u(body, p + h.offs, h.offs)
            if heap_addr != _UNDEF:
                # dense links: groups with >8 links (multi-variable files)
                # store link messages in a fractal heap indexed by a v2
                # B-tree on the name hash
                for link_body in _dense_link_messages(h, heap_addr, btree_addr):
                    t = _link_target(h, link_body)
                    if t:
                        children[t[0]] = t[1]
    return children


# ---- dense link storage: fractal heap + v2 B-tree -------------------------


def _fractal_heap(h: _H5, addr: int):
    """Parse a fractal heap header → ``read_id(heap_id) -> bytes``.

    Covers managed objects in a root DIRECT block or a one-level root
    INDIRECT block of direct blocks (the shape a group's dense link
    storage actually takes; nested indirect blocks raise)."""
    d = h.data
    if d[addr : addr + 4] != b"FRHP":
        raise ValueError("bad fractal heap signature")
    p = addr + 4 + 1
    heap_id_len = _u(d, p, 2)
    p += 2
    filter_len = _u(d, p, 2)
    p += 2
    flags = d[p]
    p += 1
    max_managed = _u(d, p, 4)
    p += 4
    p += h.lens  # next huge object id
    huge_btree = _u(d, p, h.offs)
    p += h.offs
    p += h.lens + h.offs  # free space, free-space manager addr
    p += 4 * h.lens  # managed space, allocated space, iterator offset, n managed
    p += 4 * h.lens  # huge size, n huge, tiny size, n tiny
    table_width = _u(d, p, 2)
    p += 2
    start_block = _u(d, p, h.lens)
    p += h.lens
    max_direct = _u(d, p, h.lens)
    p += h.lens
    max_heap_bits = _u(d, p, 2)
    p += 2
    p += 2  # starting # rows
    root_addr = _u(d, p, h.offs)
    p += h.offs
    cur_rows = _u(d, p, 2)
    del max_direct
    off_len = (max_heap_bits + 7) // 8
    len_len = max(1, (max_managed.bit_length() + 7) // 8)
    checksummed = bool(flags & 0x02)
    hdr_size = 4 + 1 + h.offs + off_len + (4 if checksummed else 0)

    # (heap-space offset, size, file addr) per direct block
    blocks: list[tuple[int, int, int]] = []
    if cur_rows == 0:  # root IS a direct block of the starting size
        blocks.append((0, start_block, root_addr))
    else:  # root indirect block: rows of direct-block children
        if d[root_addr : root_addr + 4] != b"FHIB":
            raise ValueError("bad fractal heap indirect block signature")
        q = root_addr + 4 + 1 + h.offs + off_len
        heap_off = 0
        for row in range(cur_rows):
            size = start_block * (1 << max(0, row - 1))
            for _ in range(table_width):
                baddr = _u(d, q, h.offs)
                q += h.offs
                if baddr != _UNDEF:
                    blocks.append((heap_off, size, baddr))
                heap_off += size

    def read_id(heap_id: bytes) -> bytes:
        vtype = (heap_id[0] >> 4) & 0x3
        if vtype == 2:  # tiny: payload embedded in the id itself
            n = (heap_id[0] & 0x0F) + 1
            return heap_id[1 : 1 + n]
        if vtype == 1:  # huge: > max-managed-size object
            if filter_len:
                raise NotImplementedError(
                    "filtered huge fractal-heap objects not supported"
                )
            if huge_btree == _UNDEF:  # directly-accessed id: addr + length
                a = _u(heap_id, 1, h.offs)
                n = _u(heap_id, 1 + h.offs, h.lens)
                return d[a : a + n]
            want = _u(heap_id, 1, h.lens)
            for rec in _btree_v2_records(h, huge_btree):
                # type-1 record: address, length, huge object id
                if _u(rec, h.offs + h.lens, h.lens) == want:
                    a = _u(rec, 0, h.offs)
                    n = _u(rec, h.offs, h.lens)
                    return d[a : a + n]
            raise ValueError(f"huge fractal-heap object {want} not in B-tree")
        if vtype != 0:
            raise ValueError("reserved fractal-heap id type")
        off = _u(heap_id, 1, off_len)
        ln = _u(heap_id, 1 + off_len, len_len)
        for b_off, b_size, b_addr in blocks:
            if b_off <= off < b_off + b_size:
                if d[b_addr : b_addr + 4] != b"FHDB":
                    raise ValueError("bad fractal heap direct block signature")
                return d[b_addr + (off - b_off) : b_addr + (off - b_off) + ln]
        raise ValueError(f"fractal heap offset {off} outside every block")

    del hdr_size
    return heap_id_len, read_id


def _b2_enc_size(n: int) -> int:
    """Bytes libhdf5 uses to store a count bounded by ``n``
    (H5VM_limit_enc_size: floor(log2 n)/8 + 1)."""
    return ((max(n, 1).bit_length() - 1) + 8) // 8


def _btree_v2_records(h: _H5, addr: int) -> list[bytes]:
    """All records of a v2 B-tree, any depth: leaf root ("BTLF") or
    internal nodes ("BTIN") holding records interleaved with child
    pointers (child addr + child record count [+ cumulative subtree
    count when the child is itself internal]).  The count-field widths
    derive from the node capacities exactly as libhdf5 computes them
    (leaf capacity = (node_size - 10)/rec_size; internal capacity
    shrinks by the pointer overhead per level)."""
    d = h.data
    if d[addr : addr + 4] != b"BTHD":
        raise ValueError("bad v2 B-tree header signature")
    p = addr + 4 + 1 + 1  # sig, version, type
    node_size = _u(d, p, 4)
    p += 4
    rec_size = _u(d, p, 2)
    p += 2
    depth = _u(d, p, 2)
    p += 2
    p += 2  # split/merge percents
    root = _u(d, p, h.offs)
    p += h.offs
    n_root = _u(d, p, 2)
    if rec_size == 0 or node_size < 10 + rec_size:
        raise ValueError("corrupt v2 B-tree header geometry")
    if depth > 16:
        raise ValueError(f"implausible v2 B-tree depth {depth}")
    # node capacities per level (libhdf5 H5B2hdr geometry): the # -of-
    # records field is sized by the LEAF capacity (the largest); the
    # cumulative-count field by each level's cumulative capacity
    leaf_max = (node_size - 10) // rec_size
    nrec_size = _b2_enc_size(leaf_max)
    cum_max = [leaf_max]
    cum_size = [0]  # leaf children carry no cumulative-count field
    for lvl in range(1, depth + 1):
        ptr = h.offs + nrec_size + cum_size[lvl - 1]
        cap = (node_size - (10 + ptr)) // (rec_size + ptr)
        if cap <= 0:
            raise ValueError("corrupt v2 B-tree: zero internal capacity")
        cum = (cap + 1) * cum_max[lvl - 1] + cap
        cum_max.append(cum)
        cum_size.append(_b2_enc_size(cum))

    out: list[bytes] = []

    def walk(naddr: int, nrec: int, lvl: int) -> None:
        if lvl == 0:
            if d[naddr : naddr + 4] != b"BTLF":
                raise ValueError("bad v2 B-tree leaf signature")
            q = naddr + 6
            for i in range(nrec):
                out.append(d[q + i * rec_size : q + (i + 1) * rec_size])
            return
        if d[naddr : naddr + 4] != b"BTIN":
            raise ValueError("bad v2 B-tree internal node signature")
        q = naddr + 6
        recs = [d[q + i * rec_size : q + (i + 1) * rec_size] for i in range(nrec)]
        q += nrec * rec_size
        ptr_extra = nrec_size + (cum_size[lvl - 1] if lvl > 1 else 0)
        for i in range(nrec + 1):
            caddr = _u(d, q, h.offs)
            cnrec = _u(d, q + h.offs, nrec_size)
            q += h.offs + ptr_extra
            walk(caddr, cnrec, lvl - 1)
            if i < nrec:
                out.append(recs[i])

    walk(root, n_root, depth)
    return out


def _dense_link_messages(h: _H5, heap_addr: int, btree_addr: int):
    """Link-message bodies of a dense-storage group: v2 B-tree records
    (name hash + heap ID) resolved through the fractal heap."""
    heap_id_len, read_id = _fractal_heap(h, heap_addr)
    if btree_addr == _UNDEF:
        return
    for rec in _btree_v2_records(h, btree_addr):
        yield read_id(rec[4 : 4 + heap_id_len])  # type 5: hash, then heap id


def _dense_attr_messages(h: _H5, heap_addr: int, btree_addr: int):
    """Attribute-message bodies of dense attribute storage (objects with
    >8 attributes): v2 B-tree type-8 records lead with the heap ID."""
    heap_id_len, read_id = _fractal_heap(h, heap_addr)
    if btree_addr == _UNDEF:
        return
    for rec in _btree_v2_records(h, btree_addr):
        yield read_id(rec[:heap_id_len])


def _attr_info_addrs(h: _H5, body: bytes) -> tuple[int, int]:
    """(fractal heap addr, name-index btree addr) of an Attribute Info
    message — (UNDEF, UNDEF) when attributes are compact."""
    p = 2 + (2 if body[1] & 1 else 0)  # version, flags, [max creation index]
    return _u(body, p, h.offs), _u(body, p + h.offs, h.offs)


def _collect_attrs(h: _H5, msgs: list[tuple[int, bytes]]) -> dict[str, Any]:
    """All attributes of an object header: compact Attribute messages
    plus dense (fractal-heap) storage when an Attribute Info message
    points at one."""
    attrs: dict[str, Any] = {}
    for mtype, body in msgs:
        if mtype == 0x0C:
            k, v = _attribute(h, body)
            attrs[k] = v
        elif mtype == 0x15 and len(body) > 2:
            fheap, btree = _attr_info_addrs(h, body)
            if fheap != _UNDEF:
                for abody in _dense_attr_messages(h, fheap, btree):
                    k, v = _attribute(h, abody)
                    attrs[k] = v
    return attrs


# ---- dataset data ---------------------------------------------------------


def _filters(body: bytes) -> list[tuple[int, list[int]]]:
    ver = body[0]
    nf = body[1]
    out = []
    p = 8 if ver == 1 else 2
    for _ in range(nf):
        fid = _u(body, p, 2)
        p += 2
        nlen = 0
        if ver == 1 or fid >= 256:
            nlen = _u(body, p, 2)
            p += 2
        p += 2  # flags
        ncv = _u(body, p, 2)
        p += 2
        if ver == 1:
            p += nlen + (-nlen) % 8
        else:
            p += nlen
        vals = [_u(body, p + 4 * i, 4) for i in range(ncv)]
        p += 4 * ncv
        if ver == 1 and ncv % 2:
            p += 4
        out.append((fid, vals))
    return out


_LZF_FILTER = 32000  # h5py's registered lzf filter id


def _lzf_decompress(raw: bytes, max_out: int = 1 << 31) -> bytes:
    """Decompress a libLZF stream (Marc Lehmann's public BSD format —
    what h5py's lzf filter stores): control byte < 32 → literal run of
    ctrl+1 bytes; otherwise a back-reference of (ctrl >> 5) + 2 bytes
    (+ an extension byte when the 3-bit length saturates) at distance
    ((ctrl & 0x1f) << 8 | next) + 1."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        ctrl = raw[i]
        i += 1
        if ctrl < 32:  # literal run
            run = ctrl + 1
            if i + run > n:
                raise ValueError("truncated LZF literal run")
            out += raw[i : i + run]
            i += run
        else:  # back-reference
            length = ctrl >> 5
            if length == 7:
                if i >= n:
                    raise ValueError("truncated LZF length extension")
                length += raw[i]
                i += 1
            if i >= n:
                raise ValueError("truncated LZF back-reference")
            dist = ((ctrl & 0x1F) << 8 | raw[i]) + 1
            i += 1
            if dist > len(out):
                raise ValueError("LZF back-reference before stream start")
            # overlapping copies are the repeat idiom — copy byte-wise
            start = len(out) - dist
            for j in range(length + 2):
                out.append(out[start + j])
        if len(out) > max_out:
            raise ValueError("implausible LZF output size")
    return bytes(out)


def _lzf_compress(raw: bytes) -> bytes:
    """Greedy libLZF-format compressor (fixture/writer half): 3-byte
    hash table finds repeats within the 8 KiB window; emits literal
    runs (≤32) and back-references (≤264 bytes).  Output decodes with
    any conformant LZF decoder, including :func:`_lzf_decompress`."""
    out = bytearray()
    lit: bytearray = bytearray()
    table: dict[bytes, int] = {}
    i, n = 0, len(raw)

    def flush_lit():
        for k in range(0, len(lit), 32):
            chunk = lit[k : k + 32]
            out.append(len(chunk) - 1)
            out.extend(chunk)
        lit.clear()

    while i < n:
        if i + 3 <= n:
            key = raw[i : i + 3]
            ref = table.get(key)
            table[key] = i
            if ref is not None and i - ref <= 0x2000 and raw[ref : ref + 3] == key:
                length = 3
                maxlen = min(264, n - i)
                while length < maxlen and raw[ref + length] == raw[i + length]:
                    length += 1
                flush_lit()
                dist = i - ref - 1
                enc_len = length - 2
                if enc_len < 7:
                    out.append((enc_len << 5) | (dist >> 8))
                else:
                    out.append((7 << 5) | (dist >> 8))
                    out.append(enc_len - 7)
                out.append(dist & 0xFF)
                i += length
                continue
        lit.append(raw[i])
        i += 1
    flush_lit()
    return bytes(out)


def _defilter(raw: bytes, filters: list[tuple[int, list[int]]], mask: int) -> bytes:
    for i in range(len(filters) - 1, -1, -1):
        if mask & (1 << i):
            continue
        fid, vals = filters[i]
        if fid == 1:  # deflate
            raw = zlib.decompress(raw)
        elif fid == 2:  # shuffle: de-interleave byte planes
            es = vals[0] if vals else 1
            if es > 1 and len(raw) % es == 0:
                raw = (
                    np.frombuffer(raw, dtype=np.uint8)
                    .reshape(es, len(raw) // es)
                    .T.tobytes()
                )
        elif fid == 3:  # fletcher32: payload + 4-byte checksum
            raw = raw[:-4]
        elif fid == _LZF_FILTER:  # h5py lzf
            raw = _lzf_decompress(raw)
        elif fid == 4:
            # szip (CCSDS 121 extended-Rice).  Deliberately NOT decoded:
            # no szip/libaec implementation exists in this environment
            # to validate a clean-room bit-level decoder against, and a
            # self-round-tripped-only decoder that silently misreads
            # real NOAA/NASA archives would be worse than refusing.
            # The lossless escape hatch is a one-time repack.
            raise NotImplementedError(
                "HDF5 szip filter (id 4) is not decoded here; repack the "
                "file losslessly with `h5repack -f GZIP=4 in.nc out.nc` "
                "(or nccopy -d4) — deflate output reads identically "
                "(tests/test_hdf5.py pins the repacked shape)"
            )
        else:
            raise NotImplementedError(
                f"HDF5 filter id {fid} not supported; repack with "
                "`h5repack -f GZIP=4` to a supported pipeline"
            )
    return raw


def _walk_chunk_btree(h: _H5, addr: int, rank: int) -> list[tuple[tuple[int, ...], int, int, int]]:
    """(chunk offsets, nbytes, filter mask, data addr) for every chunk."""
    d = h.data
    if d[addr : addr + 4] != b"TREE":
        raise ValueError("bad chunk B-tree signature")
    level = d[addr + 5]
    nused = _u(d, addr + 6, 2)
    key_size = 8 + 8 * (rank + 1)
    p = addr + 8 + 2 * h.offs
    out = []
    for _ in range(nused):
        nbytes = _u(d, p, 4)
        mask = _u(d, p + 4, 4)
        offs = tuple(_u(d, p + 8 + 8 * i, 8) for i in range(rank))
        child = _u(d, p + key_size, h.offs)
        if level > 0:
            out.extend(_walk_chunk_btree(h, child, rank))
        else:
            out.append((offs, nbytes, mask, child))
        p += key_size + h.offs
    return out


def _dataset_meta(h: _H5, msgs: list[tuple[int, bytes]]) -> dict:
    """Metadata-only view of a dataset header: dtype, shape, layout,
    filters, attrs — no array bytes touched (the slab reader's half)."""
    dt = space = layout = None
    filters: list[tuple[int, list[int]]] = []
    fill_raw: bytes | None = None
    for mtype, body in msgs:
        if mtype == 0x01:
            space = _dataspace(body, h.lens)
        elif mtype == 0x03:
            dt = _datatype(body)
        elif mtype == 0x05:  # fill value (v1/v2/v3)
            fill_raw = _fill_value_bytes(body)
        elif mtype == 0x08:
            layout = body
        elif mtype == 0x0B:
            filters = _filters(body)
    attrs = _collect_attrs(h, msgs)  # compact messages + dense storage
    if dt is None or space is None or layout is None:
        raise ValueError("dataset header missing datatype/dataspace/layout")
    if dt["class"] not in (0, 1, 3, 4, 5, 6, 8, 10) and not (
        dt["class"] == 9 and dt.get("vl") == "string"
    ):
        raise NotImplementedError(
            "only numeric/fixed-string/VL-string/compound/enum/array "
            "dataset types supported"
        )
    return {"dt": dt, "shape": space, "layout": layout, "filters": filters,
            "attrs": attrs, "fill_raw": fill_raw, "_chunks": None}


def _fill_value_bytes(body: bytes) -> bytes | None:
    """Defined fill bytes of a Fill Value message, or None (default 0s).
    v1/v2: version, space-alloc time, fill-write time, defined flag,
    [size + data if defined].  v3: version, flags — bit5 = defined,
    [size + data]."""
    ver = body[0]
    if ver in (1, 2):
        if ver == 2 and body[3] == 0:  # fill value undefined
            return None
        p = 4
    else:  # v3
        if not body[1] & 0x20:
            return None
        p = 2
    if p + 4 > len(body):
        return None
    size = _u(body, p, 4)
    return body[p + 4 : p + 4 + size] if size else None


def _fill_array(meta: dict, shape: list[int]) -> np.ndarray:
    npdt = meta["dt"]["np"]
    raw = meta.get("fill_raw")
    if raw and len(raw) == npdt.itemsize:
        return np.full(shape, np.frombuffer(raw, dtype=npdt, count=1)[0])
    return np.zeros(shape, dtype=npdt)


def _chunk_dims(h: _H5, layout: bytes, rank: int) -> list[int]:
    """Chunk dimensions of a chunked layout message, v3 or v4.  v3
    stores rank+1 4-byte dims (last = element size) after the B-tree
    address; v4 stores variable-width dims before the index type —
    libhdf5 writes rank+1 (last = element size), but plain rank is
    accepted for robustness."""
    if layout[0] == 3:
        ndims = layout[2]
        return [_u(layout, 3 + h.offs + 4 * i, 4) for i in range(ndims - 1)]
    ndims = layout[3]
    enc = layout[4]
    if enc not in (1, 2, 4, 8):
        raise ValueError(f"invalid v4 dim-size encoded length {enc}")
    dims = [_u(layout, 5 + enc * i, enc) for i in range(ndims)]
    if ndims == rank + 1:
        dims = dims[:-1]
    elif ndims != rank:
        raise ValueError(f"v4 chunk dimensionality {ndims} vs dataset rank {rank}")
    if any(c <= 0 for c in dims):
        raise ValueError(f"invalid v4 chunk dims {dims}")
    return dims


def _grid_offsets(i: int, grid: list[int], chunk: list[int]) -> tuple[int, ...]:
    """Linear chunk index (C-order, last dim fastest — the order every
    v4 chunk index uses) → element-space chunk offsets."""
    offs = []
    for g, c in zip(reversed(grid), reversed(chunk)):
        offs.append((i % g) * c)
        i //= g
    return tuple(reversed(offs))


def _fixed_array_entries(h: _H5, addr: int, chunk_nbytes: int):
    """Fixed Array chunk index (v4 type 3; HDF5 spec III.G): header
    "FAHD" → data block "FADB" (+ element pages when the array exceeds
    one page).  Yields (linear index, addr, nbytes, mask); elements in
    uninitialized pages and elements with an undefined address are
    never-written chunks (fill value)."""
    d = h.data
    if d[addr : addr + 4] != b"FAHD":
        raise ValueError("bad Fixed Array header signature")
    client = d[addr + 5]
    if client > 1:
        raise ValueError(f"unknown Fixed Array client id {client}")
    entry_size = d[addr + 6]
    page_bits = d[addr + 7]
    nelmts = _u(d, addr + 8, h.lens)
    dblk_addr = _u(d, addr + 8 + h.lens, h.offs)
    if dblk_addr == _UNDEF or nelmts == 0:
        return
    if entry_size < h.offs + (0 if client == 0 else 5):
        raise ValueError(f"implausible Fixed Array entry size {entry_size}")
    if nelmts * entry_size > len(d):  # elements must fit in the file
        raise ValueError(f"implausible Fixed Array element count {nelmts}")
    if d[dblk_addr : dblk_addr + 4] != b"FADB":
        raise ValueError("bad Fixed Array data block signature")
    size_len = entry_size - h.offs - 4  # client 1: addr + size + mask

    def dec(i: int, e: bytes):
        a = _u(e, 0, h.offs)
        if a == _UNDEF:
            return None
        if client == 0:
            return (i, a, chunk_nbytes, 0)
        return (i, a, _u(e, h.offs, size_len), _u(e, h.offs + size_len, 4))

    q = dblk_addr + 6 + h.offs  # sig + version + client + header addr
    page_size = 1 << page_bits
    if nelmts <= page_size:
        raw = d[q : q + nelmts * entry_size]
        for i in range(nelmts):
            out = dec(i, raw[i * entry_size : (i + 1) * entry_size])
            if out:
                yield out
        return
    npages = -(-nelmts // page_size)
    bitmap = d[q : q + (npages + 7) // 8]
    q += (npages + 7) // 8 + 4  # bitmap + data-block checksum
    for pg in range(npages):
        cnt = min(page_size, nelmts - pg * page_size)
        if (bitmap[pg // 8] >> (pg % 8)) & 1:
            raw = d[q : q + cnt * entry_size]
            for i in range(cnt):
                out = dec(
                    pg * page_size + i, raw[i * entry_size : (i + 1) * entry_size]
                )
                if out:
                    yield out
        q += cnt * entry_size + 4  # page elements + page checksum


def _ea_sblk_info(max_nelmts_bits: int, idx_blk_elmts: int, dblk_min_elmts: int):
    """Extensible Array super-block geometry (public libhdf5 H5EA
    design): data-block capacity doubles every second super block."""
    nsblks = 2 * (max_nelmts_bits - (dblk_min_elmts.bit_length() - 1))
    info = []
    start_idx, start_dblk = idx_blk_elmts, 0
    for u in range(nsblks):
        ndblks = 1 << (u // 2)
        dblk_nelmts = dblk_min_elmts << ((u + 1) // 2)
        info.append((ndblks, dblk_nelmts, start_idx, start_dblk))
        start_idx += ndblks * dblk_nelmts
        start_dblk += ndblks
    return info


def _ext_array_entries(h: _H5, addr: int, chunk_nbytes: int):
    """Extensible Array chunk index (v4 type 4; HDF5 spec III.F):
    header "EAHD" → index block "EAIB" (inline elements + direct data
    block pointers + super block pointers) → super blocks "EASB" → data
    blocks "EADB" (paged above 2^page_bits elements).  Yields
    (linear index, addr, nbytes, mask) for every allocated element."""
    d = h.data
    if d[addr : addr + 4] != b"EAHD":
        raise ValueError("bad Extensible Array header signature")
    client = d[addr + 5]
    if client > 1:
        raise ValueError(f"unknown Extensible Array client id {client}")
    elt_size = d[addr + 6]
    max_bits = d[addr + 7]
    idx_elmts = d[addr + 8]
    dblk_min = d[addr + 9]
    sblk_min_ptrs = d[addr + 10]
    page_bits = d[addr + 11]
    p = addr + 12 + 4 * h.lens  # skip nsblks/sblk size/ndblks/dblk size stats
    max_idx_set = _u(d, p, h.lens)
    p += 2 * h.lens  # + nelmts stat
    iblk_addr = _u(d, p, h.offs)
    if iblk_addr == _UNDEF or max_idx_set == 0:
        return
    if elt_size < h.offs + (0 if client == 0 else 5):
        raise ValueError(f"implausible Extensible Array element size {elt_size}")
    # (no element-count cap here: a sparse EA legitimately has
    # max_idx_set far beyond its allocated blocks; every loop below is
    # bounded by the caller's index-range check instead)
    if dblk_min == 0 or max_bits == 0 or sblk_min_ptrs < 2:
        raise ValueError("implausible Extensible Array creation parameters")
    size_len = elt_size - h.offs - 4
    blk_off_len = (max_bits + 7) // 8
    page_size = 1 << page_bits

    def dec(i: int, e: bytes):
        a = _u(e, 0, h.offs)
        if a == _UNDEF:
            return None
        if client == 0:
            return (i, a, chunk_nbytes, 0)
        return (i, a, _u(e, h.offs, size_len), _u(e, h.offs + size_len, 4))

    sblk_info = _ea_sblk_info(max_bits, idx_elmts, dblk_min)
    iblk_nsblks = 2 * (sblk_min_ptrs.bit_length() - 1)
    ndblk_addrs = 2 * (sblk_min_ptrs - 1)

    if d[iblk_addr : iblk_addr + 4] != b"EAIB":
        raise ValueError("bad Extensible Array index block signature")
    q = iblk_addr + 6 + h.offs
    inline = d[q : q + idx_elmts * elt_size]
    q += idx_elmts * elt_size
    dblk_addrs = [_u(d, q + i * h.offs, h.offs) for i in range(ndblk_addrs)]
    q += ndblk_addrs * h.offs
    nsblk_addrs = len(sblk_info) - iblk_nsblks
    sblk_addrs = [_u(d, q + i * h.offs, h.offs) for i in range(nsblk_addrs)]

    for i in range(min(idx_elmts, max_idx_set)):
        out = dec(i, inline[i * elt_size : (i + 1) * elt_size])
        if out:
            yield out

    def dblk_elements(daddr: int, nelmts: int, base_idx: int):
        if daddr == _UNDEF:
            return
        if d[daddr : daddr + 4] != b"EADB":
            raise ValueError("bad Extensible Array data block signature")
        q = daddr + 6 + h.offs + blk_off_len
        if nelmts <= page_size:
            raw = d[q : q + nelmts * elt_size]
            for i in range(nelmts):
                if base_idx + i >= max_idx_set:
                    return
                out = dec(base_idx + i, raw[i * elt_size : (i + 1) * elt_size])
                if out:
                    yield out
            return
        q += 4  # prefix checksum precedes the pages
        npages = -(-nelmts // page_size)
        for pg in range(npages):
            cnt = min(page_size, nelmts - pg * page_size)
            raw = d[q : q + cnt * elt_size]
            for i in range(cnt):
                gi = base_idx + pg * page_size + i
                if gi >= max_idx_set:
                    return
                out = dec(gi, raw[i * elt_size : (i + 1) * elt_size])
                if out:
                    yield out
            q += cnt * elt_size + 4

    # super blocks 0..iblk_nsblks-1: data blocks addressed directly
    # from the index block
    di = 0
    for u in range(min(iblk_nsblks, len(sblk_info))):
        ndblks, dblk_nelmts, start_idx, _ = sblk_info[u]
        for b in range(ndblks):
            if di < len(dblk_addrs) and start_idx + b * dblk_nelmts < max_idx_set:
                yield from dblk_elements(
                    dblk_addrs[di], dblk_nelmts, start_idx + b * dblk_nelmts
                )
            di += 1

    # later super blocks: one indirection through "EASB"
    for si, saddr in enumerate(sblk_addrs):
        u = iblk_nsblks + si
        ndblks, dblk_nelmts, start_idx, _ = sblk_info[u]
        if saddr == _UNDEF or start_idx >= max_idx_set:
            continue
        if d[saddr : saddr + 4] != b"EASB":
            raise ValueError("bad Extensible Array super block signature")
        q = saddr + 6 + h.offs + blk_off_len
        if dblk_nelmts > page_size:  # page-init bitmap lives in the sblock
            dblk_npages = -(-dblk_nelmts // page_size)
            q += (ndblks * dblk_npages + 7) // 8
        for b in range(ndblks):
            daddr = _u(d, q + b * h.offs, h.offs)
            if start_idx + b * dblk_nelmts < max_idx_set:
                yield from dblk_elements(
                    daddr, dblk_nelmts, start_idx + b * dblk_nelmts
                )


def _chunk_entries(h: _H5, meta: dict):
    """(chunk dims, [(chunk offsets, nbytes, mask, addr), ...]) for any
    chunked layout — v3 (v1 B-tree) or v4 (Single Chunk, Implicit,
    Fixed Array, Extensible Array) — walked once and cached on the meta
    dict."""
    if meta["_chunks"] is not None:
        return meta["_chunks"]
    layout = meta["layout"]
    shape = meta["shape"]
    rank = len(shape)
    npdt = meta["dt"]["np"]
    ver = layout[0]
    if ver == 3:
        btree = _u(layout, 3, h.offs)
        chunk = _chunk_dims(h, layout, rank)
        entries = [] if btree == _UNDEF else _walk_chunk_btree(h, btree, rank)
        meta["_chunks"] = (chunk, entries)
        return meta["_chunks"]
    # v4 chunked layout
    flags = layout[2]
    ndims = layout[3]
    enc = layout[4]
    chunk = _chunk_dims(h, layout, rank)
    p = 5 + enc * ndims
    idx_type = layout[p]
    p += 1
    chunk_nbytes = int(np.prod(chunk)) * npdt.itemsize
    grid = [max(1, -(-s // c)) for s, c in zip(shape, chunk)]
    nchunks = int(np.prod(grid)) if grid else 1
    entries: list[tuple[tuple[int, ...], int, int, int]] = []
    if idx_type == 1:  # Single Chunk
        nbytes, mask = chunk_nbytes, 0
        if flags & 0x02:  # filtered: size + mask precede the address
            nbytes = _u(layout, p, h.lens)
            mask = _u(layout, p + h.lens, 4)
            p += h.lens + 4
        addr = _u(layout, p, h.offs)
        if addr != _UNDEF:
            entries.append(((0,) * rank, nbytes, mask, addr))
    elif idx_type == 2:  # Implicit: contiguous chunk array, unfiltered
        addr = _u(layout, p, h.offs)
        if addr != _UNDEF:
            for i in range(nchunks):
                entries.append(
                    (
                        _grid_offsets(i, grid, chunk),
                        chunk_nbytes,
                        0,
                        addr + i * chunk_nbytes,
                    )
                )
    elif idx_type == 3:  # Fixed Array
        addr = _u(layout, p + 1, h.offs)  # 1-byte page-bits param first
        if addr != _UNDEF:
            for i, caddr, nbytes, mask in _fixed_array_entries(h, addr, chunk_nbytes):
                if i >= nchunks:
                    raise ValueError("Fixed Array chunk index out of range")
                entries.append((_grid_offsets(i, grid, chunk), nbytes, mask, caddr))
    elif idx_type == 4:  # Extensible Array
        addr = _u(layout, p + 5, h.offs)  # 5 creation-param bytes first
        if addr != _UNDEF:
            for i, caddr, nbytes, mask in _ext_array_entries(h, addr, chunk_nbytes):
                if i >= nchunks:
                    raise ValueError("Extensible Array chunk index out of range")
                entries.append((_grid_offsets(i, grid, chunk), nbytes, mask, caddr))
    elif idx_type == 5:  # v2 B-tree chunk index (>1 unlimited dim)
        # index data: node size(4), split %(1), merge %(1), then addr
        addr = _u(layout, p + 6, h.offs)
        if addr != _UNDEF:
            btype = h.data[addr + 5]  # 10 = non-filtered, 11 = filtered
            if btype not in (10, 11):
                raise ValueError(f"unexpected v2 B-tree record type {btype} for chunks")
            for rec in _btree_v2_records(h, addr):
                caddr = _u(rec, 0, h.offs)
                if btype == 10:
                    nbytes, mask, off_pos = chunk_nbytes, 0, h.offs
                else:  # addr + size (variable width) + filter mask + offsets
                    size_len = len(rec) - h.offs - 4 - 8 * rank
                    if size_len < 1:
                        raise ValueError("corrupt v2 B-tree chunk record size")
                    nbytes = _u(rec, h.offs, size_len)
                    mask = _u(rec, h.offs + size_len, 4)
                    off_pos = h.offs + size_len + 4
                scaled = [_u(rec, off_pos + 8 * i, 8) for i in range(rank)]
                offs_t = tuple(s * c for s, c in zip(scaled, chunk))
                if any(o >= s for o, s in zip(offs_t, shape)):
                    raise ValueError("v2 B-tree chunk offset out of range")
                entries.append((offs_t, nbytes, mask, caddr))
    else:
        raise NotImplementedError(f"chunk index type {idx_type} not supported")
    meta["_chunks"] = (chunk, entries)
    return meta["_chunks"]


def _read_slab(h: _H5, meta: dict, t0: int | None = None, t1: int | None = None) -> np.ndarray:
    """Materialize a dataset — all of it, or only leading-axis rows
    [t0, t1): the slab-streamed path that keeps a year-long grid from
    decoding at once.  Chunked layouts inflate only the chunks that
    intersect the slab."""
    shape = meta["shape"]
    layout = meta["layout"]
    filters = meta["filters"]
    full = t0 is None or not shape
    lo, hi = (0, shape[0] if shape else 1) if full else (t0, t1)
    out_shape = list(shape) if full else [hi - lo] + list(shape[1:])
    n_out = int(np.prod(out_shape)) if out_shape else 1
    row_elems = int(np.prod(shape[1:])) if len(shape) > 1 else 1
    ver, cls = layout[0], layout[1]
    if meta["dt"]["class"] == 9:  # VL strings: descriptors + global heap
        esize = 4 + h.offs + 4
        if n_out * esize > max(4096 * len(h.data), 1 << 28):
            raise ValueError(f"implausible VL dataset size {out_shape}")
        if ver == 3 and cls == 1:  # contiguous
            addr = _u(layout, 2, h.offs)
            if addr == _UNDEF:
                return np.full(out_shape, "", dtype=object)
            off = addr + lo * row_elems * esize
            raw = h.data[off : off + n_out * esize]
        elif ver == 3 and cls == 0:  # compact
            size = _u(layout, 2, 2)
            raw = layout[4 : 4 + size][
                lo * row_elems * esize : (lo * row_elems + n_out) * esize
            ]
        else:
            raise NotImplementedError(
                "VL-string datasets: compact/contiguous layouts only "
                "(the netCDF string-variable shape)"
            )
        vals = _read_vl(h, meta["dt"], raw, n_out)
        out = np.array(vals, dtype=object)
        return out.reshape(out_shape) if out_shape else out.reshape(())
    npdt = meta["dt"]["np"]
    # corruption guard: a flipped dataspace dim can claim terabytes —
    # cap the decoded slab at a generous multiple of the container size
    # (even 1000:1-compressed chunks stay far under this)
    if n_out * npdt.itemsize > max(4096 * len(h.data), 1 << 28):
        raise ValueError(
            f"implausible dataset size {out_shape} ({n_out * npdt.itemsize} B) "
            f"for a {len(h.data)} B file — corrupt dataspace?"
        )
    if ver == 3 and cls == 0:  # compact — tiny by definition
        size = _u(layout, 2, 2)
        arr = np.frombuffer(layout[4 : 4 + size], dtype=npdt,
                            count=int(np.prod(shape)) if shape else 1)
        arr = arr.reshape(shape) if shape else arr.reshape(())
        return arr if full else arr[lo:hi]
    if ver == 3 and cls == 1:  # contiguous: pure offset math per slab
        addr = _u(layout, 2, h.offs)
        if addr == _UNDEF:  # never written: the declared fill value
            return _fill_array(meta, out_shape)
        off = addr + lo * row_elems * npdt.itemsize
        return np.frombuffer(h.data, dtype=npdt, count=n_out, offset=off).reshape(out_shape)
    if cls == 2 and ver in (3, 4):  # chunked: any supported index
        chunk, entries = _chunk_entries(h, meta)
        # chunks absent from the index were never written: they read as
        # the dataset's declared fill value (netCDF's partially-written
        # variables), zeros only when no fill is defined
        out = _fill_array(meta, out_shape)
        for offs, nbytes, mask, addr in entries:
            if offs[0] >= hi or offs[0] + chunk[0] <= lo:
                continue  # chunk entirely outside the slab: never inflated
            raw = _defilter(h.data[addr : addr + nbytes], filters, mask)
            carr = np.frombuffer(raw, dtype=npdt, count=int(np.prod(chunk))).reshape(chunk)
            # leading axis clipped against the slab window, others as usual
            d0 = slice(max(offs[0], lo) - lo, min(offs[0] + chunk[0], hi) - lo)
            s0 = slice(max(lo - offs[0], 0), min(chunk[0], hi - offs[0]))
            dst = (d0,) + tuple(
                slice(o, min(o + c, s)) for o, c, s in zip(offs[1:], chunk[1:], shape[1:])
            )
            src = (s0,) + tuple(
                slice(0, min(c, s - o)) for o, c, s in zip(offs[1:], chunk[1:], shape[1:])
            )
            out[dst] = carr[src]
        return out
    raise NotImplementedError(f"layout message version {ver} class {cls} not supported")


def _dataset_data(h: _H5, msgs: list[tuple[int, bytes]]) -> tuple[np.ndarray, dict]:
    meta = _dataset_meta(h, msgs)
    return _read_slab(h, meta), meta


# ---- public reader --------------------------------------------------------


def read_hdf5(source: str | bytes) -> dict:
    """Parse an HDF5 file (netCDF-4 subset).

    Returns ``{"attrs": {...}, "datasets": {path: {"shape": [...],
    "attrs": {...}, "data": np.ndarray, "addr": int}}}`` — ``addr`` is
    the object-header address, used to resolve ``DIMENSION_LIST``
    object references.  Nested groups flatten to ``group/name`` paths.
    """
    data = source if isinstance(source, bytes) else open(source, "rb").read()
    try:
        h, entries, root_attrs = _walk_datasets(data)
        datasets: dict[str, dict] = {}
        for path, (addr, msgs) in entries.items():
            arr, meta = _dataset_data(h, msgs)
            datasets[path] = {
                "shape": list(arr.shape),
                "attrs": meta["attrs"],
                "data": arr,
                "addr": addr,
            }
            if "enum" in meta["dt"]:  # enum datasets: ints + name map
                datasets[path]["enum"] = meta["dt"]["enum"]
        return {"attrs": root_attrs, "datasets": datasets}
    except _PARSE_ERRORS as e:
        # truncated/corrupt containers must fail loudly with context, not
        # leak a bare struct/index error from 6 layers down
        raise ValueError(f"corrupt or truncated HDF5 file: {e!r}") from e


def _walk_datasets(data: bytes):
    """Metadata walk shared by the eager and slab-streamed readers:
    (``_H5``, {path: (header addr, messages)}, root attrs) — no dataset
    array bytes touched."""
    h = _H5(data)
    entries: dict[str, tuple[int, list]] = {}
    root_attrs: dict[str, Any] = {}

    def visit(addr: int, path: str) -> None:
        msgs = _messages(h, addr)
        if any(t == 0x08 for t, _ in msgs):  # has a data layout → dataset
            entries[path] = (addr, msgs)
            return
        if path == "":  # root group carries the global attributes
            root_attrs.update(_collect_attrs(h, msgs))
        for name, child in _group_children(h, msgs).items():
            visit(child, f"{path}/{name}" if path else name)

    visit(h.root, "")
    return h, entries, root_attrs


_NC4_HIDDEN_ATTRS = {
    "CLASS",
    "NAME",
    "DIMENSION_LIST",
    "REFERENCE_LIST",
    "_Netcdf4Dimid",
    "_Netcdf4Coordinates",
    "_NCProperties",
}


def read_netcdf4(source: str | bytes) -> dict:
    """NetCDF-4 semantics over :func:`read_hdf5` — same output shape as
    ``netcdf3.read_netcdf3``: ``{"dims", "record_dim", "attrs",
    "vars": {name: {"dims", "attrs", "data"}}}``.

    Dimensions are the datasets netCDF marks as dimension scales
    (``CLASS="DIMENSION_SCALE"``); each variable's dim names resolve
    through its ``DIMENSION_LIST`` object references, falling back to
    unique size-matching against the scales when the reference attribute
    is absent (plain HDF5 files).
    """
    ds = read_hdf5(source)
    by_addr = {v["addr"]: name for name, v in ds["datasets"].items()}
    dims: dict[str, int] = {}
    for name, v in ds["datasets"].items():
        if str(v["attrs"].get("CLASS", "")) == "DIMENSION_SCALE":
            dims[name] = v["shape"][0] if v["shape"] else 1

    out_vars: dict[str, dict] = {}
    for name, v in ds["datasets"].items():
        dim_list = v["attrs"].get("DIMENSION_LIST")
        if dim_list is not None:
            dnames = []
            for refs in dim_list:
                # each element: the dim-scale dataset(s) attached to this axis
                addrs = refs if isinstance(refs, list) else [refs]
                dnames.append(by_addr.get(addrs[0], "?") if addrs else "?")
        elif name in dims:
            dnames = [name]
        else:
            dnames = _match_dims_by_size(v["shape"], dims)
        clean = {k: a for k, a in v["attrs"].items() if k not in _NC4_HIDDEN_ATTRS}
        arr = v["data"]
        if arr.dtype.byteorder == ">":
            arr = arr.astype(arr.dtype.newbyteorder("="))
        out_vars[name] = {"dims": dnames, "attrs": clean, "data": arr}

    attrs = {k: v for k, v in ds["attrs"].items() if k not in _NC4_HIDDEN_ATTRS}
    return {"dims": dims, "record_dim": None, "attrs": attrs, "vars": out_vars}


def _match_dims_by_size(shape: list[int], dims: dict[str, int]) -> list[str]:
    names = []
    for s in shape:
        hits = [d for d, n in dims.items() if n == s]
        names.append(hits[0] if len(hits) == 1 else "?")
    return names


def netcdf4_grid_to_long(
    content: bytes,
    var: str = "precip",
    time_dim: str = "time",
    lat_dim: str = "latitude",
    lon_dim: str = "longitude",
) -> pd.DataFrame:
    """NetCDF-4 twin of ``netcdf3.netcdf3_grid_to_long``: bytes of one
    HDF5-container ``time × latitude × longitude`` grid → long-format
    ``(time, lat, lon, precip)`` pandas frame, CF-decoded (_FillValue /
    scale_factor / add_offset / "unit since epoch" time).  Eager form —
    one concatenated frame (the slab generator underneath)."""
    batches = list(
        netcdf4_grid_to_long_batches(content, var, time_dim, lat_dim, lon_dim)
    )
    return pd.concat(batches, ignore_index=True) if batches else pd.DataFrame(
        {"time": [], "lat": [], "lon": [], "precip": []}
    )


def _nc4_grid(content, var: str, time_dim: str, lat_dim: str, lon_dim: str):
    """Metadata walk + grid-shape check shared by the decoder and the
    axes reader: ``(_H5, dataset metas by path, the grid variable's
    meta)`` — no array bytes touched."""
    try:
        h, entries, _ = _walk_datasets(content)
        metas = {p: _dataset_meta(h, msgs) for p, (addr, msgs) in entries.items()}
    except _PARSE_ERRORS as e:
        raise ValueError(f"corrupt or truncated HDF5 file: {e!r}") from e
    by_addr = {addr: p for p, (addr, _) in entries.items()}
    if var not in metas:
        raise ValueError(f"variable {var!r} not in file (has {sorted(metas)})")
    vmeta = metas[var]
    dim_list = vmeta["attrs"].get("DIMENSION_LIST")
    if dim_list is not None:
        dnames = [
            by_addr.get((refs if isinstance(refs, list) else [refs])[0], "?")
            for refs in dim_list
        ]
    else:
        scales = {
            p: m["shape"][0]
            for p, m in metas.items()
            if str(m["attrs"].get("CLASS", "")) == "DIMENSION_SCALE" and m["shape"]
        }
        dnames = _match_dims_by_size(vmeta["shape"], scales)
    if dnames != [time_dim, lat_dim, lon_dim]:
        raise ValueError(f"{var} dims {dnames} != [{time_dim}, {lat_dim}, {lon_dim}]")
    return h, metas, vmeta


def _coord_data(h: _H5, meta: dict) -> np.ndarray:
    """One coordinate dataset's values in native byte order."""
    try:
        arr = _read_slab(h, meta)
    except _PARSE_ERRORS as e:
        raise ValueError(f"corrupt or truncated HDF5 file: {e!r}") from e
    return arr.astype(arr.dtype.newbyteorder("=")) if arr.dtype.byteorder == ">" else arr


def netcdf4_grid_axes(
    content,
    var: str = "precip",
    time_dim: str = "time",
    lat_dim: str = "latitude",
    lon_dim: str = "longitude",
) -> tuple[np.ndarray, np.ndarray]:
    """NetCDF-4 twin of ``netcdf3.netcdf3_grid_axes``: the ``(lat, lon)``
    coordinate arrays as float64 copies, read through the metadata walk
    and the two 1-D coordinate datasets — ``var``'s chunks are never
    inflated, so ``content`` may be an ``mmap``."""
    h, metas, _ = _nc4_grid(content, var, time_dim, lat_dim, lon_dim)
    return tuple(
        np.array(_coord_data(h, metas[n]), dtype=np.float64) for n in (lat_dim, lon_dim)
    )


def netcdf4_grid_to_long_batches(
    content: bytes,
    var: str = "precip",
    time_dim: str = "time",
    lat_dim: str = "latitude",
    lon_dim: str = "longitude",
    records_per_batch: int = 32,
):
    """Slab-streamed NetCDF-4 decode: yields long-format frames of ~
    ``records_per_batch`` time steps, inflating only the chunks that
    intersect each slab — a year-long chunked CHIRPS file never
    materializes its decoded expansion at once.  Slabs align to the
    chunk time-extent so no chunk is inflated twice."""
    from mini_project_204721_data_engineering_spark.sources.netcdf3 import (
        _decode_cf_time,
        _decode_cf_values,
    )

    h, metas, vmeta = _nc4_grid(content, var, time_dim, lat_dim, lon_dim)

    def coord(name):
        return {"attrs": dict(metas[name]["attrs"]), "data": _coord_data(h, metas[name])}

    try:
        times = _decode_cf_time(coord(time_dim))
        lats = np.asarray(coord(lat_dim)["data"], dtype=np.float64)
        lons = np.asarray(coord(lon_dim)["data"], dtype=np.float64)
    except _PARSE_ERRORS as e:
        raise ValueError(f"corrupt or truncated HDF5 file: {e!r}") from e
    nt, nla, nlo = len(times), len(lats), len(lons)
    lat_tile = np.repeat(lats, nlo)
    # align slabs to the chunk time-extent: each chunk inflates once
    step = records_per_batch
    layout = vmeta["layout"]
    if layout[1] == 2 and layout[0] in (3, 4):
        cd = _chunk_dims(h, layout, len(vmeta["shape"]))
        tchunk = cd[0] if cd else 1
        step = max(tchunk, (records_per_batch // tchunk) * tchunk or tchunk)
    clean_attrs = {k: v for k, v in vmeta["attrs"].items() if k not in _NC4_HIDDEN_ATTRS}
    for t0 in range(0, nt, step):
        t1 = min(nt, t0 + step)
        try:
            slab = _read_slab(h, vmeta, t0, t1)
        except _PARSE_ERRORS as e:
            raise ValueError(f"corrupt or truncated HDF5 file: {e!r}") from e
        if slab.dtype.byteorder == ">":
            slab = slab.astype(slab.dtype.newbyteorder("="))
        vals = _decode_cf_values({"data": slab, "attrs": clean_attrs})
        k = t1 - t0
        yield pd.DataFrame(
            {
                "time": np.repeat(times[t0:t1], nla * nlo),
                "lat": np.tile(lat_tile, k),
                "lon": np.tile(lons, k * nla),
                "precip": vals.reshape(-1),
            }
        )


def _has_hdf5_sig(content: bytes) -> bool:
    """Spec-conformant magic sniff: the superblock may sit at offset 0,
    512, 1024, 2048, ... (doubling) to allow arbitrary user blocks — the
    same scan ``_H5.__init__`` performs, so routing accepts exactly what
    ``read_hdf5`` accepts (a >=4096-byte user block is still HDF5)."""
    off = 0
    while off < len(content):
        if content[off : off + 8] == _SIG:
            return True
        off = 512 if off == 0 else off * 2
    return False


def netcdf_grid_to_long(content: bytes, **kw) -> pd.DataFrame:
    """Container-agnostic decoder: sniffs the magic and routes classic
    CDF bytes to the NetCDF-3 parser and HDF5 bytes to the NetCDF-4
    reader — eager form (one frame per file)."""
    if content[:3] == b"CDF":
        from mini_project_204721_data_engineering_spark.sources.netcdf3 import (
            netcdf3_grid_to_long,
        )

        return netcdf3_grid_to_long(content, **kw)
    if _has_hdf5_sig(content):
        return netcdf4_grid_to_long(content, **kw)
    raise ValueError("not a NetCDF file (neither CDF nor HDF5 magic)")


def netcdf_grid_to_long_batches(content: bytes, **kw):
    """Container-agnostic SLAB-STREAMED decoder — the default for
    ``sources.netcdf.netcdf_files_to_long``: yields one long-format
    frame per time slab, so the per-task peak is the raw file bytes plus
    one decoded slab (~8× a slab of the raw f4 grid), never the whole
    decoded year."""
    if content[:3] == b"CDF":
        from mini_project_204721_data_engineering_spark.sources.netcdf3 import (
            netcdf3_grid_to_long_batches,
        )

        yield from netcdf3_grid_to_long_batches(content, **kw)
        return
    if _has_hdf5_sig(content):
        yield from netcdf4_grid_to_long_batches(content, **kw)
        return
    raise ValueError("not a NetCDF file (neither CDF nor HDF5 magic)")


def netcdf_grid_axes(content, **kw) -> tuple[np.ndarray, np.ndarray]:
    """Container-agnostic ``(lat, lon)`` axes of one grid file — the
    coordinate values :func:`netcdf_grid_to_long_batches` emits, read
    without decoding the grid variable (``content`` may be an ``mmap``)."""
    if content[:3] == b"CDF":
        from mini_project_204721_data_engineering_spark.sources.netcdf3 import (
            netcdf3_grid_axes,
        )

        return netcdf3_grid_axes(content, **kw)
    if _has_hdf5_sig(content):
        return netcdf4_grid_axes(content, **kw)
    raise ValueError("not a NetCDF file (neither CDF nor HDF5 magic)")


# --------------------------------------------------------------------------
# writer (test fixtures — round-trips the reader, netcdf3/dbf/shp strategy)
# --------------------------------------------------------------------------


def _enc_datatype(arr_or_val) -> tuple[bytes, np.dtype]:
    """Encode a datatype message body for a numpy dtype (v1 datatypes);
    structured dtypes become v1 compound messages (subarray fields →
    member dimensions, the array-datatype-in-compound shape)."""
    if isinstance(arr_or_val, np.dtype):
        dt = arr_or_val
    else:
        dt = np.asarray(arr_or_val).dtype
    if dt.names:  # compound v1
        members = b""
        for nm in dt.names:
            fdt, off = dt.fields[nm][0], dt.fields[nm][1]
            if fdt.subdtype is not None:
                base, shape = fdt.subdtype
                d = len(shape)
                dims = list(shape) + [0] * (4 - d)
            else:
                base, d, dims = fdt, 0, [0, 0, 0, 0]
            mmsg, _ = _enc_datatype(base)
            nb = nm.encode() + b"\x00"
            nb += b"\x00" * ((-len(nb)) % 8)
            members += nb + struct.pack("<IB3xI4x4I", off, d, 0, *dims) + mmsg
        n = len(dt.names)
        head = bytes([0x16, n & 0xFF, (n >> 8) & 0xFF, 0]) + struct.pack("<I", dt.itemsize)
        return head + members, dt
    if dt.kind == "S":
        size = dt.itemsize
        return bytes([0x13, 0, 0, 0]) + struct.pack("<I", size), dt
    if dt.kind == "V" and dt.names is None:  # opaque (NC_OPAQUE shape)
        tag = b"opaque\x00\x00"  # null-terminated, padded to 8
        head = bytes([0x15, len(tag), 0, 0]) + struct.pack("<I", dt.itemsize)
        return head + tag, dt
    be = dt.byteorder == ">"
    order = 1 if be else 0
    if dt.kind in ("i", "u"):
        bits0 = order | (0x08 if dt.kind == "i" else 0)
        body = bytes([0x10, bits0, 0, 0]) + struct.pack("<I", dt.itemsize)
        body += struct.pack("<HH", 0, dt.itemsize * 8)
        return body, dt
    if dt.kind == "f":
        if dt.itemsize == 4:
            sign, exploc, expsz, mansz, bias = 31, 23, 8, 23, 127
        else:
            sign, exploc, expsz, mansz, bias = 63, 52, 11, 52, 1023
        bits = bytes([order | 0x20, sign, 0])
        body = bytes([0x11]) + bits + struct.pack("<I", dt.itemsize)
        body += struct.pack("<HHBBBBI", 0, dt.itemsize * 8, exploc, expsz, 0, mansz, bias)
        return body, dt
    raise ValueError(f"unsupported dtype {dt}")


def _enc_enum(base_msg: bytes, base_dt: np.dtype, mapping: dict[str, int]) -> bytes:
    """Enum (class 8) v1 datatype message over a fixed-point base:
    base message + padded member names + base-typed member values."""
    n = len(mapping)
    head = bytes([0x18, n & 0xFF, (n >> 8) & 0xFF, 0]) + struct.pack(
        "<I", base_dt.itemsize
    )
    names = b""
    for k in mapping:
        nb = k.encode() + b"\x00"
        names += nb + b"\x00" * ((-len(nb)) % 8)
    vals = np.array(list(mapping.values()), dtype=base_dt).tobytes()
    return head + base_msg + names + vals


_DT_REF = bytes([0x17, 0, 0, 0]) + struct.pack("<I", 8)
_DT_VLREF = bytes([0x19, 0, 0, 0]) + struct.pack("<I", 16) + _DT_REF
_DT_S1 = bytes([0x13, 0, 0, 0]) + struct.pack("<I", 1)
_DT_VLSTR = bytes([0x19, 1, 0, 0]) + struct.pack("<I", 16) + _DT_S1


def _enc_dataspace(shape: tuple[int, ...]) -> bytes:
    return bytes([1, len(shape), 0, 0, 0, 0, 0, 0]) + b"".join(
        struct.pack("<Q", s) for s in shape
    )


def _attr_payload(value) -> tuple[bytes, bytes, bytes]:
    """(datatype msg, dataspace msg, raw data) for a python/numpy value."""
    if isinstance(value, str):
        raw = value.encode() + b"\x00"
        dt, _ = _enc_datatype(np.dtype(f"S{len(raw)}"))
        return dt, _enc_dataspace(()), raw
    arr = np.asarray(value)
    if arr.dtype.kind == "U":
        raise ValueError("use python str for string attributes")
    if arr.dtype == np.int64 and arr.ndim == 0:
        arr = arr.astype("<i8")
    dt, _ = _enc_datatype(arr.dtype.newbyteorder("<"))
    return dt, _enc_dataspace(arr.shape if arr.ndim else ()), arr.astype(
        arr.dtype.newbyteorder("<")
    ).tobytes()


def _attr_msg_v1(name: str, dtmsg: bytes, dsmsg: bytes, data: bytes) -> bytes:
    nb = name.encode() + b"\x00"

    def pad8(b: bytes) -> bytes:
        return b + b"\x00" * ((-len(b)) % 8)

    head = struct.pack("<BBHHH", 1, 0, len(nb), len(dtmsg), len(dsmsg))
    return head + pad8(nb) + pad8(dtmsg) + pad8(dsmsg) + data


def _attr_msg_v3(
    name: str, dtmsg: bytes, dsmsg: bytes, data: bytes, shared_dt: bool = False
) -> bytes:
    nb = name.encode() + b"\x00"
    flags = 0x01 if shared_dt else 0  # bit 0: datatype field is a shared ref
    head = struct.pack("<BBHHHB", 3, flags, len(nb), len(dtmsg), len(dsmsg), 0)
    return head + nb + dtmsg + dsmsg + data


def _ohdr_v1(messages: list) -> bytes:
    body = b""
    for m in messages:  # (mtype, body) or (mtype, body, header flags)
        mtype, mbody, mflags = m if len(m) == 3 else (*m, 0)
        mbody = mbody + b"\x00" * ((-len(mbody)) % 8)
        body += struct.pack("<HHB3x", mtype, len(mbody), mflags) + mbody
    return struct.pack("<BBHII4x", 1, 0, len(messages), 1, len(body)) + body


def _ohdr_v2(messages: list) -> bytes:
    body = b""
    for m in messages:
        mtype, mbody, mflags = m if len(m) == 3 else (*m, 0)
        body += struct.pack("<BHB", mtype, len(mbody), mflags) + mbody
    # flags=1: 2-byte size-of-chunk-0 field; trailing checksum unverified
    return b"OHDR" + struct.pack("<BBH", 2, 1, len(body)) + body + b"\x00" * 4


def _write_fixed_array(alloc, buf: bytearray, raws, page_bits: int, filtered: bool) -> int:
    """Emit a Fixed Array chunk index: chunk payloads, FADB (paged when
    the element count exceeds 2^page_bits), FAHD.  ``raws`` is the full
    linear chunk list in C-order; ``None`` slots are never-written
    chunks (undefined address → fill value on read).  Returns the FAHD
    address.  Checksums are written as zeros — this library's reader
    does not verify them (same policy as the v2 B-tree writer)."""
    client = 1 if filtered else 0
    entry_size = 8 if client == 0 else 8 + 4 + 4  # addr [+ size + mask]
    addrs = [(alloc(r), len(r)) if r is not None else (None, 0) for r in raws]
    fahd_addr = alloc(b"\x00" * 28)  # patched once the data block lands

    def enc(a, n):
        e = struct.pack("<Q", _UNDEF if a is None else a)
        return e if client == 0 else e + struct.pack("<II", n, 0)

    elems = b"".join(enc(a, n) for a, n in addrs)
    nelmts = len(raws)
    page = 1 << page_bits
    body = b"FADB" + struct.pack("<BBQ", 0, client, fahd_addr)
    if nelmts <= page:
        body += elems + struct.pack("<I", 0)
    else:
        npages = -(-nelmts // page)
        bitmap = bytearray((npages + 7) // 8)
        for pg in range(npages):
            bitmap[pg // 8] |= 1 << (pg % 8)  # every page initialized
        body += bytes(bitmap) + struct.pack("<I", 0)
        for pg in range(npages):
            lo, hi = pg * page, min((pg + 1) * page, nelmts)
            body += elems[lo * entry_size : hi * entry_size] + struct.pack("<I", 0)
    dblk_addr = alloc(body)
    hdr = b"FAHD" + struct.pack("<BBBB", 0, client, entry_size, page_bits)
    hdr += struct.pack("<QQI", nelmts, dblk_addr, 0)
    buf[fahd_addr : fahd_addr + len(hdr)] = hdr
    return fahd_addr


def _write_ext_array(
    alloc, buf: bytearray, raws, filtered: bool,
    cparam: tuple[int, int, int, int, int] = (32, 4, 4, 16, 10),
) -> int:
    """Emit an Extensible Array chunk index: chunk payloads, data
    blocks ("EADB", paged above 2^page_bits elements), super blocks
    ("EASB") for the range beyond the index block's direct pointers,
    index block ("EAIB"), header ("EAHD").  ``cparam`` = (max nelmts
    bits, index block elements, super-block min data pointers, data
    block min elements, data-block page bits) — libhdf5's chunk-index
    defaults.  Returns the EAHD address."""
    max_bits, idx_elmts, sblk_min_ptrs, dblk_min, page_bits = cparam
    client = 1 if filtered else 0
    elt_size = 8 if client == 0 else 8 + 4 + 4
    blk_off_len = (max_bits + 7) // 8
    page = 1 << page_bits
    addrs = [(alloc(r), len(r)) if r is not None else (None, 0) for r in raws]
    eahd_addr = alloc(b"\x00" * 72)  # patched once the index block lands

    def enc(a, n):
        e = struct.pack("<Q", _UNDEF if a is None else a)
        return e if client == 0 else e + struct.pack("<II", n, 0)

    elems = [enc(a, n) for a, n in addrs]
    nelmts = len(elems)
    sblk_info = _ea_sblk_info(max_bits, idx_elmts, dblk_min)
    iblk_nsblks = 2 * (sblk_min_ptrs.bit_length() - 1)
    ndblk_addrs = 2 * (sblk_min_ptrs - 1)

    def write_dblk(start: int, cnt: int) -> int:
        if start >= nelmts:
            return _UNDEF
        blk = b"EADB" + struct.pack("<BBQ", 0, client, eahd_addr)
        blk += start.to_bytes(blk_off_len, "little")
        payload = b"".join(elems[start : start + cnt])
        payload += enc(None, 0) * max(0, cnt - (nelmts - start))
        if cnt <= page:
            blk += payload + struct.pack("<I", 0)
        else:
            blk += struct.pack("<I", 0)  # prefix checksum precedes the pages
            for pg in range(-(-cnt // page)):
                lo, hi = pg * page, min((pg + 1) * page, cnt)
                blk += payload[lo * elt_size : hi * elt_size] + struct.pack("<I", 0)
        return alloc(blk)

    dblk_addrs: list[int] = []
    sblk_addrs: list[int] = []
    for u, (ndblks, dn, start_idx, _sd) in enumerate(sblk_info):
        if u < iblk_nsblks:
            for b in range(ndblks):
                dblk_addrs.append(write_dblk(start_idx + b * dn, dn))
        elif start_idx >= nelmts:
            sblk_addrs.append(_UNDEF)
        else:
            da = [write_dblk(start_idx + b * dn, dn) for b in range(ndblks)]
            sb = b"EASB" + struct.pack("<BBQ", 0, client, eahd_addr)
            sb += start_idx.to_bytes(blk_off_len, "little")
            if dn > page:  # page-init bitmap lives in the super block
                npg = -(-dn // page)
                bm = bytearray((ndblks * npg + 7) // 8)
                for i in range(ndblks * npg):
                    bm[i // 8] |= 1 << (i % 8)
                sb += bytes(bm)
            sb += b"".join(struct.pack("<Q", a) for a in da) + struct.pack("<I", 0)
            sblk_addrs.append(alloc(sb))
    dblk_addrs = (dblk_addrs + [_UNDEF] * ndblk_addrs)[:ndblk_addrs]
    nsblk_addrs = len(sblk_info) - iblk_nsblks
    sblk_addrs = (sblk_addrs + [_UNDEF] * nsblk_addrs)[:nsblk_addrs]

    inline = b"".join(elems[:idx_elmts]) + enc(None, 0) * max(0, idx_elmts - nelmts)
    ib = b"EAIB" + struct.pack("<BBQ", 0, client, eahd_addr) + inline
    ib += b"".join(struct.pack("<Q", a) for a in dblk_addrs)
    ib += b"".join(struct.pack("<Q", a) for a in sblk_addrs)
    ib += struct.pack("<I", 0)
    iblk_addr = alloc(ib)
    hdr = b"EAHD" + struct.pack(
        "<BBBBBBBB", 0, client, elt_size, max_bits, idx_elmts, dblk_min,
        sblk_min_ptrs, page_bits,
    )
    hdr += struct.pack("<QQQQQQ", 0, 0, 0, 0, nelmts, nelmts)
    hdr += struct.pack("<QI", iblk_addr, 0)
    buf[eahd_addr : eahd_addr + len(hdr)] = hdr
    return eahd_addr


def _write_dense_storage(
    alloc, next_addr: int, link_bodies: list[bytes], btree_type: int = 5,
    leaf_cap: int | None = None,
) -> tuple[int, int]:
    """Emit dense storage: a fractal heap (single root direct block)
    holding message bodies + a depth-0 v2 B-tree whose records point at
    them.  ``btree_type`` 5 = link name index (hash, heap id), 8 =
    attribute name index (heap id, flags, creation order, hash).
    Returns (heap addr, btree addr).  Name hashes are written as zeros —
    this library's reader iterates all records rather than probing by
    hash."""
    MAX_HEAP_BITS = 32  # → 4-byte heap offsets
    MAX_MANAGED = 4096  # → 2-byte heap lengths
    db_header = 4 + 1 + 8 + (MAX_HEAP_BITS + 7) // 8  # FHDB: sig+ver+hdr addr+offset
    # objects above the managed max become HUGE: payload allocated
    # standalone, id routed through the huge-object v2 B-tree
    huge_recs: list[bytes] = []
    managed = [b for b in link_bodies if len(b) <= MAX_MANAGED]
    heap_id_len = 7 if len(managed) == len(link_bodies) else 9
    heap_ids = []
    pos = db_header
    mi = 0
    for b in link_bodies:
        if len(b) > MAX_MANAGED:
            haddr = alloc(b)
            hid = len(huge_recs) + 1
            huge_recs.append(
                struct.pack("<QQQ", haddr, len(b), hid)  # addr, length, id
            )
            heap_ids.append(
                (bytes([0x10]) + struct.pack("<Q", hid))[:heap_id_len].ljust(
                    heap_id_len, b"\x00"
                )
            )
            continue
        heap_ids.append(
            (b"\x00" + struct.pack("<I", pos) + struct.pack("<H", len(b))).ljust(
                heap_id_len, b"\x00"
            )
        )
        pos += len(b)
        mi += 1
    huge_bt = _UNDEF
    if huge_recs:
        btlf = b"BTLF" + struct.pack("<BB", 0, 1)  # type 1: huge, direct
        btlf += b"".join(huge_recs) + struct.pack("<I", 0)
        hroot = alloc(btlf)
        bthd = b"BTHD" + struct.pack("<BBIHHBB", 0, 1, 2048, 24, 0, 100, 40)
        bthd += struct.pack("<QH", hroot, len(huge_recs))
        bthd += struct.pack("<Q", len(huge_recs)) + struct.pack("<I", 0)
        huge_bt = alloc(bthd)
    block_size = max(512, 1 << (pos - 1).bit_length())

    frhp = b"FRHP" + struct.pack("<BHHB", 0, heap_id_len, 0, 0)
    frhp += struct.pack("<I", MAX_MANAGED)
    frhp += struct.pack("<QQ", len(huge_recs) + 1, huge_bt)  # next huge id, btree
    frhp += struct.pack("<QQ", block_size - pos, _UNDEF)  # free space, fs mgr
    frhp += struct.pack("<QQQQ", pos, block_size, pos, mi)
    frhp += struct.pack(
        "<QQQQ", sum(len(r) for r in huge_recs), len(huge_recs), 0, 0
    )  # huge/tiny sizes+counts
    frhp += struct.pack("<HQQH", 4, block_size, block_size, MAX_HEAP_BITS)
    frhp += struct.pack("<H", 1)  # starting # rows
    fheap_addr = alloc(b"")  # current end = the header address
    root_addr = fheap_addr + len(frhp) + 8 + 2 + 4  # + root addr, cur rows, checksum
    frhp += struct.pack("<QH", root_addr, 0) + struct.pack("<I", 0)
    assert alloc(frhp) == fheap_addr

    fhdb = b"FHDB" + struct.pack("<BQI", 0, fheap_addr, 0)
    fhdb += b"".join(b for b in link_bodies if len(b) <= MAX_MANAGED)
    fhdb += b"\x00" * (block_size - len(fhdb))
    assert alloc(fhdb) == root_addr

    if btree_type == 5:  # link name index: hash, then heap id
        recs = [struct.pack("<I", 0) + hid for hid in heap_ids]
    else:  # type 8 attribute name index: heap id, flags, corder, hash
        recs = [hid + struct.pack("<BII", 0, 0, 0) for hid in heap_ids]
    rec_size = len(recs[0])
    node_size = 4096
    if leaf_cap and len(recs) > leaf_cap:
        # depth-1 tree: split records across leaves, pulling one record
        # up into the internal root between adjacent leaves (a real
        # B-tree separator, not a duplicate)
        groups: list[list[bytes]] = []
        seps: list[bytes] = []
        i = 0
        while True:
            if len(recs) - i <= leaf_cap + 1:  # final leaf — no trailing sep
                groups.append(recs[i:])
                break
            groups.append(recs[i : i + leaf_cap])
            i += leaf_cap
            seps.append(recs[i])  # separator lives in the internal node
            i += 1
        leaf_addrs = []
        for g in groups:
            btlf = b"BTLF" + struct.pack("<BB", 0, btree_type)
            btlf += b"".join(g) + struct.pack("<I", 0)
            leaf_addrs.append((alloc(btlf), len(g)))
        nrec_size = _b2_enc_size((node_size - 10) // rec_size)
        btin = b"BTIN" + struct.pack("<BB", 0, btree_type) + b"".join(seps)
        for a, n in leaf_addrs:
            btin += struct.pack("<Q", a) + n.to_bytes(nrec_size, "little")
        btin += struct.pack("<I", 0)
        root_addr, depth, n_root = alloc(btin), 1, len(seps)
    else:
        btlf = b"BTLF" + struct.pack("<BB", 0, btree_type)
        for rec in recs:
            btlf += rec
        btlf += struct.pack("<I", 0)  # checksum (unverified by this reader)
        root_addr, depth, n_root = alloc(btlf), 0, len(recs)
    bthd = b"BTHD" + struct.pack(
        "<BBIHHBB", 0, btree_type, node_size, rec_size, depth, 100, 40
    )
    bthd += struct.pack("<QH", root_addr, n_root)
    bthd += struct.pack("<Q", len(recs)) + struct.pack("<I", 0)
    btree_addr = alloc(bthd)
    return fheap_addr, btree_addr


def _write_sohm(alloc, bodies: list[bytes]) -> tuple[int, list[bytes]]:
    """Emit SOHM storage: a fractal heap (single root direct block)
    holding the shared message bodies, a Shared Message Record List
    ("SMLI" — refcount bookkeeping, the shape real ``libver=latest``
    files carry), and the "SMTB" table routing to both.  Returns
    ``(table_addr, heap_ids)`` with one 8-byte fractal-heap ID per
    body, as stored in v3/type-1 Shared Message structures."""
    MAX_HEAP_BITS = 32  # → 4-byte heap offsets
    MAX_MANAGED = 4096  # → 2-byte heap lengths
    db_header = 4 + 1 + 8 + (MAX_HEAP_BITS + 7) // 8
    pos = db_header
    ids: list[bytes] = []
    for b in bodies:
        ids.append(
            (b"\x00" + struct.pack("<IH", pos, len(b))).ljust(8, b"\x00")
        )
        pos += len(b)
    block_size = max(512, 1 << (pos - 1).bit_length())
    frhp = b"FRHP" + struct.pack("<BHHB", 0, 7, 0, 0)
    frhp += struct.pack("<I", MAX_MANAGED)
    frhp += struct.pack("<QQ", 1, _UNDEF)  # next huge id, huge btree
    frhp += struct.pack("<QQ", block_size - pos, _UNDEF)  # free space, fs mgr
    frhp += struct.pack("<QQQQ", pos, block_size, pos, len(bodies))
    frhp += struct.pack("<QQQQ", 0, 0, 0, 0)  # huge/tiny sizes+counts
    frhp += struct.pack("<HQQH", 4, block_size, block_size, MAX_HEAP_BITS)
    frhp += struct.pack("<H", 1)  # starting # rows
    fheap_addr = alloc(b"")
    root_addr = fheap_addr + len(frhp) + 8 + 2 + 4
    frhp += struct.pack("<QH", root_addr, 0) + struct.pack("<I", 0)
    assert alloc(frhp) == fheap_addr
    fhdb = b"FHDB" + struct.pack("<BQI", 0, fheap_addr, 0) + b"".join(bodies)
    fhdb += b"\x00" * (block_size - len(fhdb))
    assert alloc(fhdb) == root_addr
    smli = b"SMLI" + b"".join(
        struct.pack("<BII", 0, 0, 1) + hid  # in-heap, hash, refcount, id
        for hid in ids
    ) + struct.pack("<I", 0)
    smli_addr = alloc(smli)
    smtb = b"SMTB" + struct.pack(
        "<BBHIHHH", 0, 0, 0x0002, 0, 50, 500, len(bodies)
    )  # ver, list index, datatype flag, min size, cutoffs, nmsgs
    smtb += struct.pack("<QQ", smli_addr, fheap_addr) + struct.pack("<I", 0)
    return alloc(smtb), ids


def write_hdf5(
    path: str,
    datasets: dict[str, tuple[np.ndarray, dict]],
    dim_names: dict[str, list[str]] | None = None,
    root_attrs: dict | None = None,
    options: dict[str, dict] | None = None,
    flavor: str = "v0",
    dense_leaf_cap: int | None = None,
) -> None:
    """Write an HDF5 file in the netCDF-4 shape, for reader round-trips.

    ``datasets``: name → (array, attrs).  ``dim_names``: name → dim-name
    list; names listed anywhere become dimension-scale datasets
    (``CLASS="DIMENSION_SCALE"``) and variables get real
    ``DIMENSION_LIST`` object-reference attributes through a global
    heap — the structure netCDF-4 itself writes.  ``options``: name →
    ``{"chunks": tuple, "deflate": level, "shuffle": bool}``.
    ``flavor="v0"``: superblock v0 + old-style symbol-table root;
    ``flavor="v2"``: superblock v3 + v2 object headers + compact link
    messages (the modern-netCDF shape).
    """
    dim_names = dim_names or {}
    root_attrs = root_attrs or {}
    options = options or {}
    scale_names = {d for dl in dim_names.values() for d in dl if d in datasets}
    buf = bytearray(b"\x00" * (96 if flavor == "v0" else 48))

    def alloc(b: bytes) -> int:
        addr = len(buf)
        buf.extend(b)
        return addr

    # SOHM (v3 share type 1): datasets flagged sohm_dtype store their
    # datatype in a shared-message fractal heap behind the superblock
    # extension — the libver=latest shape; identical dtypes dedup to
    # one heap object
    sohm_ids: dict[str, bytes] = {}
    ext_addr = _UNDEF
    sohm_names = [n for n in datasets if options.get(n, {}).get("sohm_dtype")]
    if sohm_names and flavor != "v0":
        per_name: dict[str, bytes] = {}
        uniq: dict[bytes, int] = {}
        for n in sohm_names:
            dtm, _ = _enc_datatype(np.asarray(datasets[n][0]).dtype.newbyteorder("<"))
            per_name[n] = dtm
            uniq.setdefault(dtm, len(uniq))
        table_addr, ids8 = _write_sohm(alloc, list(uniq))
        sohm_ids = {n: ids8[uniq[per_name[n]]] for n in sohm_names}
        ext_addr = alloc(
            _ohdr_v2([(0x0F, bytes([0]) + struct.pack("<Q", table_addr) + bytes([1]))])
        )

    def dataset_blob(name: str, arr: np.ndarray, attrs: dict, extra_msgs) -> int:
        opt = options.get(name, {})
        attr_enc_local = _attr_msg_v1 if flavor == "v0" else _attr_msg_v3
        if getattr(arr, "dtype", None) is not None and arr.dtype.kind in ("O", "U"):
            # VL-string dataset (netCDF string variable): one global-heap
            # collection for the payloads, a contiguous descriptor array
            strs = [("" if v is None else str(v)) for v in np.asarray(arr).ravel()]
            gbody = b""
            sizes = []
            for i, sv in enumerate(strs, start=1):
                data = sv.encode("utf-8")
                sizes.append(len(data))
                gbody += struct.pack("<HH4xQ", i, 1, len(data)) + data
                gbody += b"\x00" * ((-len(data)) % 8)
            total = max(4096, 16 + len(gbody) + 16)
            head = b"GCOL" + struct.pack("<B3xQ", 1, total)
            free = total - len(head) - len(gbody)
            tail = struct.pack("<HH4xQ", 0, 0, free) + b"\x00" * (free - 16)
            gaddr = alloc(head + gbody + tail)
            descs = b"".join(
                struct.pack("<IQI", n, gaddr, i)
                for i, n in enumerate(sizes, start=1)
            )
            daddr = alloc(descs)
            msgs = [
                (0x01, _enc_dataspace(arr.shape)),
                (0x03, _DT_VLSTR),
                (0x08, struct.pack("<BBQQ", 3, 1, daddr, len(descs))),
            ]
            msgs += [(0x0C, attr_enc_local(k, *_attr_payload(v))) for k, v in attrs.items()]
            msgs.extend(extra_msgs)
            return alloc(_ohdr_v1(msgs) if flavor == "v0" else _ohdr_v2(msgs))
        dtmsg, dt = _enc_datatype(arr.dtype.newbyteorder("<"))
        arr = np.ascontiguousarray(arr.astype(arr.dtype.newbyteorder("<")))
        if opt.get("enum"):  # enum dataset: ints stored, names in the type
            dtmsg = _enc_enum(dtmsg, dt, opt["enum"])
        if opt.get("sohm_dtype") and name in sohm_ids:
            # SOHM-shared datatype: v3 share type 1 + fractal heap ID
            dt_entry = (0x03, bytes([3, 1]) + sohm_ids[name], 0x02)
            msgs: list = [(0x01, _enc_dataspace(arr.shape)), dt_entry]
        elif opt.get("committed_dtype"):
            # named/committed type: a standalone header holds the real
            # datatype; the dataset stores a SHARED reference to it
            hdr = _ohdr_v1([(0x03, dtmsg)]) if flavor == "v0" else _ohdr_v2([(0x03, dtmsg)])
            tgt = alloc(hdr)
            dt_entry = (0x03, bytes([3, 2]) + struct.pack("<Q", tgt), 0x02)
            msgs = [(0x01, _enc_dataspace(arr.shape)), dt_entry]
        else:
            msgs = [(0x01, _enc_dataspace(arr.shape)), (0x03, dtmsg)]
        fill = opt.get("fill")
        if fill is not None:
            fraw = np.asarray(fill, dtype=arr.dtype).tobytes()
            # fill value message v2: alloc time 2 (early), write time 2,
            # defined=1, size + bytes
            msgs.append((0x05, bytes([2, 2, 2, 1]) + struct.pack("<I", len(fraw)) + fraw))
        chunks = opt.get("chunks")
        if chunks:
            filters: list[tuple[int, list[int]]] = []
            if opt.get("shuffle"):
                filters.append((2, [arr.dtype.itemsize]))
            if opt.get("deflate") is not None:
                filters.append((1, [int(opt["deflate"])]))
            if opt.get("lzf"):
                filters.append((_LZF_FILTER, []))
            if opt.get("szip_stub"):
                # declare szip in the pipeline WITHOUT transforming the
                # chunk bytes — fixture for the reader's guided refusal
                # (the reader raises before touching chunk data)
                filters.append((4, [141, 32, 16, 256]))
            if filters:
                fbody = struct.pack("<BB6x", 1, len(filters))
                for fid, vals in filters:
                    # v1 filter descriptions name non-predefined filters
                    name = b"lzf\x00\x00\x00\x00\x00" if fid >= 256 else b""
                    fbody += struct.pack("<HHHH", fid, len(name), 0, len(vals)) + name
                    fbody += b"".join(struct.pack("<I", v) for v in vals)
                    if len(vals) % 2:
                        fbody += b"\x00" * 4
                msgs.append((0x0B, fbody))
            grid = [range(0, s, c) for s, c in zip(arr.shape, chunks)]
            import itertools

            chunk_recs: list[tuple[tuple[int, ...], bytes | None]] = []
            for offs in itertools.product(*grid):  # C-order = linear index
                sl = tuple(slice(o, o + c) for o, c in zip(offs, chunks))
                piece = arr[sl]
                if (
                    opt.get("omit_fill_chunks")
                    and fill is not None
                    and bool(np.all(piece == np.asarray(fill, dtype=arr.dtype)))
                ):
                    chunk_recs.append((offs, None))  # never-written chunk
                    continue
                carr = np.zeros(chunks, dtype=arr.dtype)
                carr[tuple(slice(0, s) for s in piece.shape)] = piece
                raw = carr.tobytes()
                for fid, vals in filters:
                    if fid == 2:
                        es = vals[0]
                        raw = (
                            np.frombuffer(raw, dtype=np.uint8)
                            .reshape(len(raw) // es, es)
                            .T.tobytes()
                        )
                    elif fid == 1:
                        raw = zlib.compress(raw, vals[0])
                    elif fid == _LZF_FILTER:
                        raw = _lzf_compress(raw)
                chunk_recs.append((offs, raw))
            index = opt.get("index", "btree1")
            if index == "btree1":
                entries = [
                    (offs, len(raw), alloc(raw))
                    for offs, raw in chunk_recs
                    if raw is not None
                ]
                node = b"TREE" + struct.pack("<BBH", 1, 0, len(entries))
                node += struct.pack("<QQ", _UNDEF, _UNDEF)
                for offs, nbytes, addr in entries:
                    node += struct.pack("<II", nbytes, 0)
                    node += b"".join(struct.pack("<Q", o) for o in offs) + struct.pack("<Q", 0)
                    node += struct.pack("<Q", addr)
                node += struct.pack("<II", 0, 0)  # final key: past-the-end
                node += b"".join(struct.pack("<Q", s) for s in arr.shape) + struct.pack("<Q", 0)
                btree_addr = alloc(node)
                lay = struct.pack("<BBB", 3, 2, len(arr.shape) + 1)
                lay += struct.pack("<Q", btree_addr)
                lay += b"".join(struct.pack("<I", c) for c in chunks)
                lay += struct.pack("<I", arr.dtype.itemsize)
            else:  # v4 layouts: the HDF5 >= 1.10 libver=latest indexes
                raws = [raw for _, raw in chunk_recs]
                flags = 0
                if index == "single":
                    if len(raws) != 1 or raws[0] is None:
                        raise ValueError("single-chunk index needs exactly one chunk")
                    addr = alloc(raws[0])
                    body = b"\x01"
                    if filters:
                        flags = 0x02
                        body += struct.pack("<QI", len(raws[0]), 0)
                    body += struct.pack("<Q", addr)
                elif index == "implicit":
                    if filters or any(r is None for r in raws):
                        raise ValueError("implicit index: unfiltered, fully allocated")
                    base = len(buf)
                    for r in raws:
                        alloc(r)
                    body = b"\x02" + struct.pack("<Q", base)
                elif index == "fixed":
                    pb = int(opt.get("page_bits", 10))
                    fa = _write_fixed_array(alloc, buf, raws, pb, bool(filters))
                    body = b"\x03" + bytes([pb]) + struct.pack("<Q", fa)
                elif index == "earray":
                    cp = tuple(opt.get("earray_params", (32, 4, 4, 16, 10)))
                    ea = _write_ext_array(alloc, buf, raws, bool(filters), cp)
                    body = b"\x04" + bytes(cp) + struct.pack("<Q", ea)
                elif index == "btree2":
                    recs = []
                    for offs, raw in chunk_recs:
                        if raw is None:
                            continue  # never-written chunk: absent from tree
                        a = alloc(raw)
                        rec = struct.pack("<Q", a)
                        if filters:
                            rec += struct.pack("<II", len(raw), 0)
                        rec += b"".join(
                            struct.pack("<Q", o // c) for o, c in zip(offs, chunks)
                        )
                        recs.append(rec)
                    btype = 11 if filters else 10
                    rec_size = len(recs[0]) if recs else 8 + 8 * len(chunks)
                    btlf = b"BTLF" + struct.pack("<BB", 0, btype)
                    btlf += b"".join(recs) + struct.pack("<I", 0)
                    root = alloc(btlf)
                    bthd = b"BTHD" + struct.pack(
                        "<BBIHHBB", 0, btype, 2048, rec_size, 0, 100, 40
                    )
                    bthd += struct.pack("<QH", root, len(recs))
                    bthd += struct.pack("<Q", len(recs)) + struct.pack("<I", 0)
                    bt = alloc(bthd)
                    body = b"\x05" + struct.pack("<IBB", 2048, 100, 40)
                    body += struct.pack("<Q", bt)
                else:
                    raise ValueError(f"unknown chunk index {index!r}")
                lay = struct.pack("<BBBBB", 4, 2, flags, len(arr.shape) + 1, 8)
                lay += b"".join(struct.pack("<Q", c) for c in chunks)
                lay += struct.pack("<Q", arr.dtype.itemsize)
                lay += body
            msgs.append((0x08, lay))
        else:
            daddr = alloc(arr.tobytes())
            msgs.append((0x08, struct.pack("<BBQQ", 3, 1, daddr, arr.nbytes)))
        attr_enc = _attr_msg_v1 if flavor == "v0" else _attr_msg_v3
        attr_bodies = [attr_enc(k, *_attr_payload(v)) for k, v in attrs.items()]
        attr_bodies += [b for t, b in extra_msgs if t == 0x0C]
        if flavor != "v0" and len(attr_bodies) > 8:  # max_compact → dense attrs
            fheap, btree = _write_dense_storage(alloc, len(buf), attr_bodies, btree_type=8, leaf_cap=dense_leaf_cap)
            msgs.append((0x15, struct.pack("<BBQQ", 0, 0, fheap, btree)))
        else:
            msgs += [(0x0C, b) for b in attr_bodies]
        msgs.extend((t, b) for t, b in extra_msgs if t != 0x0C)
        hdr = _ohdr_v1(msgs) if flavor == "v0" else _ohdr_v2(msgs)
        return alloc(hdr)

    # 1) dimension-scale datasets first (variables will reference them)
    addrs: dict[str, int] = {}
    attr_enc = _attr_msg_v1 if flavor == "v0" else _attr_msg_v3
    for name in datasets:
        if name in scale_names:
            arr, attrs = datasets[name]
            a = dict(attrs)
            a["CLASS"] = "DIMENSION_SCALE"
            a["NAME"] = name
            addrs[name] = dataset_blob(name, arr, a, [])

    # 2) one global heap collection holding the DIMENSION_LIST references
    gheap_objs: dict[tuple[str, int], int] = {}
    gheap_body = b""
    next_idx = 1
    for name, dl in dim_names.items():
        if name in scale_names:
            continue
        for axis, dname in enumerate(dl):
            data = struct.pack("<Q", addrs[dname])
            gheap_body += struct.pack("<HH4xQ", next_idx, 1, len(data)) + data
            gheap_body += b"\x00" * ((-len(data)) % 8)
            gheap_objs[(name, axis)] = next_idx
            next_idx += 1
    gheap_addr = 0
    if gheap_body:
        total = max(4096, 16 + len(gheap_body) + 16)
        head = b"GCOL" + struct.pack("<B3xQ", 1, total)
        free = total - len(head) - len(gheap_body)
        tail = struct.pack("<HH4xQ", 0, 0, free) + b"\x00" * (free - 16)
        gheap_addr = alloc(head + gheap_body + tail)

    # 3) data variables, with DIMENSION_LIST when dims are declared
    for name in datasets:
        if name in scale_names:
            continue
        arr, attrs = datasets[name]
        extra = []
        dl = dim_names.get(name)
        if dl:
            data = b"".join(
                struct.pack("<IQI", 1, gheap_addr, gheap_objs[(name, ax)])
                for ax in range(len(dl))
            )
            body = _attr_msg_v1("DIMENSION_LIST", _DT_VLREF, _enc_dataspace((len(dl),)), data) if flavor == "v0" else _attr_msg_v3(
                "DIMENSION_LIST", _DT_VLREF, _enc_dataspace((len(dl),)), data
            )
            extra.append((0x0C, body))
        addrs[name] = dataset_blob(name, arr, attrs, extra)

    # 4) root group
    names = sorted(datasets)
    if flavor == "v0":
        heap_data = bytearray(b"\x00" * 8)
        name_offs = {}
        for n in names:
            name_offs[n] = len(heap_data)
            nb = n.encode() + b"\x00"
            heap_data.extend(nb + b"\x00" * ((-len(nb)) % 8))
        heap_data_addr = alloc(bytes(heap_data))
        heap_addr = alloc(
            b"HEAP" + struct.pack("<B3xQQQ", 1, len(heap_data), 1, heap_data_addr)
        )
        snod = b"SNOD" + struct.pack("<BBH", 1, 0, len(names))
        for n in names:
            snod += struct.pack("<QQII16x", name_offs[n], addrs[n], 0, 0)
        snod_addr = alloc(snod)
        btree = b"TREE" + struct.pack("<BBH", 0, 0, 1)
        btree += struct.pack("<QQ", _UNDEF, _UNDEF)
        btree += struct.pack("<Q", 0) + struct.pack("<Q", snod_addr)
        btree += struct.pack("<Q", name_offs[names[-1]] if names else 0)
        btree_addr = alloc(btree)
        root_msgs: list[tuple[int, bytes]] = [
            (0x11, struct.pack("<QQ", btree_addr, heap_addr))
        ]
        for k, v in root_attrs.items():
            root_msgs.append((0x0C, attr_enc(k, *_attr_payload(v))))
        root_addr = alloc(_ohdr_v1(root_msgs))
        sb = _SIG + struct.pack("<BBBBBBBBHHI", 0, 0, 0, 0, 0, 8, 8, 0, 4, 16, 0)
        sb += struct.pack("<QQQQ", 0, _UNDEF, len(buf), _UNDEF)
        sb += struct.pack("<QQII16x", 0, root_addr, 0, 0)
        buf[: len(sb)] = sb
    else:
        root_msgs = []
        if len(names) > 8:  # HDF5's max_compact: spill links to DENSE storage
            link_bodies = []
            for n in names:
                nb = n.encode()
                link_bodies.append(
                    struct.pack("<BBB", 1, 0, len(nb)) + nb + struct.pack("<Q", addrs[n])
                )
            fheap_addr, btree_addr = _write_dense_storage(alloc, len(buf), link_bodies, leaf_cap=dense_leaf_cap)
            root_msgs.append(
                (0x02, struct.pack("<BBQQ", 0, 0, fheap_addr, btree_addr))
            )
        else:
            for n in names:
                nb = n.encode()
                body = struct.pack("<BBB", 1, 0, len(nb)) + nb + struct.pack("<Q", addrs[n])
                root_msgs.append((0x06, body))
        root_attr_bodies = [attr_enc(k, *_attr_payload(v)) for k, v in root_attrs.items()]
        if len(root_attr_bodies) > 8:  # dense global attributes
            fheap, btree = _write_dense_storage(
                alloc, len(buf), root_attr_bodies, btree_type=8, leaf_cap=dense_leaf_cap
            )
            root_msgs.append((0x15, struct.pack("<BBQQ", 0, 0, fheap, btree)))
        else:
            root_msgs += [(0x0C, b) for b in root_attr_bodies]
        root_addr = alloc(_ohdr_v2(root_msgs))
        sb = _SIG + struct.pack("<BBBB", 3, 8, 8, 0)
        sb += struct.pack("<QQQQ", 0, ext_addr, len(buf), root_addr)
        sb += struct.pack("<I", 0)  # checksum (unverified by this reader)
        buf[: len(sb)] = sb

    with open(path, "wb") as f:
        f.write(bytes(buf))
