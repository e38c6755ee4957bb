"""Corruption-robustness fuzzing for the binary readers (hypothesis):
for ANY truncation or single-byte flip of a valid fixture, the readers
must either succeed (corruption may land in padding/unused bytes) or
raise a clean ValueError / NotImplementedError — never a bare
struct.error / IndexError / KeyError from deep inside a byte walker,
and never hang.  Real landing zones contain half-uploaded files; the
ingest error a user sees should name the format, not a stack frame."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from mini_project_204721_data_engineering_spark.sources.hdf5 import read_hdf5, write_hdf5
from mini_project_204721_data_engineering_spark.sources.netcdf3 import (
    read_netcdf3,
    write_netcdf3,
)
from mini_project_204721_data_engineering_spark.sources.xls import read_xls, write_xls

#: what a reader may raise on corrupt input.  numpy's frombuffer raises
#: ValueError on short buffers, so ValueError is the lingua franca.
OK_ERRORS = (ValueError, NotImplementedError)


@pytest.fixture(scope="module")
def xls_bytes(tmp_path_factory) -> bytes:
    p = str(tmp_path_factory.mktemp("fuzz") / "wb.xls")
    write_xls(p, {"S": [["a", "b"], ["x", 1.5], ["y", 2.0]]}, date_cols={"S": [1]})
    return open(p, "rb").read()


@pytest.fixture(scope="module")
def hdf5_bytes(tmp_path_factory) -> bytes:
    p = str(tmp_path_factory.mktemp("fuzz") / "g.nc")
    write_hdf5(
        p,
        datasets={
            "time": (np.array([0.0, 1.0]), {"units": "days since 2023-01-01"}),
            "v": (np.arange(24, dtype="<f4").reshape(2, 3, 4), {}),
        },
        options={"v": {"chunks": (1, 2, 3), "deflate": 4, "shuffle": True}},
    )
    return open(p, "rb").read()


@pytest.fixture(scope="module")
def hdf5_dense_bytes(tmp_path_factory) -> bytes:
    p = str(tmp_path_factory.mktemp("fuzz") / "dense.nc")
    write_hdf5(
        p,
        datasets={f"v{i}": (np.arange(4, dtype="<f4"), {}) for i in range(12)},
        flavor="v2",
    )
    return open(p, "rb").read()


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_hdf5_dense_fuzz(hdf5_dense_bytes, frac, flip_frac, flip_to):
    cut = int(len(hdf5_dense_bytes) * frac)
    _fuzz(read_hdf5, hdf5_dense_bytes, cut, int(cut * flip_frac), flip_to)


@pytest.fixture(scope="module")
def cdf_bytes(tmp_path_factory) -> bytes:
    p = str(tmp_path_factory.mktemp("fuzz") / "c.nc")
    write_netcdf3(
        p,
        dims={"t": 2, "x": 3},
        variables={
            "t": (["t"], np.array([0.0, 1.0]), {}),
            "v": (["t", "x"], np.arange(6, dtype=np.float32).reshape(2, 3), {}),
        },
        record_dim="t",
    )
    return open(p, "rb").read()


def _fuzz(reader, data: bytes, cut: int, flip_at: int, flip_to: int):
    mutated = bytearray(data[:cut])
    if mutated and flip_at < len(mutated):
        mutated[flip_at] = flip_to
    try:
        out = reader(bytes(mutated))
        # success is fine (mutation hit padding) — result must be sane
        assert out is not None
    except OK_ERRORS:
        pass  # the contract: a clean, catchable error


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_xls_fuzz(xls_bytes, frac, flip_frac, flip_to):
    cut = int(len(xls_bytes) * frac)
    _fuzz(read_xls, xls_bytes, cut, int(cut * flip_frac), flip_to)


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_hdf5_fuzz(hdf5_bytes, frac, flip_frac, flip_to):
    cut = int(len(hdf5_bytes) * frac)
    _fuzz(read_hdf5, hdf5_bytes, cut, int(cut * flip_frac), flip_to)


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_cdf_fuzz(cdf_bytes, frac, flip_frac, flip_to):
    cut = int(len(cdf_bytes) * frac)
    _fuzz(read_netcdf3, cdf_bytes, cut, int(cut * flip_frac), flip_to)


def test_valid_fixtures_still_read(xls_bytes, hdf5_bytes, cdf_bytes):
    """The fuzz baseline: unmutated fixtures parse (guards against a
    fixture bug making every fuzz case vacuously 'error = pass')."""
    assert read_xls(xls_bytes)["S"]["a"].tolist() == ["x", "y"]
    assert read_hdf5(hdf5_bytes)["datasets"]["v"]["data"].shape == (2, 3, 4)
    assert read_netcdf3(cdf_bytes)["vars"]["v"]["data"].shape == (2, 3)
    assert isinstance(read_xls(xls_bytes)["S"], pd.DataFrame)


@pytest.fixture(scope="module")
def hdf5_v4_bytes(tmp_path_factory) -> bytes:
    """v4-layout fixture covering BOTH modern chunk indexes plus a
    depth-1 dense link tree — the r6 structures, fuzzed like the rest."""
    p = str(tmp_path_factory.mktemp("fuzz") / "v4.nc")
    ds = {f"v{i}": (np.arange(8, dtype="<f4") + i, {}) for i in range(10)}
    ds["fa"] = (np.arange(40, dtype="<f4").reshape(10, 4), {})
    ds["ea"] = (np.arange(48, dtype="<f4").reshape(12, 4), {})
    write_hdf5(
        p,
        datasets=ds,
        options={
            "fa": {"chunks": (2, 3), "index": "fixed", "page_bits": 2, "deflate": 4},
            "ea": {
                "chunks": (1, 4),
                "index": "earray",
                "earray_params": (10, 2, 2, 2, 3),
            },
        },
        flavor="v2",
        dense_leaf_cap=3,
    )
    return open(p, "rb").read()


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_hdf5_v4_fuzz(hdf5_v4_bytes, frac, flip_frac, flip_to):
    cut = int(len(hdf5_v4_bytes) * frac)
    _fuzz(read_hdf5, hdf5_v4_bytes, cut, int(cut * flip_frac), flip_to)


def test_hdf5_v4_fixture_still_reads(hdf5_v4_bytes):
    out = read_hdf5(hdf5_v4_bytes)
    assert out["datasets"]["fa"]["data"].shape == (10, 4)
    assert out["datasets"]["ea"]["data"].shape == (12, 4)


@pytest.fixture(scope="module")
def xls5_bytes(tmp_path_factory) -> bytes:
    p = str(tmp_path_factory.mktemp("fuzz") / "old.xls")
    write_xls(
        p, {"S": [["a", "b"], ["กรุงเทพ", 1.5], ["y", 2.0]]},
        date_cols={"S": [1]}, biff=5, codepage=874,
    )
    return open(p, "rb").read()


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_xls_biff5_fuzz(xls5_bytes, frac, flip_frac, flip_to):
    from mini_project_204721_data_engineering_spark.sources.xls import read_xls

    cut = int(len(xls5_bytes) * frac)
    _fuzz(read_xls, xls5_bytes, cut, int(cut * flip_frac), flip_to)


@pytest.fixture(scope="module")
def hdf5_typed_bytes(tmp_path_factory) -> bytes:
    """Fixture exercising the r6 datatype surface: a compound dataset
    (with a subarray member) chunked+deflate, and an enum dataset."""
    cdt = np.dtype([("t", "<i4"), ("x", "<f8"), ("w", "<f4", (2,))])
    carr = np.zeros(6, dtype=cdt)
    carr["t"] = np.arange(6)
    carr["x"] = np.linspace(-1, 1, 6)
    carr["w"] = np.arange(12, dtype="<f4").reshape(6, 2)
    earr = np.array([0, 1, 2, 1, 0], dtype="<i1")
    p = str(tmp_path_factory.mktemp("fz") / "typed.h5")
    write_hdf5(
        p,
        datasets={"obs": (carr, {}), "sky": (earr, {})},
        options={
            "obs": {"chunks": (4,), "deflate": 2},
            "sky": {"enum": {"a": 0, "b": 1, "c": 2}},
        },
    )
    return open(p, "rb").read()


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_hdf5_typed_fuzz(hdf5_typed_bytes, frac, flip_frac, flip_to):
    cut = int(len(hdf5_typed_bytes) * frac)
    _fuzz(read_hdf5, hdf5_typed_bytes, cut, int(cut * flip_frac), flip_to)


def test_hdf5_typed_fixture_still_reads(hdf5_typed_bytes):
    out = read_hdf5(hdf5_typed_bytes)
    assert out["datasets"]["obs"]["data"].dtype.names == ("t", "x", "w")
    assert out["datasets"]["sky"]["enum"] == {"a": 0, "b": 1, "c": 2}


@pytest.fixture(scope="module")
def hdf5_sohm_bytes(tmp_path_factory) -> bytes:
    p = str(tmp_path_factory.mktemp("fuzz") / "sohm.nc")
    write_hdf5(
        p,
        datasets={
            "a": (np.arange(8, dtype="<f8"), {}),
            "b": (np.arange(8, dtype="<f8") * 2, {}),
        },
        options={"a": {"sohm_dtype": True}, "b": {"sohm_dtype": True}},
        flavor="v2",
    )
    return open(p, "rb").read()


@settings(max_examples=120, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_hdf5_sohm_fuzz(hdf5_sohm_bytes, frac, flip_frac, flip_to):
    """Truncations/flips through the SOHM path (superblock extension,
    SMTB, fractal-heap IDs) fail cleanly, never with a raw IndexError."""
    cut = int(len(hdf5_sohm_bytes) * frac)
    _fuzz(read_hdf5, hdf5_sohm_bytes, cut, int(cut * flip_frac), flip_to)


def test_hdf5_sohm_fixture_still_reads(hdf5_sohm_bytes):
    out = read_hdf5(hdf5_sohm_bytes)
    assert out["datasets"]["a"]["data"].dtype == np.float64
    assert list(out["datasets"]["b"]["data"][:2]) == [0.0, 2.0]


@pytest.fixture(scope="module")
def protobuf_bytes(tmp_path_factory) -> bytes:
    from mini_project_204721_data_engineering_spark.sources.protobuf import write_protobuf_shard

    p = str(tmp_path_factory.mktemp("fuzz") / "recs.pb")
    schema = {
        1: ("doc_id", "int64"),
        2: ("text", "string"),
        3: ("flags", "int64", {"repeated": True}),
        4: ("meta", "message", {"schema": {1: ("lang", "string"), 2: ("ok", "bool")}}),
        5: ("delta", "sint64"),
    }
    rows = [
        {"doc_id": -i if i % 4 == 0 else i, "text": f"d{i} ✓", "flags": [i, 0],
         "meta": {"lang": "en", "ok": bool(i % 2)}, "delta": -i}
        for i in range(60)
    ]
    write_protobuf_shard(rows, p, schema)
    return open(p, "rb").read()


@settings(max_examples=150, deadline=2000, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(frac=st.floats(0.0, 1.0), flip_frac=st.floats(0.0, 1.0), flip_to=st.integers(0, 255))
def test_protobuf_fuzz(protobuf_bytes, frac, flip_frac, flip_to):
    """Truncations and byte flips of a delimited protobuf stream either
    decode (flips can land in string payloads / produce a still-valid
    stream) or raise the named ValueError/NotImplementedError — never a
    struct.error/IndexError from the wire walker.  UnicodeDecodeError
    wraps to ValueError by contract."""
    from mini_project_204721_data_engineering_spark.sources.protobuf import decode_stream

    schema = {
        1: ("doc_id", "int64"),
        2: ("text", "string"),
        3: ("flags", "int64", {"repeated": True}),
        4: ("meta", "message", {"schema": {1: ("lang", "string"), 2: ("ok", "bool")}}),
        5: ("delta", "sint64"),
    }
    cut = int(len(protobuf_bytes) * frac)
    _fuzz(lambda b: decode_stream(b, schema), protobuf_bytes, cut,
          int(cut * flip_frac), flip_to)


def test_protobuf_fixture_still_reads(protobuf_bytes):
    from mini_project_204721_data_engineering_spark.sources.protobuf import decode_stream

    schema = {1: ("doc_id", "int64"), 2: ("text", "string")}
    rows = decode_stream(protobuf_bytes, schema)
    assert len(rows) == 60 and rows[3]["text"].startswith("d3")
