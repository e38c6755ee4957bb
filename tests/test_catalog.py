"""Catalog resolution: schema pinned once per (session, table, version).

Every ``load_table`` after the first for a table version must start no
Spark job and touch no session conf; a rewritten table or a new session
must resolve again.
"""

from __future__ import annotations

import sys
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.conf import RuntimeConfig
from pyspark.sql.types import TimestampNTZType, TimestampType

from conftest import SF_SMALL
from mini_project_204721_data_engineering_spark import catalog
from mini_project_204721_data_engineering_spark.catalog import _version_token, load_table

NANOS_KEY = "spark.sql.legacy.parquet.nanosAsLong"

# sub-micro remainders; the last is past 2^53 ns, where a float divide
# would round up into the next microsecond
NS_VALUES = [1_700_000_000_123_456_789, 1_600_000_000_000_000_001, 5, 1_700_000_000_000_000_999]


def _write_nanos_events(sf_dir) -> None:
    t = pa.table(
        {
            "event_id": pa.array(range(len(NS_VALUES)), pa.int64()),
            "ts": pa.array(NS_VALUES, pa.timestamp("ns")),
            "value": pa.array([0.5] * len(NS_VALUES)),
        }
    )
    pq.write_table(t, str(sf_dir / "events.parquet"))


def _micros_by_id(df) -> dict[int, int]:
    # NTZ → LTZ goes through the session time zone, which the tests pin to UTC
    rows = df.select("event_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("us")).collect()
    return {r["event_id"]: r["us"] for r in rows}


def _jobs_started(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_events_ntz_form_passes_through(spark):
    ev = load_table(spark, SF_SMALL, "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampNTZType)
    raw = pq.read_table(f"{SF_SMALL}/events.parquet", columns=["event_id", "ts"])
    want = dict(zip(raw["event_id"].to_pylist(), raw["ts"].cast(pa.int64()).to_pylist()))
    assert _micros_by_id(ev) == want


def test_events_nanos_form_rebuilds_micros(spark, tmp_path):
    _write_nanos_events(tmp_path)
    ev = load_table(spark, str(tmp_path), "events")
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    assert ev.columns == ["event_id", "ts", "value"]
    # integer truncation of the raw nanos, exactly as before
    assert _micros_by_id(ev) == {i: ns // 1000 for i, ns in enumerate(NS_VALUES)}


def test_concurrent_events_loads_never_touch_session_conf(spark, tmp_path, monkeypatch):
    _write_nanos_events(tmp_path)
    before = spark.conf.get(NANOS_KEY, None)
    touched: list[str] = []
    real_set, real_unset = RuntimeConfig.set, RuntimeConfig.unset

    def spy_set(self, key, value):
        touched.append(key)
        real_set(self, key, value)

    def spy_unset(self, key):
        touched.append(key)
        real_unset(self, key)

    monkeypatch.setattr(RuntimeConfig, "set", spy_set)
    monkeypatch.setattr(RuntimeConfig, "unset", spy_unset)
    errors: list[BaseException] = []
    start = threading.Barrier(2)

    def worker():
        try:
            start.wait()
            for _ in range(20):
                for sf in (str(tmp_path), SF_SMALL):
                    load_table(spark, sf, "events").schema
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=worker) for _ in range(2)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # interleave the two loaders finely
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert touched == []  # first resolution included: the nanos file was new
    assert spark.conf.get(NANOS_KEY, None) == before


def test_rewritten_table_returns_new_schema_and_rows(spark, tmp_path):
    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_totalprice": [1.0, 2.0]}), path)
    first = load_table(spark, str(tmp_path), "orders")
    assert first.columns == ["o_orderkey", "o_totalprice"]
    assert first.count() == 2

    pq.write_table(
        pa.table({"o_orderkey": [1, 2, 3], "o_totalprice": [1.0, 2.0, 3.0], "o_note": ["a", "b", "c"]}),
        path,
    )
    second = load_table(spark, str(tmp_path), "orders")
    assert second.columns == ["o_orderkey", "o_totalprice", "o_note"]
    assert sorted(tuple(r) for r in second.collect()) == [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")]


def test_table_rewritten_during_a_load_is_read_with_the_files_it_lists(spark, tmp_path, monkeypatch):
    """The table changes between the version token and the read's file
    listing (here: inside the schema lookup, which runs between them).
    The returned read must carry the schema and version digest of the
    files it lists, not of the version the token named."""
    path = str(tmp_path / "orders.parquet")
    pq.write_table(pa.table({"o_orderkey": [1, 2], "o_totalprice": [1.0, 2.0]}), path)
    load_table(spark, str(tmp_path), "orders")
    real, swapped = catalog._pinned, []

    def pinned_then_swap(*args):
        out = real(*args)
        if not swapped:
            swapped.append(True)
            pq.write_table(
                pa.table({"o_orderkey": [1, 2, 3], "o_totalprice": [1.0, 2.0, 3.0], "o_note": ["a", "b", "c"]}),
                path,
            )
        return out

    monkeypatch.setattr(catalog, "_pinned", pinned_then_swap)
    df = load_table(spark, str(tmp_path), "orders")
    assert swapped
    assert df.columns == ["o_orderkey", "o_totalprice", "o_note"]
    assert sorted(tuple(r) for r in df.collect()) == [(1, 1.0, "a"), (2, 2.0, "b"), (3, 3.0, "c")]
    fresh = load_table(spark, str(tmp_path), "orders")
    assert catalog._versions(df._jdf) == catalog._versions(fresh._jdf)


def test_directory_token_tracks_part_files_only(tmp_path):
    d = tmp_path / "t.parquet"
    d.mkdir()
    pq.write_table(pa.table({"k": [1]}), str(d / "part-0.parquet"))
    token = _version_token(str(d))
    (d / "_SUCCESS").write_text("")
    (d / ".part-0.parquet.crc").write_text("x")
    assert _version_token(str(d)) == token
    pq.write_table(pa.table({"k": [2]}), str(d / "part-1.parquet"))
    assert _version_token(str(d)) != token


def test_second_load_starts_no_spark_job(spark, tmp_path):
    pq.write_table(pa.table({"n_nationkey": [0, 1], "n_name": ["A", "B"]}), str(tmp_path / "nation.parquet"))
    sf = str(tmp_path)
    assert _jobs_started(spark, "catalog-first-load", lambda: load_table(spark, sf, "nation")) >= 1
    assert _jobs_started(spark, "catalog-second-load", lambda: load_table(spark, sf, "nation")) == 0


def test_new_session_resolves_again(spark):
    load_table(spark, SF_SMALL, "events")
    other = spark.newSession()
    # a conf that changes inference: a cache shared across sessions would
    # hand this session the first one's NTZ schema
    other.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    ev = None

    def load():
        nonlocal ev
        ev = load_table(other, SF_SMALL, "events")

    assert _jobs_started(spark, "catalog-new-session", load) >= 1
    assert isinstance(ev.schema["ts"].dataType, TimestampType)
    assert isinstance(load_table(spark, SF_SMALL, "events").schema["ts"].dataType, TimestampNTZType)
    assert ev.count() == load_table(spark, SF_SMALL, "events").count()


def test_unknown_table_name_raises_keyerror(spark):
    """Only the catalog's tables load.  ``embeddings`` is still a file in
    the driver's data directory, but no query reads it, so it is not one
    of ``TABLES``."""
    assert "embeddings" not in catalog.TABLES
    with pytest.raises(KeyError, match="unknown table 'embeddings'"):
        load_table(spark, SF_SMALL, "embeddings")
