"""The manifest-IO seam (sources/manifest_io.py): one tested interface
between the commit protocol and storage.  The contract under test —
``put_if_absent`` is atomic-exclusive (exactly one winner), plain
read/list/overwrite for everything else — plus the mock object store
(scheme ``mock:``) carrying the FULL stack: table commits, concurrent
appenders, a multi-table catalog transaction, and the streaming feed,
all addressed by a non-``file:`` scheme."""

from __future__ import annotations

import os
import threading
from collections import Counter

import pytest
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.sources.manifest_io import (
    LocalManifestIO,
    MockObjectStoreIO,
    manifest_io_for,
    register_manifest_io,
)
from mini_project_204721_data_engineering_spark.sources.snapshots import (
    read_snapshot,
    snapshot_append,
    snapshot_history,
)


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 5).alias("k")
    )


# -- contract ------------------------------------------------------------


@pytest.mark.parametrize("make", [LocalManifestIO, MockObjectStoreIO])
def test_put_if_absent_exclusive(make, tmp_path):
    io = make()
    prefix = "mock:" if make is MockObjectStoreIO else ""
    p = prefix + str(tmp_path / "t/_manifests/v0000000001.json")
    assert io.put_if_absent(p, b"winner")
    assert not io.put_if_absent(p, b"loser")
    assert io.read_bytes(p) == b"winner"  # loser wrote NOTHING
    t = prefix + str(tmp_path / "t")
    assert io.list_versions(t) == [1]
    io.write_bytes(
        prefix + str(tmp_path / "t/_manifests/staged-x.json"), b"{}"
    )
    assert io.list_versions(t) == [1]  # staged files are not versions


@pytest.mark.parametrize("make", [LocalManifestIO, MockObjectStoreIO])
def test_put_if_absent_thread_race(make, tmp_path):
    """Contract #1: of N concurrent callers exactly ONE wins and the
    object holds exactly the winner's payload."""
    io = make()
    prefix = "mock:" if make is MockObjectStoreIO else ""
    p = prefix + str(tmp_path / "t/_manifests/v0000000007.json")
    wins = []
    barrier = threading.Barrier(8)

    def claim(i):
        barrier.wait()
        if io.put_if_absent(p, b"payload-%d" % i):
            wins.append(i)

    threads = [threading.Thread(target=claim, args=(i,)) for i in range(8)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert len(wins) == 1
    assert io.read_bytes(p) == b"payload-%d" % wins[0]


@pytest.mark.parametrize("make", [LocalManifestIO, MockObjectStoreIO])
def test_put_if_absent_never_exposes_a_partial_manifest(make, tmp_path, monkeypatch):
    """Contract #2 against a racing reader: at every point the writer can
    pause (its write and its fsync), the target is absent or already
    whole — never the empty file a create-then-write claim exposes."""
    io = make()
    prefix = "mock:" if make is MockObjectStoreIO else ""
    p = prefix + str(tmp_path / "t/_manifests/v0000000001.json")
    payload = b'{"version": 1}'
    seen = []

    def reader_view():
        try:
            return io.read_bytes(p)
        except FileNotFoundError:
            return None

    def paused(real):
        def call(*args):
            seen.append(reader_view())  # what a reader sees right now
            return real(*args)

        return call

    monkeypatch.setattr(os, "write", paused(os.write))
    monkeypatch.setattr(os, "fsync", paused(os.fsync))
    assert io.put_if_absent(p, payload)
    monkeypatch.undo()
    assert len(seen) >= 2
    assert all(v in (None, payload) for v in seen), seen
    assert io.read_bytes(p) == payload
    assert io.list_versions(prefix + str(tmp_path / "t")) == [1]
    assert os.listdir(tmp_path / "t/_manifests") == ["v0000000001.json"]


def test_mock_store_race_injection(tmp_path):
    """The harness hook: an injected lost race at an exact key makes
    put_if_absent report False without writing — how the commit loop's
    retry path is pinned without real contention."""
    io = MockObjectStoreIO()
    p = "mock:" + str(tmp_path / "t/_manifests/v0000000003.json")
    MockObjectStoreIO.fail_puts_at = {"v0000000003.json": 2}
    try:
        assert not io.put_if_absent(p, b"a")
        assert not io.put_if_absent(p, b"b")
        assert io.put_if_absent(p, b"c")  # injections exhausted
        assert io.read_bytes(p) == b"c"
    finally:
        MockObjectStoreIO.fail_puts_at = {}


def test_resolution_and_registry(tmp_path, spark):
    assert isinstance(manifest_io_for(str(tmp_path)), LocalManifestIO)
    assert isinstance(manifest_io_for("file:" + str(tmp_path)), LocalManifestIO)
    assert isinstance(manifest_io_for("mock:/x"), MockObjectStoreIO)
    # unknown scheme without a session: a clear error, not a crash
    with pytest.raises(ValueError, match="register_manifest_io"):
        manifest_io_for("s3x://bucket/t")
    # a registration wins over every default
    sentinel = LocalManifestIO()
    register_manifest_io("s3x", sentinel)
    try:
        assert manifest_io_for("s3x://bucket/t") is sentinel
    finally:
        from mini_project_204721_data_engineering_spark.sources import manifest_io

        manifest_io._REGISTRY.pop("s3x", None)
    # with a session too, local paths resolve to the pure-Python impl:
    # listing and reading a manifest make no py4j call
    assert isinstance(manifest_io_for(str(tmp_path), spark), LocalManifestIO)
    assert isinstance(manifest_io_for("file:" + str(tmp_path), spark), LocalManifestIO)


def test_local_tables_never_use_the_hadoop_io(spark, tmp_path, monkeypatch):
    """Commits, filtered reads and rollups of a local table list and read
    their manifests in Python: no HadoopManifestIO method runs."""
    from mini_project_204721_data_engineering_spark.sources.manifest_io import (
        HadoopManifestIO,
    )
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        read_snapshot_where,
        snapshot_agg,
    )

    def refuse(*a, **kw):
        raise AssertionError("HadoopManifestIO used for a local table")

    for name in ("list_versions", "read_bytes", "write_bytes", "put_if_absent", "spark_path"):
        monkeypatch.setattr(HadoopManifestIO, name, refuse)
    for t in (str(tmp_path / "t"), "file:" + str(tmp_path / "f")):
        snapshot_append(_df(spark, 0, 20).coalesce(1), t, stats_cols=["id"])
        snapshot_append(_df(spark, 20, 30).coalesce(1), t)
        rows = read_snapshot_where(spark, t, "id >= 15").collect()
        assert sorted(r["id"] for r in rows) == list(range(15, 30))
        assert snapshot_agg(spark, t, {"n": "count(*)"}) == {"n": 30}


# -- the full stack over a non-file: scheme --------------------------------


def test_snapshot_commits_on_mock_store(spark, tmp_path):
    t = "mock:" + str(tmp_path / "tbl")
    snapshot_append(_df(spark, 0, 50).coalesce(2), t)
    snapshot_append(_df(spark, 50, 70).coalesce(1), t)
    got = Counter(
        (r["id"], r["k"]) for r in read_snapshot(spark, t).collect()
    )
    assert got == Counter(
        (r["id"], r["k"]) for r in _df(spark, 0, 70).collect()
    )
    hist = snapshot_history(spark, t)
    assert [h["version"] for h in hist] == [1, 2]
    # time travel still works through the seam
    v1 = Counter(
        (r["id"], r["k"])
        for r in read_snapshot(spark, t, version=1).collect()
    )
    assert v1 == Counter((r["id"], r["k"]) for r in _df(spark, 0, 50).collect())


def test_concurrent_appends_on_mock_store(spark, tmp_path):
    """The optimistic-concurrency loop rides the seam: 6 threads racing
    appends through conditional-put all land, versions stay linear."""
    t = "mock:" + str(tmp_path / "tbl")
    snapshot_append(_df(spark, 0, 10).coalesce(1), t)
    errs = []

    def append(i):
        try:
            snapshot_append(
                _df(spark, 10 * (i + 1), 10 * (i + 2)).coalesce(1), t
            )
        except Exception as e:  # pragma: no cover
            errs.append(e)

    threads = [threading.Thread(target=append, args=(i,)) for i in range(6)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs
    hist = snapshot_history(spark, t)
    assert [h["version"] for h in hist] == list(range(1, 8))
    assert read_snapshot(spark, t).count() == 70


def test_catalog_txn_on_mock_store(spark, tmp_path):
    """Multi-table atomic transaction with catalog AND tables all
    addressed by the mock scheme — the staged-manifest + catalog-commit
    flow never touches storage except through the seam."""
    from mini_project_204721_data_engineering_spark.sources.txn_catalog import (
        catalog_init,
        catalog_read,
        multi_table_txn,
    )

    root = "mock:" + str(tmp_path)
    cat = root + "/catalog"
    catalog_init(
        spark,
        cat,
        {"facts": root + "/facts", "lineage": root + "/lineage"},
    )
    lineage = spark.createDataFrame(
        [("batch-1", 50)], "batch string, rows int"
    )
    multi_table_txn(
        spark,
        cat,
        {
            "facts": {"op": "append", "df": _df(spark, 0, 50).coalesce(1)},
            "lineage": {"op": "append", "df": lineage.coalesce(1)},
        },
    )
    facts = catalog_read(spark, cat, "facts")
    lin = catalog_read(spark, cat, "lineage")
    assert facts.count() == 50
    assert lin.collect()[0]["batch"] == "batch-1"


def test_streaming_feed_on_mock_store(spark, tmp_path):
    """The driver-side (sessionless) streaming planner resolves the
    mock scheme through the registry — a non-file: table streams."""
    from mini_project_204721_data_engineering_spark.streaming.snapshot_source import (
        SnapshotFeedDataSource,
    )

    spark.dataSource.register(SnapshotFeedDataSource)
    t = "mock:" + str(tmp_path / "tbl")
    snapshot_append(_df(spark, 0, 30).coalesce(1), t)
    got = []

    def grab(batch_df, batch_id):
        got.extend(batch_df.collect())

    q = (
        spark.readStream.format("snapshot_feed")
        .option("table_dir", t)
        .load()
        .writeStream.foreachBatch(grab)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        snapshot_append(_df(spark, 30, 40).coalesce(1), t)
        q.processAllAvailable()
    finally:
        q.stop()
    assert Counter((r["id"], r["k"]) for r in got) == Counter(
        (r["id"], r["k"]) for r in _df(spark, 0, 40).collect()
    )
    assert {r["_change_type"] for r in got} == {"insert"}


def test_maintenance_on_mock_store(spark, tmp_path):
    """Retention and compaction are plain byte IO — they reach mock-
    store tables through the spark_path translation: compact packs the
    small commits, expire drops old manifests and sweeps unreferenced
    bytes, and the surviving snapshot still reads exactly."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        expire_snapshots,
        snapshot_compact,
    )

    t = "mock:" + str(tmp_path / "tbl")
    for i in range(4):
        snapshot_append(_df(spark, 10 * i, 10 * (i + 1)).coalesce(1), t)
    snapshot_compact(spark, t)
    res = expire_snapshots(
        spark, t, keep_last=1, orphan_min_age_seconds=0.0
    )
    assert res["expired_manifests"] == 4
    assert res["deleted_files"] >= 4  # the pre-compaction small files
    got = Counter(
        (r["id"], r["k"]) for r in read_snapshot(spark, t).collect()
    )
    assert got == Counter(
        (r["id"], r["k"]) for r in _df(spark, 0, 40).collect()
    )
    hist = snapshot_history(spark, t)
    assert len(hist) == 1 and hist[0]["op"] == "compact"


def test_dv_takedown_and_stream_on_mock_store(spark, tmp_path):
    """The two r14 features COMBINED on a non-file: scheme: a DV
    takedown commits against a mock-store table (sidecar bytes ride
    the spark_path translation) and the feed streams it as position-
    exact deletes."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_delete_where,
    )
    from mini_project_204721_data_engineering_spark.streaming.snapshot_source import (
        SnapshotFeedDataSource,
    )

    spark.dataSource.register(SnapshotFeedDataSource)
    t = "mock:" + str(tmp_path / "tbl")
    snapshot_append(_df(spark, 0, 30).coalesce(1), t)
    got = []

    def grab(batch_df, batch_id):
        got.extend(batch_df.collect())

    q = (
        spark.readStream.format("snapshot_feed")
        .option("table_dir", t)
        .load()
        .writeStream.foreachBatch(grab)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        res = snapshot_delete_where(spark, t, "k = 1", lazy="dv")
        assert res.get("row_filters"), "DV takedown recorded no filter"
        q.processAllAvailable()
    finally:
        q.stop()
    ins = Counter(
        (r["id"], r["k"]) for r in got if r["_change_type"] == "insert"
    )
    dels = Counter(
        (r["id"], r["k"]) for r in got if r["_change_type"] == "delete"
    )
    table = Counter(
        (r["id"], r["k"]) for r in read_snapshot(spark, t).collect()
    )
    assert +(ins - dels) == table
    assert sum(dels.values()) == 6  # k=1 hits in range(30) mod 5


# ---------------------------------------------------------------------------
# r15: the adapter certification kit — the shipped implementations pass it,
# a deliberately broken adapter fails it, and the mock's fault hook drains
# through it (injected lost races never break exclusivity).
# ---------------------------------------------------------------------------


def test_certify_local(tmp_path):
    from mini_project_204721_data_engineering_spark.sources.manifest_io import (
        LocalManifestIO,
        certify_manifest_io,
    )

    stats = certify_manifest_io(LocalManifestIO(), str(tmp_path / "s"))
    assert stats["rounds"] == 12 and stats["losers"] == 12 * 7


def test_certify_hadoop(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.manifest_io import (
        HadoopManifestIO,
        certify_manifest_io,
    )

    certify_manifest_io(
        HadoopManifestIO(spark), str(tmp_path / "s"), writers=4, rounds=6
    )


def test_certify_mock(tmp_path):
    from mini_project_204721_data_engineering_spark.sources.manifest_io import (
        MockObjectStoreIO,
        certify_manifest_io,
    )

    certify_manifest_io(MockObjectStoreIO(), "mock:" + str(tmp_path / "s"))


def test_certify_mock_with_injected_lost_races(tmp_path):
    """The mock's fault hook (injected lost races at an exact key) stays
    within contract: an injected failure is a LOSS, never a second
    winner — the kit certifies right through it."""
    from mini_project_204721_data_engineering_spark.sources.manifest_io import (
        MockObjectStoreIO,
        certify_manifest_io,
    )

    io = MockObjectStoreIO()
    MockObjectStoreIO.fail_puts_at = {"v0000000001.json": 3}
    try:
        certify_manifest_io(io, "mock:" + str(tmp_path / "s"), rounds=4)
    finally:
        MockObjectStoreIO.fail_puts_at = {}


def test_certify_catches_broken_adapter(tmp_path):
    """A blind-overwrite adapter (every caller 'wins') must fail the
    exclusivity clause by name — the kit is a real gate, not a smoke
    run."""
    import pytest

    from mini_project_204721_data_engineering_spark.sources.manifest_io import (
        LocalManifestIO,
        certify_manifest_io,
    )

    class BrokenIO(LocalManifestIO):
        def put_if_absent(self, path, payload):
            self.write_bytes(path, payload)
            return True  # check-then-create taken to its logical end

    with pytest.raises(AssertionError, match="atomic and exclusive"):
        certify_manifest_io(BrokenIO(), str(tmp_path / "s"), rounds=1)
