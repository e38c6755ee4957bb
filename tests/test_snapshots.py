"""Manifest-based snapshot log (sources/snapshots.py): atomic commits,
snapshot isolation, time travel, copy-on-write delete, retention GC."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.sources.snapshots import (
    _list_versions,
    _read_manifest,
    expire_snapshots,
    read_snapshot,
    snapshot_append,
    snapshot_apply_filters,
    snapshot_compact,
    snapshot_delete_where,
    snapshot_history,
    snapshot_merge_into,
    snapshot_overwrite,
    snapshot_replace_where,
    snapshot_txn_append,
)


def _df(spark, lo, hi, tag):
    return spark.range(lo, hi).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def _ids(df):
    return {r["id"] for r in df.collect()}


def test_append_read_history(spark, tmp_path):
    t = str(tmp_path / "t")
    m1 = snapshot_append(_df(spark, 0, 10, "a"), t)
    m2 = snapshot_append(_df(spark, 10, 20, "b"), t)
    assert (m1["version"], m2["version"]) == (1, 2)
    assert _ids(read_snapshot(spark, t)) == set(range(20))
    assert _ids(read_snapshot(spark, t, version=1)) == set(range(10))
    hist = snapshot_history(spark, t)
    assert [h["op"] for h in hist] == ["append", "append"]
    assert hist[1]["n_files"] > hist[0]["n_files"]  # file lists compose


def test_overwrite_keeps_time_travel_and_changes_schema(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "a"), t)
    m1_ts = snapshot_history(spark, t)[0]["ts"]
    wide = spark.range(5).select("id", F.lit(1).alias("extra"))
    snapshot_overwrite(wide, t)
    assert read_snapshot(spark, t).columns == ["id", "extra"]
    assert _ids(read_snapshot(spark, t, version=1)) == set(range(10))
    assert _ids(read_snapshot(spark, t, as_of=m1_ts)) == set(range(10))


def test_append_schema_mismatch_refused(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    with pytest.raises(ValueError, match="schema"):
        snapshot_append(spark.range(3).select("id"), t)


def test_reader_snapshot_isolation(spark, tmp_path):
    """A plan resolved before later commits keeps reading ITS files —
    commits only add manifests and new data dirs, never touch old
    bytes."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "a"), t)
    pinned = read_snapshot(spark, t)  # resolved at v1
    snapshot_append(_df(spark, 10, 1000, "b"), t)
    snapshot_overwrite(_df(spark, 0, 1, "c"), t)
    assert _ids(pinned) == set(range(10))


def test_delete_where_rewrites_only_hit_files(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "a").repartition(1), t)
    snapshot_append(_df(spark, 10, 20, "b").repartition(1), t)
    before = set(_read_manifest(spark, t, 2)["files"])
    m = snapshot_delete_where(spark, t, "id = 15")
    after = set(m["files"])
    assert m["meta"]["rewritten_files"] == 1
    # the file holding 0-9 carries over BY REFERENCE; the hit file is out
    assert len(before & after) == 1
    assert _ids(read_snapshot(spark, t)) == set(range(20)) - {15}
    # pre-delete snapshot still time-travels
    assert _ids(read_snapshot(spark, t, version=2)) == set(range(20))


def test_delete_where_no_match_is_noop_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    m = snapshot_delete_where(spark, t, "id = 999")
    assert m["version"] == 1  # tip unchanged, no new snapshot
    assert _ids(read_snapshot(spark, t)) == set(range(5))


def test_commit_race_retries_onto_new_tip(spark, tmp_path):
    """Claim the next version out from under an append (what a
    concurrent writer does): the append must land at the version AFTER
    the interloper, composing with its files — no lost update."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    # interloper: hand-write v2 referencing v1's files plus nothing new
    v1 = _read_manifest(spark, t, 1)
    os.makedirs(os.path.join(t, "_manifests"), exist_ok=True)
    interloper = dict(v1, version=2, parent=1, op="append", meta={})
    with open(os.path.join(t, "_manifests", "v%010d.json" % 2), "w") as fh:
        json.dump(interloper, fh)
    m = snapshot_append(_df(spark, 5, 10, "b"), t)
    assert m["version"] == 3 and m["parent"] == 2
    assert _ids(read_snapshot(spark, t)) == set(range(10))


def test_crashed_commit_invisible_then_gc(spark, tmp_path):
    """Data files with no manifest (a crash between write and commit)
    are invisible to readers and swept by expire_snapshots."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    # simulate the crash: data written, manifest never created
    orphan_dir = os.path.join(t, "data", "deadbeefcrash")
    _df(spark, 100, 200, "crash").write.parquet(orphan_dir)
    assert _ids(read_snapshot(spark, t)) == set(range(5))
    # the DEFAULT sweep presumes fresh unreferenced bytes are an
    # in-flight commit and leaves them (age guard) ...
    stats = expire_snapshots(spark, t, keep_last=1)
    assert stats["deleted_files"] == 0
    assert os.path.exists(orphan_dir)
    # ... an aged-out sweep (here: zero grace for the test) collects them
    stats = expire_snapshots(spark, t, keep_last=1, orphan_min_age_seconds=0)
    assert stats["deleted_files"] > 0  # the orphans
    assert not os.path.exists(orphan_dir)
    assert _ids(read_snapshot(spark, t)) == set(range(5))


def test_expire_drops_old_versions_keeps_live_bytes(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "a"), t)
    snapshot_overwrite(_df(spark, 50, 60, "b"), t)
    snapshot_append(_df(spark, 60, 70, "c"), t)
    stats = expire_snapshots(spark, t, keep_last=2, orphan_min_age_seconds=0)
    assert stats["expired_manifests"] == 1
    assert stats["deleted_files"] > 0  # v1's bytes were only reachable from v1
    assert _list_versions(spark, t) == [2, 3]
    assert _ids(read_snapshot(spark, t)) == set(range(50, 70))
    assert _ids(read_snapshot(spark, t, version=2)) == set(range(50, 60))
    with pytest.raises(ValueError, match="not in log"):
        read_snapshot(spark, t, version=1)


def test_read_empty_table_and_missing_version_errors(spark, tmp_path):
    t = str(tmp_path / "empty")
    with pytest.raises(ValueError, match="no snapshots"):
        read_snapshot(spark, t)
    snapshot_append(_df(spark, 0, 3, "a"), t)
    with pytest.raises(ValueError, match="no snapshot at or before"):
        read_snapshot(spark, t, as_of=0.0)
    with pytest.raises(ValueError, match="version OR as_of"):
        read_snapshot(spark, t, version=1, as_of=1.0)


def test_delete_everything_yields_empty_snapshot(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a").repartition(1), t)
    snapshot_delete_where(spark, t, "id >= 0")
    out = read_snapshot(spark, t)
    assert out.count() == 0
    assert out.columns == ["id", "tag"]


def test_txn_append_idempotent_replay(spark, tmp_path):
    t = str(tmp_path / "t")
    assert snapshot_txn_append(_df(spark, 0, 5, "a"), t, "appX", 0) is not None
    assert snapshot_txn_append(_df(spark, 5, 10, "a"), t, "appX", 1) is not None
    # replay of batch 1 and of an older batch: both no-ops
    assert snapshot_txn_append(_df(spark, 5, 10, "a"), t, "appX", 1) is None
    assert snapshot_txn_append(_df(spark, 0, 5, "a"), t, "appX", 0) is None
    assert _ids(read_snapshot(spark, t)) == set(range(10))
    assert _list_versions(spark, t) == [1, 2]


def test_txn_watermark_survives_interleaved_commits_and_apps(spark, tmp_path):
    """A plain append between stream batches must not amnesia the
    stream's progress; two apps track independently."""
    t = str(tmp_path / "t")
    snapshot_txn_append(_df(spark, 0, 5, "a"), t, "appX", 7)
    snapshot_append(_df(spark, 100, 105, "plain"), t)  # unrelated writer
    snapshot_txn_append(_df(spark, 5, 10, "a"), t, "appY", 7)  # other app
    # appX batch 7 replay AFTER both: still skipped
    assert snapshot_txn_append(_df(spark, 0, 5, "a"), t, "appX", 7) is None
    assert snapshot_txn_append(_df(spark, 5, 10, "a"), t, "appY", 7) is None
    assert snapshot_txn_append(_df(spark, 10, 15, "a"), t, "appX", 8) is not None
    assert _ids(read_snapshot(spark, t)) == set(range(15)) | set(range(100, 105))


def test_stream_sink_exactly_once_across_checkpoint_loss(spark, tmp_path):
    """End-to-end: a file stream lands via foreachBatch; a FULL replay
    with a fresh checkpoint (lost-checkpoint disaster) leaves the table
    state unchanged — idempotence lives in the txn watermark, not the
    checkpoint."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_stream_sink

    src = str(tmp_path / "src")
    t = str(tmp_path / "t")
    _df(spark, 0, 50, "s").write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run(chk):
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .writeStream.foreachBatch(snapshot_stream_sink(t, "curated"))
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run(str(tmp_path / "chk1"))
    n_versions = len(_list_versions(spark, t))
    assert _ids(read_snapshot(spark, t)) == set(range(50))
    run(str(tmp_path / "chk2"))  # full replay, fresh checkpoint
    assert _ids(read_snapshot(spark, t)) == set(range(50))
    assert len(_list_versions(spark, t)) == n_versions  # zero new commits


def test_merge_schema_additive_evolution(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    wider = spark.range(5, 8).select(
        "id", F.lit("b").alias("tag"), F.lit(3.5).alias("score")
    )
    # without the flag: refused; with it: additive merge
    with pytest.raises(ValueError, match="merge_schema"):
        snapshot_append(wider, t)
    snapshot_append(wider, t, merge_schema=True)
    out = read_snapshot(spark, t)
    assert out.columns == ["id", "tag", "score"]
    rows = {r["id"]: r["score"] for r in out.collect()}
    assert rows[0] is None and rows[6] == 3.5  # old files read NULL
    # a TYPE conflict on a shared column still refuses
    conflict = spark.range(1).select(
        "id", F.lit(1).alias("tag")  # tag was string
    )
    with pytest.raises(ValueError, match="tag"):
        snapshot_append(conflict, t, merge_schema=True)


def test_merge_schema_type_widening_both_directions(spark, tmp_path):
    """Lossless widening under the manifest-pinned read: int→long and
    float→double merge to the WIDER type in either direction; old
    narrow files upcast at scan time (no rewrite), time travel still
    reads the pre-widening snapshot narrow."""
    t = str(tmp_path / "t")
    narrow = spark.range(0, 5).select(
        F.col("id").cast("int").alias("k"),
        F.col("id").cast("float").alias("v"),
        F.col("id").cast("smallint").alias("s"),
    )
    snapshot_append(narrow, t)
    before_files = set(_read_manifest(spark, t, 1)["files"])
    wide = spark.range(5, 8).select(
        F.col("id").cast("long").alias("k"),
        F.col("id").cast("double").alias("v"),
        F.col("id").cast("int").alias("s"),
    )
    m = snapshot_append(wide, t, merge_schema=True)
    assert "k:bigint" in m["schema"] and "v:double" in m["schema"]
    assert "s:int" in m["schema"]
    assert before_files <= set(m["files"])  # no rewrite of narrow files
    out = read_snapshot(spark, t)
    assert dict(out.dtypes) == {"k": "bigint", "v": "double", "s": "int"}
    assert {r["k"] for r in out.collect()} == set(range(8))
    # the narrower direction: appending narrow into the widened table
    # keeps the wide manifest schema (the new narrow FILE upcasts too)
    m2 = snapshot_append(narrow.filter("k >= 3"), t, merge_schema=True)
    assert "k:bigint" in m2["schema"]
    assert read_snapshot(spark, t).count() == 10
    # time travel: v1 still reads with the original narrow schema
    assert dict(read_snapshot(spark, t, version=1).dtypes)["k"] == "int"


def test_merge_schema_decimal_precision_widening_and_refusals(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(
        spark.range(3).select(F.col("id").cast("decimal(5,2)").alias("m")), t
    )
    m = snapshot_append(
        spark.range(3, 5).select(F.col("id").cast("decimal(10,2)").alias("m")),
        t, merge_schema=True,
    )
    assert "decimal(10,2)" in m["schema"]
    # VALUE-verified (count() alone never decodes the column): the
    # narrow decimal(5,2) files must upcast correctly at scan time
    from decimal import Decimal

    got = sorted(r["m"] for r in read_snapshot(spark, t).collect())
    assert got == [Decimal(f"{i}.00") for i in range(5)]
    # scale change is NOT a widening
    with pytest.raises(ValueError, match="not losslessly widenable"):
        snapshot_append(
            spark.range(1).select(F.col("id").cast("decimal(10,3)").alias("m")),
            t, merge_schema=True,
        )
    # neither is int -> double (semantic change across families)
    t2 = str(tmp_path / "t2")
    snapshot_append(spark.range(3).select(F.col("id").cast("int").alias("x")), t2)
    with pytest.raises(ValueError, match="not losslessly widenable"):
        snapshot_append(
            spark.range(1).select(F.col("id").cast("double").alias("x")),
            t2, merge_schema=True,
        )


def test_compact_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """OPTIMIZE ZORDER composition: compacting with zorder_by lays the
    packed files along the Morton curve of (a, b) and records manifest
    stats for both — a range prune on EITHER column then plans fewer
    files than the compact produced, and the data is untouched."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_compact,
    )

    t = str(tmp_path / "t")
    for i in range(8):  # 8 small unclustered commits
        df = spark.range(i * 250, (i + 1) * 250).select(
            F.col("id"),
            F.pmod(F.xxhash64("id", F.lit(1)), F.lit(1000)).alias("a"),
            F.pmod(F.xxhash64("id", F.lit(2)), F.lit(1000)).alias("b"),
        ).repartition(1)
        snapshot_append(df, t)
    before = read_snapshot(spark, t)
    want = {(r["id"], r["a"], r["b"]) for r in before.collect()}

    m = snapshot_compact(spark, t, target_file_bytes=8 * 1024,
                         small_file_bytes=1 << 20, zorder_by=["a", "b"])
    assert m["op"] == "compact" and m["meta"]["zorder_by"] == ["a", "b"]
    n_files = len(m["files"])
    assert n_files >= 4  # enough segments for pruning to mean something
    got = read_snapshot(spark, t)
    assert {(r["id"], r["a"], r["b"]) for r in got.collect()} == want

    # prune on a: files are curve segments with small (a, b) boxes
    pruned_a = read_snapshot(spark, t, prune={"a": (0, 240)})
    assert 0 < len(pruned_a.inputFiles()) < n_files
    assert {r["id"] for r in pruned_a.filter("a <= 240").collect()} == {
        k for k, a, _ in want if a <= 240
    }
    # and on b — the column a plain sort could never prune
    pruned_b = read_snapshot(spark, t, prune={"b": (760, 1000)})
    assert 0 < len(pruned_b.inputFiles()) < n_files
    assert {r["id"] for r in pruned_b.filter("b >= 760").collect()} == {
        k for k, _, b in want if b >= 760
    }


def test_stats_pruning_skips_disjoint_files(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 100, "a").repartition(1), t, stats_cols=["id"])
    snapshot_append(_df(spark, 100, 200, "b").repartition(1), t)  # sticky cols
    snapshot_append(_df(spark, 200, 300, "c").repartition(1), t)
    full = read_snapshot(spark, t)
    pruned = read_snapshot(spark, t, prune={"id": (120, 150)})
    assert len(pruned.inputFiles()) < len(full.inputFiles())
    assert len(pruned.inputFiles()) == 1  # only the 100-199 file survives
    # pruning never changes answers: real filter on top of either is equal
    assert _ids(pruned.filter("id BETWEEN 120 AND 150")) == set(range(120, 151))
    # open-ended bounds
    assert len(read_snapshot(spark, t, prune={"id": (250, None)}).inputFiles()) == 1


def test_stats_survive_delete_and_unstatted_files_kept(spark, tmp_path):
    t = str(tmp_path / "t")
    # first commit BEFORE stats existed: its file has no stats → never pruned
    snapshot_append(_df(spark, 1000, 1100, "old").repartition(1), t)
    snapshot_append(_df(spark, 0, 100, "a").repartition(1), t, stats_cols=["id"])
    snapshot_append(_df(spark, 100, 200, "b").repartition(1), t)
    snapshot_delete_where(spark, t, "id = 50")  # rewrites only file 'a'
    pruned = read_snapshot(spark, t, prune={"id": (150, 160)})
    # kept: the unstatted old file (safety) + the 100-199 file; the
    # REWRITTEN 0-99 survivor file got fresh stats and prunes away
    assert len(pruned.inputFiles()) == 2
    assert _ids(pruned.filter("id BETWEEN 150 AND 160")) == set(range(150, 161))
    assert _ids(read_snapshot(spark, t)) == (
        set(range(200)) | set(range(1000, 1100))
    ) - {50}


def test_merge_into_cow_update_insert(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_merge_into

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "old").repartition(1), t)
    snapshot_append(_df(spark, 10, 20, "old").repartition(1), t)
    before = set(_read_manifest(spark, t, 2)["files"])
    src = _df(spark, 15, 25, "new")  # 15-19 match file 2; 20-24 insert
    m = snapshot_merge_into(src, t, ["id"])
    assert m["meta"]["rewritten_files"] == 1
    assert len(before & set(m["files"])) == 1  # file 1 carried by reference
    got = {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()}
    assert got == {**{i: "old" for i in range(15)}, **{i: "new" for i in range(15, 25)}}
    # time travel to the pre-merge state
    assert {r["tag"] for r in read_snapshot(spark, t, version=2).collect()} == {"old"}


def test_merge_into_delete_and_ignore_modes(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_merge_into

    t = str(tmp_path / "t")
    snapshot_merge_into(_df(spark, 0, 10, "a"), t, ["id"])  # fresh = inserts
    assert _ids(read_snapshot(spark, t)) == set(range(10))
    # matched delete, unmatched ignored
    snapshot_merge_into(
        _df(spark, 5, 15, "x"), t, ["id"],
        when_matched="delete", when_not_matched="ignore",
    )
    assert _ids(read_snapshot(spark, t)) == set(range(5))
    # matched ignore keeps target values, unmatched inserts
    snapshot_merge_into(
        _df(spark, 3, 7, "y"), t, ["id"],
        when_matched="ignore", when_not_matched="insert",
    )
    got = {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()}
    assert got == {0: "a", 1: "a", 2: "a", 3: "a", 4: "a", 5: "y", 6: "y"}


def test_merge_into_duplicate_source_keys_raise_in_plan(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_merge_into

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    dup = _df(spark, 1, 3, "x").unionByName(_df(spark, 2, 4, "y"))
    with pytest.raises(Exception, match="duplicate key"):
        snapshot_merge_into(dup, t, ["id"])
    # the failed merge committed nothing
    assert _ids(read_snapshot(spark, t)) == set(range(5))
    assert _list_versions(spark, t) == [1]


def test_merge_into_aborts_on_concurrent_commit(spark, tmp_path):
    """An interloper landing between the merge's read and its commit
    must abort the merge — its rows carry keys the merge never saw."""
    from mini_project_204721_data_engineering_spark.sources import snapshots as S

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    real_commit = S._commit

    def racing_commit(spark_, table_dir_, op, files_fn, *a, **kw):
        # land a concurrent append the first time the merge tries to
        # commit, then let the real loop proceed — files_fn must detect
        if op == "merge" and not getattr(racing_commit, "raced", False):
            racing_commit.raced = True
            snapshot_append(_df(spark, 100, 105, "race"), t)
        return real_commit(spark_, table_dir_, op, files_fn, *a, **kw)

    S._commit = racing_commit
    try:
        with pytest.raises(RuntimeError, match="concurrent commit during snapshot_merge_into"):
            S.snapshot_merge_into(_df(spark, 0, 3, "m"), t, ["id"])
    finally:
        S._commit = real_commit
    # the interloper's append landed; the merge did not
    assert _ids(read_snapshot(spark, t)) == set(range(5)) | set(range(100, 105))


def test_compact_packs_small_files_preserving_content(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_compact

    t = str(tmp_path / "t")
    for i in range(6):  # 6 micro-batch-sized commits = 6 small files
        snapshot_txn_append(
            _df(spark, i * 10, (i + 1) * 10, "s").repartition(1), t, "app", i
        )
    n_before = len(_read_manifest(spark, t, 6)["files"])
    m = snapshot_compact(spark, t, target_file_bytes=1 << 30)
    assert m["meta"]["compacted_files"] == n_before
    assert m["meta"]["produced_files"] < n_before
    assert _ids(read_snapshot(spark, t)) == set(range(60))
    # pre-compaction snapshot still readable (old files not GC'd yet)
    assert _ids(read_snapshot(spark, t, version=6)) == set(range(60))
    # a second compaction finds nothing worth packing (single big file)
    assert snapshot_compact(spark, t, target_file_bytes=1 << 30)["version"] == m["version"]


def test_replace_where_atomic_slice_reload(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_replace_where

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "old").repartition(1), t)
    snapshot_append(_df(spark, 10, 20, "old").repartition(1), t)
    before = set(_read_manifest(spark, t, 2)["files"])
    # re-land the 10-14 slice with corrected rows (and one fewer row)
    fixed = _df(spark, 10, 14, "fixed")
    m = snapshot_replace_where(fixed, t, "id >= 10 AND id < 15")
    assert m["meta"]["rewritten_files"] == 1
    assert len(before & set(m["files"])) == 1  # 0-9 file untouched
    got = {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()}
    assert got == {
        **{i: "old" for i in range(10)},
        **{i: "fixed" for i in range(10, 14)},
        **{i: "old" for i in range(15, 20)},
    }
    # idempotent re-land: same result, one more version
    snapshot_replace_where(fixed, t, "id >= 10 AND id < 15")
    assert {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()} == got


def test_replace_where_guards_predicate_violating_rows(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_replace_where

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "old"), t)
    with pytest.raises(Exception, match="violates the predicate"):
        snapshot_replace_where(_df(spark, 3, 8, "x"), t, "id < 5")
    # nothing committed
    assert _list_versions(spark, t) == [1]
    assert {r["tag"] for r in read_snapshot(spark, t).collect()} == {"old"}


def test_snapshot_changes_between_versions(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_merge_into,
    )

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)  # v1
    snapshot_merge_into(_df(spark, 3, 8, "b"), t, ["id"])  # v2: 3-4 changed, 5-7 added
    snapshot_delete_where(spark, t, "id = 0")  # v3: 0 removed
    full = {
        r["id"]: r["diff_status"]
        for r in snapshot_changes(spark, t, ["id"], 1, confined=False).collect()
    }
    assert full == {
        0: "removed", 1: "unchanged", 2: "unchanged",
        3: "changed", 4: "changed", 5: "added", 6: "added", 7: "added",
    }
    # confined fast path (opt-in): every touched key gets the SAME
    # verdict; rows in carried (byte-identical) files are unchanged by
    # construction and simply not emitted
    conf = {
        r["id"]: r["diff_status"]
        for r in snapshot_changes(spark, t, ["id"], 1, confined=True).collect()
    }
    assert {k: s for k, s in conf.items() if s != "unchanged"} == {
        k: s for k, s in full.items() if s != "unchanged"
    }
    assert all(full[k] == "unchanged" for k, s in conf.items() if s == "unchanged")
    # explicit window v1→v2 excludes the later delete
    ch12 = {
        r["id"]: r["diff_status"]
        for r in snapshot_changes(spark, t, ["id"], 1, 2, confined=False).collect()
    }
    assert ch12[0] == "unchanged" and ch12[5] == "added"


def test_file_changes_confined_to_rewritten_files(spark, tmp_path):
    """The CoW delta primitive: a one-file delete out of 10 files prices
    as 2 files (the hit file + its survivor rewrite), and the confined
    change feed's scan touches ONLY those files."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_changes,
        snapshot_file_changes,
    )

    t = str(tmp_path / "t")
    for i in range(10):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10, "a").repartition(1), t)
    snapshot_delete_where(spark, t, "id = 55")  # v11 rewrites 1 of 10 files
    removed, added, info = snapshot_file_changes(spark, t, 10, 11)
    assert len(info["removed_files"]) == 1 and len(info["added_files"]) == 1
    assert info["all_compact"] is False
    assert _ids(removed) == set(range(50, 60))
    assert _ids(added) == set(range(50, 60)) - {55}
    d = snapshot_changes(spark, t, ["id"], 10, 11, confined=True)
    # plan-level confinement: 2 files scanned, not 11
    assert len(d.inputFiles()) == 2
    ch = {r["id"]: r["diff_status"] for r in d.collect()}
    assert ch == {55: "removed", **{i: "unchanged" for i in range(50, 60) if i != 55}}
    # the full (audit) form still reports every untouched key
    audit = snapshot_changes(spark, t, ["id"], 10, 11, confined=False)
    assert audit.filter("diff_status = 'unchanged'").count() == 99


def test_file_changes_reads_endpoint_manifests_plus_early_exit(spark, tmp_path):
    """The driver-cost contract: a 20-commit window whose FIRST commit
    is not a compaction reads the two endpoint manifests + ONE
    intermediate (early exit), never the whole window; an all-compact
    probe is answered without reading data bytes."""
    import mini_project_204721_data_engineering_spark.sources.snapshots as snap

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_file_changes,
    )

    t = str(tmp_path / "t")
    for i in range(21):
        snapshot_append(_df(spark, i * 5, (i + 1) * 5, "a").repartition(1), t)

    real = snap._read_manifest
    calls = []

    def counting(spark_, table_dir, version):
        calls.append(version)
        return real(spark_, table_dir, version)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snap, "_read_manifest", counting)
        _, _, info = snapshot_file_changes(spark, t, 1, 21)
    assert info["all_compact"] is False
    # endpoints (1, 21) + the first intermediate (2) — NOT all 20
    assert sorted(calls) == [1, 2, 21]


def test_file_changes_window_validation(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_file_changes,
    )

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    snapshot_append(_df(spark, 5, 9, "a"), t)
    with pytest.raises(ValueError, match="not in log"):
        snapshot_file_changes(spark, t, 1, 9)
    with pytest.raises(ValueError, match="after to_version"):
        snapshot_file_changes(spark, t, 2, 1)
    # identical window: both sides None
    removed, added, info = snapshot_file_changes(spark, t, 2, 2)
    assert removed is None and added is None and info["all_compact"] is True
    # pure append window: removed None, added holds exactly the new rows
    removed, added, info = snapshot_file_changes(spark, t, 1, 2)
    assert removed is None and _ids(added) == {5, 6, 7, 8}
    assert info["all_compact"] is False


def test_truly_concurrent_appenders_lose_nothing(spark, tmp_path):
    """8 threads x 3 appends racing the SAME table: every commit lands
    (24 versions), every row present exactly once — the optimistic loop
    under real contention, not a hand-planted interloper."""
    from concurrent.futures import ThreadPoolExecutor

    t = str(tmp_path / "t")

    def appender(w):
        for b in range(3):
            lo = (w * 3 + b) * 100
            snapshot_append(_df(spark, lo, lo + 100, f"w{w}"), t)

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(appender, range(8)))
    assert len(_list_versions(spark, t)) == 24
    out = read_snapshot(spark, t)
    assert out.count() == 2400  # exactly once — no lost update, no dup
    assert _ids(out) == set(range(2400))


def test_zorder_plus_stats_prune_synergy(spark, tmp_path):
    """Layout and manifest stats compose: z-ordered files give tight
    per-file ranges on BOTH dims, so a 2-D range read prunes most files
    from the manifest alone."""
    from mini_project_204721_data_engineering_spark.sources.sink import zorder_layout

    t = str(tmp_path / "t")
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("long").alias("y")
    )
    z = zorder_layout(df, ["x", "y"], n_files=16)
    snapshot_append(z, t, stats_cols=["x", "y"])
    full = read_snapshot(spark, t)
    pruned = read_snapshot(spark, t, prune={"x": (0, 7), "y": (0, 7)})
    assert len(pruned.inputFiles()) <= len(full.inputFiles()) // 4
    assert (
        pruned.filter("x <= 7 AND y <= 7").count()
        == full.filter("x <= 7 AND y <= 7").count()
        == 64
    )


def test_incremental_read_append_only_cursor(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_incremental_read,
    )

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "a"), t)
    df, cur = snapshot_incremental_read(spark, t, 0)  # from the beginning
    assert cur == 1 and _ids(df) == set(range(10))
    # nothing new at the cursor
    df2, cur2 = snapshot_incremental_read(spark, t, cur)
    assert df2 is None and cur2 == 1
    snapshot_append(_df(spark, 10, 20, "b"), t)
    snapshot_append(_df(spark, 20, 30, "c"), t)
    df3, cur3 = snapshot_incremental_read(spark, t, cur)
    assert cur3 == 3 and _ids(df3) == set(range(10, 30))  # only the delta


def test_incremental_read_refuses_non_append_window(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_incremental_read,
    )

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "a").repartition(1), t)
    snapshot_delete_where(spark, t, "id = 3")  # rewrites the file
    with pytest.raises(ValueError, match="non-append"):
        snapshot_incremental_read(spark, t, 1)
    # expired cursor also refuses (after GC removed v1)
    expire_snapshots(spark, t, keep_last=1)
    with pytest.raises(ValueError, match="expired from the log"):
        snapshot_incremental_read(spark, t, 1)


def test_expire_min_age_protects_recent_snapshots(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5, "a"), t)
    snapshot_append(_df(spark, 5, 10, "b"), t)
    snapshot_append(_df(spark, 10, 15, "c"), t)
    # all three committed seconds ago: a 1-hour grace window keeps them
    stats = expire_snapshots(spark, t, keep_last=1, min_age_seconds=3600)
    assert stats["expired_manifests"] == 0
    assert _list_versions(spark, t) == [1, 2, 3]
    # without the window, keep_last governs
    stats = expire_snapshots(spark, t, keep_last=1)
    assert stats["expired_manifests"] == 2


def test_merge_schema_append_missing_stats_column_still_commits(spark, tmp_path):
    """An evolved append lacking a stats column records no stats for its
    files (kept on every prune) instead of failing the commit."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "a"), t, stats_cols=["id"])
    no_id = spark.range(1).select(F.lit("x").alias("tag"), F.lit(9).alias("extra"))
    snapshot_append(no_id, t, merge_schema=True)
    out = read_snapshot(spark, t, prune={"id": (500, 600)})
    # the statless evolved file survives pruning; the statted one doesn't
    assert len(out.inputFiles()) >= 1
    assert out.filter("id IS NULL").count() == 1


def test_merge_into_fresh_table_race_aborts_not_blind_appends(spark, tmp_path):
    """Interloper lands v1 between the merge's emptiness check and its
    commit: the merge must ABORT (its source may share keys with the
    interloper's rows), not degrade to a blind append."""
    from mini_project_204721_data_engineering_spark.sources import snapshots as S

    t = str(tmp_path / "t")
    real_commit = S._commit

    def racing_commit(spark_, table_dir_, op, files_fn, *a, **kw):
        if op == "merge" and not getattr(racing_commit, "raced", False):
            racing_commit.raced = True
            snapshot_append(_df(spark, 0, 5, "race"), t)  # shares keys!
        return real_commit(spark_, table_dir_, op, files_fn, *a, **kw)

    S._commit = racing_commit
    try:
        with pytest.raises(RuntimeError, match="fresh at read time"):
            S.snapshot_merge_into(_df(spark, 0, 3, "m"), t, ["id"])
    finally:
        S._commit = real_commit
    # interloper's rows intact, merge landed nothing
    assert {r["tag"] for r in read_snapshot(spark, t).collect()} == {"race"}


@pytest.mark.parametrize("seed", [20260815, 7, 424242])
def test_model_based_random_op_sequence(spark, tmp_path, seed):
    """Model-based check: 30 random log operations (append / overwrite /
    delete_where / merge / replace_where / compact) against an
    in-memory dict model — after EVERY op the tip equals the model, and
    at the end every recorded historical version still replays its
    recorded state (time travel is total)."""
    import random

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_compact,
        snapshot_merge_into,
        snapshot_replace_where,
    )

    rng = random.Random(seed)
    t = str(tmp_path / "t")
    model: dict[int, str] = {}
    history: list[dict[int, str]] = []  # history[i] = state at version i+1
    next_lo = 0

    def mk(lo, hi, tag):
        return _df(spark, lo, hi, tag)

    for step in range(30):
        op = rng.choice(
            ["append", "append", "merge", "merge", "delete", "replace", "overwrite", "compact"]
        )
        if not model and op in ("delete", "replace", "compact"):
            op = "append"
        if op == "append":
            lo, hi = next_lo, next_lo + rng.randint(3, 12)
            next_lo = hi
            tag = f"a{step}"
            snapshot_append(mk(lo, hi, tag), t)
            model.update({i: tag for i in range(lo, hi)})
            history.append(dict(model))
        elif op == "overwrite":
            lo, hi = next_lo, next_lo + rng.randint(3, 12)
            next_lo = hi
            tag = f"o{step}"
            snapshot_overwrite(mk(lo, hi, tag), t)
            model = {i: tag for i in range(lo, hi)}
            history.append(dict(model))
        elif op == "merge":
            keys = sorted(model) or [0]
            lo = rng.choice(keys)
            # never mint ids >= next_lo: a later append would re-land
            # them and the table would hold duplicate ids the dict
            # model can't represent
            hi = max(lo + 1, min(lo + rng.randint(2, 10), next_lo))
            tag = f"m{step}"
            snapshot_merge_into(mk(lo, hi, tag), t, ["id"])
            model.update({i: tag for i in range(lo, hi)})
            history.append(dict(model))
        elif op == "delete":
            lo = rng.choice(sorted(model))
            hi = lo + rng.randint(1, 8)
            m = snapshot_delete_where(spark, t, f"id >= {lo} AND id < {hi}")
            before = len(model)
            model = {k: v for k, v in model.items() if not (lo <= k < hi)}
            if len(model) != before:  # real deletion → new version
                history.append(dict(model))
        elif op == "replace":
            lo = rng.choice(sorted(model))
            hi = lo + rng.randint(1, 6)
            tag = f"r{step}"
            # re-land the slice with only the EVEN ids of the range
            df = mk(lo, hi, tag).filter(F.col("id") % 2 == 0)
            snapshot_replace_where(df, t, f"id >= {lo} AND id < {hi}")
            model = {k: v for k, v in model.items() if not (lo <= k < hi)}
            model.update({i: tag for i in range(lo, hi) if i % 2 == 0})
            history.append(dict(model))
        else:  # compact
            m = snapshot_compact(spark, t, target_file_bytes=1 << 30)
            if m["version"] == len(history) + 1:  # actually committed
                history.append(dict(model))
        rows_now = read_snapshot(spark, t).collect()
        got = {r["id"]: r["tag"] for r in rows_now}
        assert len(rows_now) == len(model), f"step {step} ({op}): dup rows"
        assert got == model, f"step {step} ({op}): tip != model"

    # total time travel: every recorded version replays its state
    for v, state in enumerate(history, start=1):
        got = {r["id"]: r["tag"] for r in read_snapshot(spark, t, version=v).collect()}
        assert got == state, f"version {v} history mismatch"


def test_restore_rolls_back_as_new_commit(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_restore

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10, "good"), t)
    snapshot_overwrite(_df(spark, 100, 105, "bad"), t)  # the bad deploy
    m = snapshot_restore(spark, t, 1)
    assert m["version"] == 3 and m["op"] == "restore"
    assert _ids(read_snapshot(spark, t)) == set(range(10))
    # forensics: the bad version stays readable until expired
    assert _ids(read_snapshot(spark, t, version=2)) == set(range(100, 105))
    with pytest.raises(ValueError, match="not in log"):
        snapshot_restore(spark, t, 99)


def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_clone

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_append(_df(spark, 0, 20, "a").repartition(1), src, stats_cols=["id"])
    m = snapshot_clone(spark, src, dst)
    # zero-copy: the clone's v1 references the SOURCE's files verbatim
    assert m["files"] == _read_manifest(spark, src, 1)["files"]
    assert _ids(read_snapshot(spark, dst)) == set(range(20))
    # stats carried: pruning works on the clone
    assert len(read_snapshot(spark, dst, prune={"id": (500, 600)}).inputFiles()) == 0
    # divergence: writes to the clone never touch the source
    snapshot_append(_df(spark, 20, 30, "clone-only"), dst)
    snapshot_delete_where(spark, dst, "id < 5")
    assert _ids(read_snapshot(spark, src)) == set(range(20))
    assert _ids(read_snapshot(spark, dst)) == set(range(5, 30))
    with pytest.raises(ValueError, match="already has a log"):
        snapshot_clone(spark, src, dst)


def test_derived_stats_hidden_partition_pruning(spark, tmp_path):
    """Hidden-partitioning lite: stats on CAST(ts AS DATE) prune a
    time-range read across files that carry NO physical date column —
    and the sticky derived spec keeps working for later appends."""
    t = str(tmp_path / "t")

    def day_rows(day, lo, hi):
        return spark.range(lo, hi).select(
            F.col("id"),
            (F.lit(f"2024-01-{day:02d} 00:00:00").cast("timestamp_ntz")
             + F.make_interval(mins=F.col("id") % 600)).alias("ts"),
        )

    snapshot_append(
        day_rows(1, 0, 50).repartition(1), t,
        stats_cols={"day": "CAST(ts AS DATE)"},
    )
    snapshot_append(day_rows(2, 50, 100).repartition(1), t)  # sticky derived
    snapshot_append(day_rows(3, 100, 150).repartition(1), t)
    full = read_snapshot(spark, t)
    pruned = read_snapshot(spark, t, prune={"day": ("2024-01-02", "2024-01-02")})
    assert len(pruned.inputFiles()) == 1 < len(full.inputFiles())
    want = full.filter("CAST(ts AS DATE) = DATE '2024-01-02'")
    got = pruned.filter("CAST(ts AS DATE) = DATE '2024-01-02'")
    assert _ids(got) == _ids(want) == set(range(50, 100))


def test_restore_resets_txn_watermarks_to_target_state(spark, tmp_path):
    """Rolling back bad stream batches must also roll back the txn
    watermarks — otherwise the corrected replay of those batches is a
    silent no-op and the data is lost forever."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import snapshot_restore

    t = str(tmp_path / "t")
    snapshot_txn_append(_df(spark, 0, 5, "good"), t, "app", 0)
    snapshot_txn_append(_df(spark, 100, 110, "BAD"), t, "app", 1)  # bad batch
    snapshot_restore(spark, t, 1)
    # the corrected batch 1 must LAND, not no-op
    assert snapshot_txn_append(_df(spark, 5, 10, "fixed"), t, "app", 1) is not None
    got = {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()}
    assert got == {**{i: "good" for i in range(5)}, **{i: "fixed" for i in range(5, 10)}}


def test_invalid_explicit_stats_spec_raises_at_commit(spark, tmp_path):
    t = str(tmp_path / "t")
    with pytest.raises(ValueError, match="does not resolve"):
        snapshot_append(_df(spark, 0, 5, "a"), t, stats_cols={"day": "CAST(ts AS DTAE)"})
    with pytest.raises(ValueError, match="does not resolve"):
        snapshot_append(_df(spark, 0, 5, "a"), t, stats_cols=["no_such_col"])
    assert _list_versions(spark, t) == []  # nothing committed


def test_timestamp_stats_store_sql_spelling_and_prune_correctly(spark, tmp_path):
    """Raw-timestamp stats must compare correctly against SQL-spelled
    bounds ('2024-01-02 23:59:59') — isoformat's 'T' would sort above
    ' ' and mis-prune files holding matching rows."""
    t = str(tmp_path / "t")
    df = spark.range(10).select(
        F.col("id"),
        (F.lit("2024-01-02 00:00:00").cast("timestamp_ntz")
         + F.make_interval(hours=F.col("id"))).alias("ts"),
    ).repartition(1)
    snapshot_append(df, t, stats_cols={"tmin": "ts"})
    m = _read_manifest(spark, t, 1)
    (rng,) = [v["tmin"] for v in m["stats"].values()]
    assert "T" not in rng[0] and rng[0].startswith("2024-01-02 00:00")
    # a same-day SQL-spelled upper bound must KEEP the file
    pruned = read_snapshot(spark, t, prune={"tmin": (None, "2024-01-02 03:00:00")})
    assert len(pruned.inputFiles()) == 1


def test_clone_race_aborts_instead_of_clobbering(spark, tmp_path):
    from mini_project_204721_data_engineering_spark.sources import snapshots as S

    src, dst = str(tmp_path / "src"), str(tmp_path / "dst")
    snapshot_append(_df(spark, 0, 5, "a"), src)
    real_commit = S._commit

    def racing(spark_, table_dir_, op, files_fn, *a, **kw):
        if op == "clone" and not getattr(racing, "raced", False):
            racing.raced = True
            snapshot_append(_df(spark, 50, 55, "race"), dst)
        return real_commit(spark_, table_dir_, op, files_fn, *a, **kw)

    S._commit = racing
    try:
        with pytest.raises(RuntimeError, match="gained a commit during the clone"):
            S.snapshot_clone(spark, src, dst)
    finally:
        S._commit = real_commit
    assert _ids(read_snapshot(spark, dst)) == set(range(50, 55))


def _jobs_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


#: rewrite commits: each writes a new frame and computes its files' stats
_REWRITES = {
    "delete_where": lambda spark, t, base: snapshot_delete_where(spark, t, "district_id = 1"),
    "apply_filters": lambda spark, t, base: snapshot_apply_filters(spark, t),
    "merge_into": lambda spark, t, base: snapshot_merge_into(
        base.filter("district_id < 2").withColumn("rainfall_mm", F.lit(9.0)), t, ["district_id"]
    ),
    "merge_into_fresh": lambda spark, t, base: snapshot_merge_into(base, t + "_fresh", ["district_id"]),
    "replace_where": lambda spark, t, base: snapshot_replace_where(
        base.filter("district_id = 1").withColumn("rainfall_mm", F.lit(9.0)), t, "district_id = 1"
    ),
    "compact": lambda spark, t, base: snapshot_compact(spark, t, target_file_bytes=1 << 30),
}


@pytest.mark.parametrize("case", ["rain", "merge_schema", "derived", *_REWRITES])
def test_append_stats_read_with_the_written_schema(spark, tmp_path, case, monkeypatch):
    """A commit computes its new files' stats with the schema it has
    just written — appends and the rewrite commits (delete, apply
    filters, merge, replace-where, compact) alike: one job fewer than an
    inferred read (no parquet schema-inference job), and the same stats,
    stats_cols and file_meta."""
    from mini_project_204721_data_engineering_spark.sources import snapshots as S

    t = str(tmp_path / "t")
    base = spark.range(6).select(
        F.col("id").cast("int").alias("district_id"),
        F.expr("DATE '2023-06-01' + CAST(id % 3 AS INT)").alias("date"),
        (F.col("id") * 1.5).alias("rainfall_mm"),
        F.when(F.col("id") != 2, F.col("id") / 4).alias("rain_mm_wmean"),
    ).repartition(2)
    df = None
    if case == "rain":
        df, kw = base, {"stats_cols": ["date", "district_id", "rainfall_mm", "rain_mm_wmean"]}
    elif case == "merge_schema":
        snapshot_append(base, t, stats_cols=["district_id", "rainfall_mm"])
        df, kw = base.withColumn("note", F.lit("x")), {"merge_schema": True}
    elif case == "derived":
        df = base.withColumn("ts", F.expr("CAST(date AS TIMESTAMP) + make_interval(0, 0, 0, 0, district_id, 0, 0)"))
        kw = {"stats_cols": {"day": "CAST(ts AS DATE)", "ts": "ts"}}
    else:
        # two appends (four small files), stats columns sticky from the first
        snapshot_append(base, t, stats_cols=["district_id", "rainfall_mm"])
        snapshot_append(base.withColumn("district_id", F.col("district_id") + 6), t)
        if case == "apply_filters":
            snapshot_delete_where(spark, t, "district_id = 1", lazy=True)

    real, seen = S._file_stats, []

    def spy(spark_, files, stats, schema=None):
        out, pinned = _jobs_in_group(spark_, f"pinned-{case}", lambda: real(spark_, files, stats, schema))
        inferred, n_inferred = _jobs_in_group(spark_, f"inferred-{case}", lambda: real(spark_, files, stats))
        seen.append((schema, pinned, n_inferred, out == inferred, files, stats))
        return out

    monkeypatch.setattr(S, "_file_stats", spy)
    if df is not None:
        man = snapshot_append(df, t, **kw)
    else:
        man = _REWRITES[case](spark, t, base)
    ((schema, pinned, n_inferred, same, files, stats),) = seen
    if df is not None:
        assert schema == df.schema
    else:
        assert schema is not None and schema.fieldNames() == base.columns
    assert pinned == n_inferred - 1 and same
    want_stats, want_meta = real(spark, files, stats)
    assert {f: man["file_meta"][f] for f in files} == want_meta
    if stats:  # a fresh merge target has no stats columns, only file_meta
        assert {f: man["stats"][f] for f in files} == want_stats
        assert man["stats_cols"] == stats
