"""Merge-on-read lazy deletes (sources/snapshots.py row_filters):
zero-byte takedown commits, read-path filter application on exactly
the covered files, drain through CoW rewrites/compaction/apply, and
the incremental-read / change-feed interplay."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.sources.snapshots import (
    _list_versions,
    _read_manifest,
    read_snapshot,
    snapshot_append,
    snapshot_apply_filters,
    snapshot_changes,
    snapshot_clone,
    snapshot_compact,
    snapshot_delete_where,
    snapshot_file_changes,
    snapshot_incremental_read,
    snapshot_merge_into,
    snapshot_replace_where,
    snapshot_restore,
)


def _df(spark, lo, hi, tag="a"):
    return spark.range(lo, hi).select(F.col("id"), F.lit(tag).alias("tag"))


def _ids(df):
    return {r["id"] for r in df.collect()}


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_lazy_delete_moves_zero_bytes_and_filters_reads(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 50).repartition(2), t)
    before_files = sorted(_read_manifest(spark, t, 1)["files"])
    m = snapshot_delete_where(spark, t, "id % 10 = 3", lazy=lazy_mode)
    # metadata-only: SAME files, zero rewrites, one filter entry
    assert sorted(m["files"]) == before_files
    assert m["meta"]["rewritten_files"] == 0
    assert m["meta"]["mode"] == ("dv" if lazy_mode == "dv" else "lazy")
    assert len(m["row_filters"]) == 1
    assert _ids(read_snapshot(spark, t)) == {
        i for i in range(50) if i % 10 != 3
    }
    # time travel: the pre-delete snapshot still shows the rows
    assert _ids(read_snapshot(spark, t, version=1)) == set(range(50))


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_lazy_filters_cover_only_hit_files(spark, tmp_path, lazy_mode):
    """The hit scan confines the entry: a predicate touching one of 10
    files records a 1-file filter, and the filtered read plan groups
    the other 9 files into a single clean scan."""
    t = str(tmp_path / "t")
    for i in range(10):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10).repartition(1), t)
    m = snapshot_delete_where(spark, t, "id = 55", lazy=lazy_mode)
    assert len(m["row_filters"]) == 1
    assert len(m["row_filters"][0]["files"]) == 1
    assert _ids(read_snapshot(spark, t)) == set(range(100)) - {55}


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_stacked_lazy_deletes_compose(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 40).repartition(2), t)
    snapshot_delete_where(spark, t, "id < 5", lazy=lazy_mode)
    m = snapshot_delete_where(spark, t, "id >= 35", lazy=lazy_mode)
    assert len(m["row_filters"]) == 2
    assert _ids(read_snapshot(spark, t)) == set(range(5, 35))


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_append_after_lazy_delete_is_unaffected(spark, tmp_path, lazy_mode):
    """New files are never covered: re-landed rows matching an old
    takedown predicate survive (the delete was as-of its commit)."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 20).repartition(1), t)
    snapshot_delete_where(spark, t, "id < 10", lazy=lazy_mode)
    snapshot_append(_df(spark, 0, 10, "again").repartition(1), t)
    got = read_snapshot(spark, t)
    assert _ids(got) == set(range(20))
    assert got.filter("tag = 'again'").count() == 10
    assert got.filter("tag = 'a'").count() == 10  # 10..19 only


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_cow_rewrite_drains_pending_filters(spark, tmp_path, lazy_mode):
    """A CoW delete of a lazily-filtered file reads THROUGH the filter:
    the rewrite emits clean bytes and the entry is pruned."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 30).repartition(1), t)
    snapshot_delete_where(spark, t, "id < 5", lazy=lazy_mode)
    m = snapshot_delete_where(spark, t, "id >= 25")  # CoW, hits the file
    assert "row_filters" not in m  # drained: the covered file rewrote
    assert _ids(read_snapshot(spark, t)) == set(range(5, 25))
    # and the clean bytes really exclude the lazy-deleted rows
    assert _ids(read_snapshot(spark, t)) == _ids(
        spark.read.parquet(*m["files"])
    )


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_compact_materializes_filters(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    for i in range(5):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10).repartition(1), t)
    snapshot_delete_where(spark, t, "id % 7 = 0", lazy=lazy_mode)
    want = _ids(read_snapshot(spark, t))
    mc = snapshot_compact(spark, t)
    assert mc["op"] == "compact"
    assert "row_filters" not in mc  # all small files packed -> drained
    assert _ids(read_snapshot(spark, t)) == want
    assert _ids(spark.read.parquet(*mc["files"])) == want


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_apply_filters_rewrites_only_covered_files(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    for i in range(10):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10).repartition(1), t)
    snapshot_delete_where(spark, t, "id = 55", lazy=lazy_mode)
    want = set(range(100)) - {55}
    base_files = set(_read_manifest(spark, t, 11)["files"])
    m = snapshot_apply_filters(spark, t)
    assert "row_filters" not in m
    assert m["meta"]["rewritten_files"] == 1  # only the covered file
    assert len(set(m["files"]) & base_files) == 9  # 9 carried untouched
    assert _ids(read_snapshot(spark, t)) == want
    assert _ids(spark.read.parquet(*m["files"])) == want
    # idempotent: nothing pending -> no new commit
    assert snapshot_apply_filters(spark, t)["version"] == m["version"]


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_merge_does_not_resurrect_lazy_deleted_keys(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10).repartition(1), t)
    snapshot_delete_where(spark, t, "id = 3", lazy=lazy_mode)
    # upsert id 3 and 5: 3 must be an INSERT (it is deleted), 5 an update
    snapshot_merge_into(_df(spark, 3, 6, "new").filter("id IN (3, 5)"), t, ["id"])
    got = {r["id"]: r["tag"] for r in read_snapshot(spark, t).collect()}
    assert got[3] == "new" and got[5] == "new" and got[0] == "a"
    assert len(got) == 10


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_restore_and_clone_carry_filter_state(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 20).repartition(1), t)   # v1
    snapshot_delete_where(spark, t, "id < 5", lazy=lazy_mode)   # v2
    # clone sees the filtered state, not the raw bytes
    c = str(tmp_path / "c")
    snapshot_clone(spark, t, c)
    assert _ids(read_snapshot(spark, c)) == set(range(5, 20))
    # restore to v1 resurrects (filters replaced by the target's: none)
    m = snapshot_restore(spark, t, 1)
    assert "row_filters" not in m
    assert _ids(read_snapshot(spark, t)) == set(range(20))
    # restore back to v2 re-applies them
    snapshot_restore(spark, t, 2)
    assert _ids(read_snapshot(spark, t)) == set(range(5, 20))


def test_clone_copies_dv_sidecars_and_survives_source_gc(spark, tmp_path):
    """DV sidecars are COPIED at clone time (not borrowed): after the
    source drains its takedown and expires the sidecar, the clone must
    still read the deleted rows as deleted — a borrowed sidecar path
    would silently resurrect them (ADVICE r11)."""
    import os

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        expire_snapshots,
    )

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 30).repartition(1), t)          # v1
    snapshot_delete_where(spark, t, "id % 3 = 0", lazy="dv")      # v2
    src_dv = _read_manifest(spark, t, 2)["row_filters"][0]["dv"]
    c = str(tmp_path / "c")
    snapshot_clone(spark, t, c)
    clone_entry = _read_manifest(spark, c, 1)["row_filters"][0]
    # the clone's entry points INSIDE the clone's own _dv dir
    assert str(tmp_path / "c") in clone_entry["dv"]
    assert clone_entry["dv"] != src_dv
    want = {i for i in range(30) if i % 3 != 0}
    assert _ids(read_snapshot(spark, c)) == want
    # source ROLLS BACK the takedown (keeps the same data file the
    # clone borrows — the documented data-borrow hazard stays out of
    # frame) and GCs: the sidecar is now unreferenced in the source
    snapshot_restore(spark, t, 1)                                 # v3
    expire_snapshots(spark, t, keep_last=1, orphan_min_age_seconds=0.0)
    src_local = src_dv.replace("file:", "")
    assert not os.path.exists(src_local), "source sidecar should be GC'd"
    # the clone is unaffected: its own copy answers
    assert _ids(read_snapshot(spark, c)) == want
    # and the clone's own apply/expire cycle works on its copy
    snapshot_apply_filters(spark, c)
    expire_snapshots(spark, c, keep_last=1, orphan_min_age_seconds=0.0)
    assert _ids(read_snapshot(spark, c)) == want


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_incremental_read_refuses_across_lazy_delete_window(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10).repartition(1), t)   # v1
    snapshot_delete_where(spark, t, "id = 2", lazy=lazy_mode)   # v2: same files!
    snapshot_append(_df(spark, 10, 20).repartition(1), t)  # v3
    with pytest.raises(ValueError, match="lazy-delete filter"):
        snapshot_incremental_read(spark, t, 1)
    # from AFTER the delete the window is append-only again
    delta, v = snapshot_incremental_read(spark, t, 2)
    assert v == 3 and _ids(delta) == set(range(10, 20))


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_file_changes_and_change_feed_see_lazy_deletes(spark, tmp_path, lazy_mode):
    t = str(tmp_path / "t")
    for i in range(4):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10).repartition(1), t)
    snapshot_delete_where(spark, t, "id = 25", lazy=lazy_mode)  # v5
    removed, added, info = snapshot_file_changes(spark, t, 4, 5)
    # no file moved; ONE carried file is refiltered and sits on BOTH sides
    assert info["removed_files"] == [] and info["added_files"] == []
    assert len(info["refiltered_files"]) == 1
    assert _ids(removed) == set(range(20, 30))
    assert _ids(added) == set(range(20, 30)) - {25}
    # the row-level feed prices as the affected file, not the table
    d = snapshot_changes(spark, t, ["id"], 4, 5, confined=True)
    ch = {r["id"]: r["diff_status"] for r in d.collect()}
    assert ch[25] == "removed"
    assert all(s == "unchanged" for k, s in ch.items() if k != 25)
    assert set(ch) == set(range(20, 30))


def test_lazy_delete_bad_predicate_refuses_loudly(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5), t)
    with pytest.raises(Exception):
        snapshot_delete_where(spark, t, "no_such_col = 1", lazy=True)
    # and the log is untouched by the failed attempt
    assert _list_versions(spark, t) == [1]


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_concurrent_lazy_delete_aborts_cow_rewrite(spark, tmp_path, lazy_mode):
    """The lost-takedown race, pinned: a lazy delete commits BETWEEN a
    CoW delete's read and its commit.  The file set is unchanged (lazy
    deletes move no files), so a file-set-only guard would let the CoW
    retry prune the interloper's filter while committing bytes that
    never applied it — the guard must also compare filter state and
    abort."""
    import mini_project_204721_data_engineering_spark.sources.snapshots as snap

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 30).repartition(1), t)
    real_write = snap._write_data_files
    fired = {"done": False}

    def interloper(df, table_dir):
        out = real_write(df, table_dir)
        if not fired["done"]:
            fired["done"] = True
            snapshot_delete_where(spark, t, "id = 1", lazy=lazy_mode)
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snap, "_write_data_files", interloper)
        with pytest.raises(RuntimeError, match="filter state"):
            snapshot_delete_where(spark, t, "id >= 25")
    # the interloper's takedown survived; re-running the CoW delete on
    # the new tip applies BOTH
    snapshot_delete_where(spark, t, "id >= 25")
    assert _ids(read_snapshot(spark, t)) == set(range(30)) - {1} - set(range(25, 30))


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_concurrent_lazy_delete_aborts_compaction(spark, tmp_path, lazy_mode):
    import mini_project_204721_data_engineering_spark.sources.snapshots as snap

    t = str(tmp_path / "t")
    for i in range(3):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10).repartition(1), t)
    real_write = snap._write_data_files
    fired = {"done": False}

    def interloper(df, table_dir):
        out = real_write(df, table_dir)
        if not fired["done"]:
            fired["done"] = True
            snapshot_delete_where(spark, t, "id = 5", lazy=lazy_mode)
        return out

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snap, "_write_data_files", interloper)
        with pytest.raises(RuntimeError, match="filter state"):
            snapshot_compact(spark, t)
    # takedown intact; compaction on the new tip drains it
    snapshot_compact(spark, t)
    assert _ids(read_snapshot(spark, t)) == set(range(30)) - {5}


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_concurrent_lazy_deletes_compose_not_abort(spark, tmp_path, lazy_mode):
    """Two racing LAZY deletes must BOTH land (the retry re-carries the
    winner's entry and appends its own) — filter ADDITION can only
    shrink the rows a takedown matches, so aborting would be a spurious
    regression on the high-frequency path."""
    import mini_project_204721_data_engineering_spark.sources.snapshots as snap

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 30).repartition(1), t)
    real_try = snap._try_write_manifest
    fired = {"done": False}

    def racing(spark_, table_dir, version, m):
        if not fired["done"]:
            fired["done"] = True
            snapshot_delete_where(spark, t, "id = 1", lazy=lazy_mode)
        return real_try(spark_, table_dir, version, m)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snap, "_try_write_manifest", racing)
        m = snapshot_delete_where(spark, t, "id >= 25", lazy=lazy_mode)
    assert len(m["row_filters"]) == 2  # BOTH takedowns in the tip
    assert _ids(read_snapshot(spark, t)) == set(range(30)) - {1} - set(range(25, 30))


def test_concurrent_filter_removal_aborts_lazy_delete(spark, tmp_path):
    """The case the lazy guard MUST catch: a racing restore strips a
    filter, resurrecting rows this delete's hit scan never saw — abort,
    don't under-cover."""
    import mini_project_204721_data_engineering_spark.sources.snapshots as snap

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 30).repartition(1), t)     # v1
    snapshot_delete_where(spark, t, "id = 1", lazy=True)     # v2
    real_try = snap._try_write_manifest
    fired = {"done": False}

    def racing(spark_, table_dir, version, m):
        if not fired["done"]:
            fired["done"] = True
            snapshot_restore(spark, t, 1)  # same files, filters gone
        return real_try(spark_, table_dir, version, m)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(snap, "_try_write_manifest", racing)
        with pytest.raises(RuntimeError, match="removed lazy-delete filter"):
            snapshot_delete_where(spark, t, "id >= 25", lazy=True)


@pytest.mark.parametrize("lazy", [False, True, "dv"])
def test_null_predicate_rows_survive_delete(spark, tmp_path, lazy):
    """SQL DELETE three-valued logic: exactly the pred=TRUE rows go.  A
    row whose predicate evaluates NULL survives REGARDLESS of which
    physical file it shares with a TRUE row — under the old NOT(pred)
    filter a NULL-predicate row died in hit files but lived in carried
    ones, making deletion depend on file layout."""
    t = str(tmp_path / f"mode_{lazy}")
    df = spark.range(0, 20).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("v"),  # odd ids: v NULL
    )
    snapshot_append(df.repartition(1), t)  # ONE file: NULL rows share it with hits
    snapshot_delete_where(spark, t, "v >= 10", lazy=lazy)
    survivors = {i for i in range(20) if i % 2 == 1 or i < 10}
    assert _ids(read_snapshot(spark, t)) == survivors
    # the drain (materializing pending filters) preserves the semantics
    snapshot_apply_filters(spark, t)
    assert _ids(read_snapshot(spark, t)) == survivors


def test_replace_where_null_predicate_rows_survive(spark, tmp_path):
    """replace_where replaces exactly the pred=TRUE slice: NULL-predicate
    rows are not part of the slice and survive the rewrite."""
    t = str(tmp_path / "rw")
    df = spark.range(0, 20).select(
        F.col("id"), F.when(F.col("id") % 2 == 0, F.col("id")).alias("v")
    )
    snapshot_append(df.repartition(1), t)
    new = spark.range(100, 103).select(F.col("id"), F.col("id").alias("v"))
    snapshot_replace_where(new, t, "v >= 10")
    assert _ids(read_snapshot(spark, t)) == (
        {i for i in range(20) if i % 2 == 1 or i < 10} | {100, 101, 102}
    )


@pytest.mark.parametrize("pred,names", [
    ("rand() < 0.5", "rand()"),
    ("id > 5 AND CAST(id AS DOUBLE) < rand()", "rand()"),
    ("uuid() = 'x'", "uuid()"),
    ("ts < current_timestamp()", "current_timestamp()"),
    ("ts < now()", "now()"),
    ("CAST(ts AS DATE) <= current_date()", "current_date()"),
    ("id = monotonically_increasing_id()", "monotonically_increasing_id()"),
])
def test_lazy_delete_refuses_unstable_predicates(spark, tmp_path, pred, names):
    """A lazy-delete predicate is stored in the manifest and re-evaluated
    at every future read — nondeterministic or time/context-dependent
    expressions must refuse AT COMMIT, naming the offender, instead of
    silently denoting a different row set at each read."""
    t = str(tmp_path / "t")
    df = spark.range(0, 20).select(
        F.col("id"), F.lit("2024-01-01 00:00:00").cast("timestamp_ntz").alias("ts")
    )
    snapshot_append(df, t)
    with pytest.raises(ValueError, match="not stable under re-evaluation"):
        snapshot_delete_where(spark, t, pred, lazy=True)
    try:
        snapshot_delete_where(spark, t, pred, lazy=True)
    except ValueError as e:
        assert names in str(e)
    # refusal commits NOTHING
    assert len(_list_versions(spark, t)) == 1
    assert _ids(read_snapshot(spark, t)) == set(range(20))


def test_cow_delete_still_accepts_context_predicates(spark, tmp_path):
    """CoW evaluates its predicate exactly once — current_timestamp()
    is legitimate there (the classic retention sweep) and must not be
    gated."""
    t = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id"),
        (F.lit("2020-01-01 00:00:00").cast("timestamp_ntz")).alias("ts"),
    )
    snapshot_append(df.repartition(1), t)
    m = snapshot_delete_where(
        spark, t, "ts < current_timestamp() AND id < 5", lazy=False
    )
    assert m["op"] == "delete"
    assert _ids(read_snapshot(spark, t)) == set(range(5, 10))


def test_dv_predicate_cow_triple_equivalence(spark, tmp_path):
    """N stacked deletion-vector takedowns ≡ N predicate takedowns ≡ N
    CoW deletes: identical row sets after each step and after drain."""
    tables = {}
    for mode in ("cow", "lazy", "dv"):
        t = str(tmp_path / mode)
        snapshot_append(_df(spark, 0, 200).repartition(4), t)
        tables[mode] = t
    preds = ["id % 7 = 3", "id BETWEEN 50 AND 80", "tag = 'a' AND id >= 190"]
    for pred in preds:
        snapshot_delete_where(spark, tables["cow"], pred)
        snapshot_delete_where(spark, tables["lazy"], pred, lazy=True)
        snapshot_delete_where(spark, tables["dv"], pred, lazy="dv")
        want = _ids(read_snapshot(spark, tables["cow"]))
        assert _ids(read_snapshot(spark, tables["lazy"])) == want
        assert _ids(read_snapshot(spark, tables["dv"])) == want
    # drain both MoR forms: still identical, filters gone
    for mode in ("lazy", "dv"):
        m = snapshot_apply_filters(spark, tables[mode])
        assert "row_filters" not in m
        assert _ids(read_snapshot(spark, tables[mode])) == want


def test_dv_read_is_one_antijoin_regardless_of_stacking(spark, tmp_path):
    """Stacked DV takedowns union their sidecars: the read plan carries
    ONE left-anti join however many are pending — the O(1)-per-file
    overhead predicate-lazy can't give (one pushed filter EACH)."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 100).repartition(1), t)
    for k in range(4):
        m = snapshot_delete_where(spark, t, f"id % 10 = {k}", lazy="dv")
    assert len(m["row_filters"]) == 4
    plan = read_snapshot(spark, t)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("LeftAnti") == 1
    assert _ids(read_snapshot(spark, t)) == {i for i in range(100) if i % 10 > 3}


def test_dv_allows_nondeterministic_predicate_and_is_stable(spark, tmp_path):
    """The determinism hazard predicate-lazy must refuse is LEGAL under
    DV: the predicate evaluates exactly once, into positions — every
    subsequent read sees the same fixed row set (downsampling idiom)."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 1000).repartition(2), t)
    with pytest.raises(ValueError, match="not stable"):
        snapshot_delete_where(spark, t, "rand(7) < 0.5", lazy=True)
    m = snapshot_delete_where(spark, t, "rand(7) < 0.5", lazy="dv")
    assert m["meta"]["mode"] == "dv"
    a = _ids(read_snapshot(spark, t))
    assert a == _ids(read_snapshot(spark, t))  # frozen, not re-rolled
    assert 200 < len(a) < 800
    # drain materializes the same frozen set
    snapshot_apply_filters(spark, t)
    assert _ids(read_snapshot(spark, t)) == a


def test_dv_mixes_with_predicate_lazy_on_same_files(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 60).repartition(1), t)
    snapshot_delete_where(spark, t, "id < 10", lazy=True)
    snapshot_delete_where(spark, t, "id >= 50", lazy="dv")
    assert _ids(read_snapshot(spark, t)) == set(range(10, 50))
    # CoW rewrite drains BOTH kinds
    m = snapshot_delete_where(spark, t, "id = 30")
    assert "row_filters" not in m
    assert _ids(read_snapshot(spark, t)) == set(range(10, 50)) - {30}
    assert _ids(spark.read.parquet(*m["files"])) == set(range(10, 50)) - {30}


def test_dv_no_hits_commits_nothing_and_cleans_sidecar(spark, tmp_path):
    import os

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10), t)
    m = snapshot_delete_where(spark, t, "id > 999", lazy="dv")
    assert m["version"] == 1  # unchanged tip returned
    dv_dir = os.path.join(t, "_dv")
    assert not os.path.exists(dv_dir) or os.listdir(dv_dir) == []


def test_dv_sidecar_gc_after_drain_keeps_referenced(spark, tmp_path):
    """expire_snapshots deletes sidecars no surviving manifest
    references and keeps live ones — with the in-flight age guard."""
    import os

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        expire_snapshots,
    )

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 100).repartition(1), t)
    snapshot_delete_where(spark, t, "id < 10", lazy="dv")   # v2: live DV
    want = set(range(10, 100))
    # keep_last=2 keeps v1+v2: the v2 sidecar is referenced → survives
    r = expire_snapshots(spark, t, keep_last=2, orphan_min_age_seconds=0.0)
    assert r["deleted_dv_sidecars"] == 0
    assert _ids(read_snapshot(spark, t)) == want
    # drain, then expire to the clean tip: the sidecar is unreferenced
    snapshot_apply_filters(spark, t)                        # v3
    r = expire_snapshots(spark, t, keep_last=1, orphan_min_age_seconds=0.0)
    assert r["deleted_dv_sidecars"] == 1
    assert os.listdir(os.path.join(t, "_dv")) == []
    assert _ids(read_snapshot(spark, t)) == want


def test_dv_time_travel_and_change_feed(spark, tmp_path):
    t = str(tmp_path / "t")
    for i in range(3):
        snapshot_append(_df(spark, i * 10, (i + 1) * 10).repartition(1), t)
    snapshot_delete_where(spark, t, "id = 15", lazy="dv")  # v4
    # pre-delete snapshot still shows the row (vectors live in manifests)
    assert 15 in _ids(read_snapshot(spark, t, version=3))
    assert 15 not in _ids(read_snapshot(spark, t))
    # the confined feed prices the DV takedown as the one covered file
    removed, added, info = snapshot_file_changes(spark, t, 3, 4)
    assert info["refiltered_files"] != [] and info["removed_files"] == []
    d = snapshot_changes(spark, t, ["id"], 3, 4, confined=True)
    ch = {r["id"]: r["diff_status"] for r in d.collect()}
    assert ch[15] == "removed"
    assert all(s == "unchanged" for k, s in ch.items() if k != 15)


def test_dv_rejects_bad_lazy_value(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5), t)
    with pytest.raises(ValueError, match="lazy must be"):
        snapshot_delete_where(spark, t, "id = 1", lazy="vectors")


def test_lazy_truthy_int_is_gated_like_true(spark, tmp_path):
    """Review regression: lazy=1 passed the membership check (1 == True)
    but skipped the `lazy is True` stability gate — a stored unstable
    predicate slipping through ungated."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10), t)
    with pytest.raises(ValueError, match="not stable under re-evaluation"):
        snapshot_delete_where(spark, t, "id < current_timestamp()::long", lazy=1)
    m = snapshot_delete_where(spark, t, "id < 3", lazy=1)
    assert m["meta"]["mode"] == "lazy"
    with pytest.raises(ValueError, match="lazy must be"):
        snapshot_delete_where(spark, t, "id = 1", lazy="DV")


def test_lazy_delete_refuses_subquery_predicates(spark, tmp_path):
    """Pass-2 regression: a scalar subquery hides a whole plan from the
    expression walk (it can smuggle current_timestamp() or read a table
    whose contents change) — categorically refused as a stored
    predicate."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 10), t)
    with pytest.raises(ValueError, match="subquery"):
        snapshot_delete_where(
            spark, t, "id < (SELECT current_timestamp()::long)", lazy=True
        )
    with pytest.raises(ValueError, match="subquery"):
        snapshot_delete_where(spark, t, "id < (SELECT 5)", lazy=True)
    assert _list_versions(spark, t) == [1]


@pytest.mark.parametrize("lazy_mode", [True, "dv"])
def test_space_in_table_path_never_resurrects_deletes(spark, tmp_path, lazy_mode):
    """URL-encoding regression (review pass-2 discovery): scan-reported
    paths ('a%20dir') must canonicalize to the manifest's decoded
    spelling ('a dir') — a mismatched hit-file list would record a
    takedown whose coverage set matches NO manifest file, and every
    read would silently show the deleted rows again."""
    t = str(tmp_path / "a dir" / "t")
    snapshot_append(_df(spark, 0, 30).repartition(2), t)
    m = snapshot_delete_where(spark, t, "id % 5 = 0", lazy=lazy_mode)
    # the recorded coverage uses the MANIFEST spelling
    assert set(m["row_filters"][0]["files"]) <= set(m["files"])
    want = {i for i in range(30) if i % 5 != 0}
    assert _ids(read_snapshot(spark, t)) == want
    # CoW rewrite on the same table: hit files partition correctly too
    snapshot_delete_where(spark, t, "id = 7")
    assert _ids(read_snapshot(spark, t)) == want - {7}
    # merge does not duplicate shared keys on a space path
    snapshot_merge_into(_df(spark, 1, 3, "new"), t, ["id"])
    got = read_snapshot(spark, t)
    assert got.count() == got.select("id").distinct().count()
