"""snapshot_agg: grouped/global aggregates answered from the manifest
(sources/snapshots.py) — per-file sums recorded as the 4th stats-entry
element at commit extend the r12 metadata-only count/min/max family to
the grouped dashboard-rollup shape (the reference recomputes these
per request: serving aggregates `backend/app/main.py:266-269,668-676`,
grouped dashboard `:684-719`).  The structural proof that the clean
path reads no data: the data files are physically MOVED AWAY and the
rollup still answers; the per-file-granularity proof: only the files
with provable metadata are moved away and the MERGED result is still
exact."""

from __future__ import annotations

import json
import math
import shutil

import pytest
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.sources.snapshots import (
    _read_manifest,
    read_snapshot,
    snapshot_agg,
    snapshot_append,
    snapshot_compact,
    snapshot_delete_where,
    snapshot_merge_into,
    snapshot_overwrite,
    snapshot_restore,
)

AGGS = {
    "n": "count(*)",
    "nv": "count(v)",
    "s": "sum(v)",
    "mn": "min(v)",
    "mx": "max(v)",
    "a": "avg(v)",
}


def _df(spark, lo, hi, day="2024-01-01"):
    return spark.range(lo, hi).select(
        F.col("id"),
        (F.col("id") * 3).cast("double").alias("v"),
        F.lit(day).cast("date").alias("day"),
    )


def _close(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)
    return a == b


def _scan_agg(spark, t, group_by=None, where=None, **kw):
    df = read_snapshot(spark, t, **kw)
    if where:
        df = df.filter(where)
    sel = [
        F.count(F.lit(1)).alias("n"),
        F.count("v").alias("nv"),
        F.sum("v").alias("s"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
        F.avg("v").alias("a"),
    ]
    if group_by is None:
        r = df.agg(*sel).collect()[0]
        return {k: r[k] for k in AGGS}
    return {
        r["day"]: {k: r[k] for k in AGGS}
        for r in df.groupBy(group_by).agg(*sel).collect()
    }


def _assert_same(got, want):
    assert set(got) == set(want)
    for k in want:
        if isinstance(want[k], dict):
            for a in want[k]:
                assert _close(got[k][a], want[k][a]), (k, a, got[k], want[k])
        else:
            assert _close(got[k], want[k]), (k, got[k], want[k])


def test_numeric_stats_record_exact_sums(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(
        _df(spark, 0, 40).repartition(2),
        t,
        stats_cols=["id", "v", "day"],
    )
    m = _read_manifest(spark, t, 1)
    tot_id = tot_v = 0
    for f in m["files"]:
        e = m["stats"][f]
        assert len(e["id"]) == 4 and isinstance(e["id"][3], int)
        assert len(e["v"]) == 4 and isinstance(e["v"][3], float)
        assert len(e["day"]) == 3  # non-numeric: no sum recorded
        tot_id += e["id"][3]
        tot_v += e["v"][3]
    assert tot_id == sum(range(40))
    assert tot_v == float(sum(range(40)) * 3)


@pytest.mark.parametrize("lazy_mode", [False, True, "dv"])
def test_ungrouped_agg_equals_full_scan_across_history(
    spark, tmp_path, lazy_mode
):
    t = str(tmp_path / "t")
    snapshot_append(
        _df(spark, 0, 50).repartition(2), t, stats_cols=["id", "v"]
    )
    snapshot_append(_df(spark, 50, 80, "2024-01-02").repartition(1), t)

    def check():
        _assert_same(snapshot_agg(spark, t, AGGS), _scan_agg(spark, t))

    check()
    snapshot_delete_where(spark, t, "id % 7 = 0", lazy=lazy_mode)
    check()
    snapshot_compact(spark, t)
    check()
    snapshot_restore(spark, t, 2)
    check()
    snapshot_overwrite(_df(spark, 5, 25), t, stats_cols=["id", "v"])
    check()
    snapshot_merge_into(_df(spark, 20, 30), t, ["id"])
    check()


def test_grouped_rollup_equals_scan_groupby(spark, tmp_path):
    """Daily appends lay one day per file — the per-day rollup then
    groups from the manifest; a later multi-day commit (files spanning
    days) merges in through the scan fallback."""
    t = str(tmp_path / "t")
    snapshot_append(
        _df(spark, 0, 30, "2024-01-01").coalesce(1),
        t,
        stats_cols=["v", "day"],
    )
    snapshot_append(_df(spark, 30, 50, "2024-01-02").coalesce(1), t)
    got = snapshot_agg(spark, t, AGGS, group_by="day")
    _assert_same(got, _scan_agg(spark, t, group_by="day"))
    # mixed-day commit in ONE file: that file is not single-valued on
    # the group key and must fall back, everything else stays metadata
    mixed = _df(spark, 50, 60, "2024-01-02").unionAll(
        _df(spark, 60, 75, "2024-01-03")
    )
    snapshot_append(mixed.coalesce(1), t)
    _assert_same(
        snapshot_agg(spark, t, AGGS, group_by="day"),
        _scan_agg(spark, t, group_by="day"),
    )


def test_clean_grouped_rollup_reads_zero_data_files(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(
        _df(spark, 0, 30, "2024-01-01").coalesce(1),
        t,
        stats_cols=["v", "day"],
    )
    snapshot_append(_df(spark, 30, 50, "2024-01-02").coalesce(1), t)
    want = _scan_agg(spark, t, group_by="day")
    want_all = _scan_agg(spark, t)
    data_dir = str(tmp_path / "t" / "data")
    shutil.move(data_dir, data_dir + ".hidden")
    try:
        _assert_same(snapshot_agg(spark, t, AGGS, group_by="day"), want)
        _assert_same(snapshot_agg(spark, t, AGGS), want_all)
    finally:
        shutil.move(data_dir + ".hidden", data_dir)


def test_per_file_granularity_only_unprovable_files_scanned(spark, tmp_path):
    """Move away ONLY the single-day commits' bytes: the rollup must
    still answer (their groups come from metadata) while the mixed
    commit is scanned and merged."""
    t = str(tmp_path / "t")
    snapshot_append(
        _df(spark, 0, 30, "2024-01-01").coalesce(1),
        t,
        stats_cols=["v", "day"],
    )
    snapshot_append(_df(spark, 30, 50, "2024-01-02").coalesce(1), t)
    mixed = _df(spark, 50, 60, "2024-01-02").unionAll(
        _df(spark, 60, 75, "2024-01-03")
    )
    snapshot_append(mixed.coalesce(1), t)
    want = _scan_agg(spark, t, group_by="day")
    m = _read_manifest(spark, t, 3)
    clean_files = [f for f in m["files"]
                   if m["stats"][f]["day"][0] == m["stats"][f]["day"][1]]
    assert len(clean_files) == 2
    moved = []
    for f in clean_files:
        local = f.replace("file:", "")
        shutil.move(local, local + ".hidden")
        moved.append(local)
    try:
        got = snapshot_agg(spark, t, AGGS, group_by="day")
        _assert_same(got, want)
    finally:
        for local in moved:
            shutil.move(local + ".hidden", local)
    _assert_same(snapshot_agg(spark, t, AGGS, group_by="day"), want)


def test_null_groups_and_all_null_measures(spark, tmp_path):
    t = str(tmp_path / "t")
    base = spark.range(0, 20).select(
        F.col("id"),
        F.when(F.col("id") < 10, F.col("id").cast("double")).alias("v"),
        F.when(F.col("id") % 2 == 0, F.lit("2024-01-01"))
        .cast("date")
        .alias("day"),
    )
    snapshot_append(base.repartition(3), t, stats_cols=["v", "day"])
    # an ALL-NULL group file and an ALL-NULL measure file
    nulls = spark.range(20, 30).select(
        F.col("id"),
        F.lit(None).cast("double").alias("v"),
        F.lit(None).cast("date").alias("day"),
    )
    snapshot_append(nulls.coalesce(1), t)
    _assert_same(
        snapshot_agg(spark, t, AGGS, group_by="day"),
        _scan_agg(spark, t, group_by="day"),
    )
    _assert_same(snapshot_agg(spark, t, AGGS), _scan_agg(spark, t))


def test_nan_semantics_match_spark(spark, tmp_path):
    t = str(tmp_path / "t")
    df = spark.range(0, 10).select(
        F.col("id"),
        F.when(F.col("id") == 3, F.lit(float("nan")))
        .otherwise(F.col("id").cast("double"))
        .alias("v"),
        F.lit("2024-01-01").cast("date").alias("day"),
    )
    snapshot_append(df.coalesce(1), t, stats_cols=["v"])
    snapshot_append(_df(spark, 10, 20).coalesce(1), t)
    got = snapshot_agg(spark, t, AGGS)
    want = _scan_agg(spark, t)
    # NaN poisons sum/avg/max; min ignores NaN — both sides agree
    assert math.isnan(got["s"]) and math.isnan(want["s"])
    assert math.isnan(got["a"]) and math.isnan(want["a"])
    assert math.isnan(got["mx"]) and math.isnan(want["mx"])
    assert got["mn"] == want["mn"] == 0.0
    assert got["n"] == want["n"] and got["nv"] == want["nv"]


def test_int_sums_are_exact_beyond_double_precision(spark, tmp_path):
    """2^60-scale bigints: per-file sums go through decimal(38,0) and
    the driver combine is Python-int exact — a double fold would lose
    low bits."""
    t = str(tmp_path / "t")
    big = 1 << 60
    df = spark.range(0, 4).select(
        (F.lit(big) + F.col("id")).alias("v"),
        F.lit("2024-01-01").cast("date").alias("day"),
    )
    snapshot_append(df.coalesce(1), t, stats_cols=["v"])
    snapshot_append(df.coalesce(1), t)
    data_dir = str(tmp_path / "t" / "data")
    shutil.move(data_dir, data_dir + ".hidden")  # metadata-only proof
    try:
        got = snapshot_agg(spark, t, {"s": "sum(v)", "n": "count(v)"})
        assert got["s"] == 2 * (4 * big + 6) and isinstance(got["s"], int)
        assert got["n"] == 8
    finally:
        shutil.move(data_dir + ".hidden", data_dir)


def test_legacy_three_element_stats_fall_back_to_scan(spark, tmp_path):
    """Entries written before sums existed (3-element) must route sum
    queries to the scan — simulated by stripping the 4th element from
    the manifest JSON."""
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 25).coalesce(1), t, stats_cols=["v"])
    mpath = tmp_path / "t" / "_manifests" / ("v%010d.json" % 1)
    m = json.loads(mpath.read_text())
    for e in m["stats"].values():
        e["v"] = e["v"][:3]
    mpath.write_text(json.dumps(m))
    _assert_same(snapshot_agg(spark, t, AGGS), _scan_agg(spark, t))


def test_where_path_and_derived_group(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(
        _df(spark, 0, 40).repartition(2), t, stats_cols=["id", "v"]
    )
    got = snapshot_agg(spark, t, AGGS, where="id >= 10 AND id < 30")
    _assert_same(got, _scan_agg(spark, t, where="id >= 10 AND id < 30"))
    gotg = snapshot_agg(
        spark, t, AGGS, group_by="day", where="id >= 10"
    )
    _assert_same(gotg, _scan_agg(spark, t, group_by="day", where="id >= 10"))


def test_timestamp_and_version_travel(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 20).coalesce(1), t, stats_cols=["v"])
    snapshot_append(_df(spark, 20, 40).coalesce(1), t)
    _assert_same(
        snapshot_agg(spark, t, AGGS, version=1),
        _scan_agg(spark, t, version=1),
    )


def test_multi_column_grouping(spark, tmp_path):
    """group_by as a LIST: the day × tag dashboard shape — tuple keys,
    each column independently file-constant; a file mixed on EITHER
    column falls back; zero Spark jobs in the clean case."""
    t = str(tmp_path / "t")
    for day in ("2024-01-01", "2024-01-02"):
        for tag in ("a", "b"):
            df = spark.range(0, 25).select(
                (F.col("id") * 2).cast("double").alias("v"),
                F.lit(day).cast("date").alias("day"),
                F.lit(tag).alias("tag"),
            )
            snapshot_append(df.coalesce(1), t, stats_cols=["v", "day", "tag"])
    # one file with a NULL tag group and one mixed on tag (fallback)
    snapshot_append(
        spark.range(0, 10).select(
            F.col("id").cast("double").alias("v"),
            F.lit("2024-01-03").cast("date").alias("day"),
            F.lit(None).cast("string").alias("tag"),
        ).coalesce(1),
        t,
    )
    mixed = spark.range(0, 10).select(
        F.col("id").cast("double").alias("v"),
        F.lit("2024-01-03").cast("date").alias("day"),
        F.when(F.col("id") % 2 == 0, F.lit("a")).otherwise(F.lit("b")).alias("tag"),
    )
    snapshot_append(mixed.coalesce(1), t)

    def scan_multi(where=None):
        df = read_snapshot(spark, t)
        if where:
            df = df.filter(where)
        return {
            (r["day"], r["tag"]): {"n": r["n"], "s": r["s"]}
            for r in df.groupBy("day", "tag")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
            .collect()
        }

    got = snapshot_agg(
        spark, t, {"n": "count(*)", "s": "sum(v)"}, group_by=["day", "tag"]
    )
    _assert_same(got, scan_multi())
    # key SHAPE follows the argument's type: a one-element LIST keys by
    # 1-tuples (dynamic callers unpack uniformly); a plain string stays
    # scalar-keyed
    one = snapshot_agg(spark, t, {"n": "count(*)"}, group_by=["day"])
    assert all(isinstance(k, tuple) and len(k) == 1 for k in one)
    scalar = snapshot_agg(spark, t, {"n": "count(*)"}, group_by="day")
    assert {k[0] for k in one} == set(scalar)
    assert {v["n"] for v in one.values()} == {v["n"] for v in scalar.values()}
    # binary group keys are scan-path only (no stats domain) but must
    # work: bytearray values hash as bytes
    tb = str(tmp_path / "tb")
    snapshot_append(
        spark.range(0, 6).select(
            F.encode((F.col("id") % 2).cast("string"), "utf-8").alias("b"),
            F.col("id").cast("double").alias("v"),
        ).coalesce(1),
        tb,
    )
    gotb = snapshot_agg(spark, tb, {"n": "count(*)"}, group_by="b")
    assert {bytes(k): v["n"] for k, v in gotb.items()} == {
        b"0": 3, b"1": 3,
    }
    # where= composes: covered files stay metadata, boundary scans
    gotw = snapshot_agg(
        spark, t, {"n": "count(*)", "s": "sum(v)"},
        group_by=["day", "tag"], where="day <= '2024-01-02'",
    )
    _assert_same(gotw, scan_multi("day <= '2024-01-02'"))
    # zero-job proof for the clean single-pair files: hide only them
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        _read_manifest,
    )

    m = _read_manifest(spark, t, 6)
    clean = [
        f for f in m["files"]
        if m["stats"][f]["tag"][0] == m["stats"][f]["tag"][1]
        or m["stats"][f]["tag"][2] == m["file_meta"][f]["rows"]
    ]
    assert len(clean) == 5  # 4 (day, tag) pairs + the NULL-tag file
    want = scan_multi()
    moved = []
    for f in clean:
        local = f.replace("file:", "")
        shutil.move(local, local + ".hidden")
        moved.append(local)
    try:
        _assert_same(
            snapshot_agg(
                spark, t, {"n": "count(*)", "s": "sum(v)"},
                group_by=["day", "tag"],
            ),
            want,
        )
    finally:
        for local in moved:
            shutil.move(local + ".hidden", local)


def test_rejections(spark, tmp_path):
    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 5).coalesce(1), t, stats_cols=["v"])
    with pytest.raises(ValueError, match="unsupported aggregate"):
        snapshot_agg(spark, t, {"x": "median(v)"})
    with pytest.raises(ValueError, match="not an aggregate"):
        snapshot_agg(spark, t, {"x": "sum(*)"})
    with pytest.raises(ValueError, match="at least one"):
        snapshot_agg(spark, t, {})
    with pytest.raises(ValueError, match="neither a stats alias"):
        snapshot_agg(spark, t, {"x": "sum(nope)"})
    arr = spark.range(0, 5).select(
        F.array(F.col("id")).alias("g"), F.col("id").alias("v")
    )
    t2 = str(tmp_path / "t2")
    snapshot_append(arr, t2)
    with pytest.raises(ValueError, match="non-atomic"):
        snapshot_agg(spark, t2, {"n": "count(*)"}, group_by="g")


def _round_trips(spark, fn) -> int:
    """py4j commands sent while ``fn`` runs (this thread only runs it)."""
    client = type(spark.sparkContext._gateway._gateway_client)
    real, sent = client.send_command, [0]

    def counted(self, *args, **kwargs):
        sent[0] += 1
        return real(self, *args, **kwargs)

    client.send_command = counted
    try:
        fn()
    finally:
        client.send_command = real
    return sent[0]


def test_repeated_rollup_resolves_the_schema_once(spark, tmp_path, monkeypatch):
    """The manifest DDL and the aggregate columns' types are analysed once
    per session: a repeated rollup over the same schema skips the JVM
    parse and the per-column ``select`` analyses, and answers the same."""
    import weakref

    from mini_project_204721_data_engineering_spark.sources import snapshots

    t = str(tmp_path / "t")
    snapshot_append(_df(spark, 0, 30).coalesce(1), t, stats_cols=["id", "v", "day"])
    monkeypatch.setattr(snapshots, "_TYPES", weakref.WeakKeyDictionary())
    got = {}

    def rollup(k):
        got[k] = snapshot_agg(spark, t, AGGS, group_by="day")

    cold = _round_trips(spark, lambda: rollup("cold"))
    warm = _round_trips(spark, lambda: rollup("warm"))
    assert got["warm"] == got["cold"]
    assert warm < cold, (cold, warm)
    assert _round_trips(spark, lambda: rollup("warm")) < cold
