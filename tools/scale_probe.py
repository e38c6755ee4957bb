"""Measured scale evidence: run the core operator shapes on synthetic
data 100-400x the sf0.1 events table (driver sf0.1 events = 1e5 rows;
this generates 1e7-4e7) with a DELIBERATE hot key, and time them.

The point is to measure, not guess, the claims SCALE.md leans on.
Measured findings (SCALE.md "Measured at 100-400x" table):

1. the wide operators (asof union+window, rollup cascade)
   scale linearly-to-sublinearly from 1e7 to 4e7 rows; the rollup and
   the plain groupBy stay nearly FLAT because their shuffle volume is
   |groups|, not |rows| (map-side combine absorbs the growth);
2. for ALGEBRAIC aggregates, partial aggregation already neutralizes
   hot-key skew — salting a count costs ~20-150% extra (second shuffle
   phase) for nothing.  `salted_agg`'s lane is NON-combinable partials,
   not counts; the probe keeps both timings to document that honestly.

Data is generated deterministically from `spark.range` + xxhash64 (no
rand(): reruns are identical).  ~20% of rows share ONE hot user.

Usage: python tools/scale_probe.py [n_rows]   (default 10_000_000)
Prints one JSON line per probe and a summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


def synth_events(spark, n: int):
    """Deterministic events-shaped frame with a planted hot user (~20%)."""
    h = F.xxhash64(F.col("id"))
    return (
        spark.range(n)
        .select(
            F.col("id").alias("event_id"),
            # 30 days of event time, second granularity
            F.timestamp_seconds(
                F.lit(1704067200) + F.pmod(h, F.lit(30 * 86400))
            ).alias("ts"),
            # hot key: id % 5 == 0 -> user 0 (20% of all rows)
            F.when(F.col("id") % 5 == 0, F.lit(0))
            .otherwise(F.pmod(h, F.lit(50_000)))
            .alias("user_id"),
            F.element_at(
                F.array(*[F.lit(t) for t in ("click", "view", "signup", "purchase", "error")]),
                (F.pmod(h, F.lit(5)) + 1).cast("int"),
            ).alias("event_type"),
            (F.pmod(h, F.lit(1000)) / F.lit(1.0)).alias("value"),
        )
    )


def timed(name, fn, out):
    t0 = time.time()
    n = fn()
    sec = round(time.time() - t0, 3)
    rec = {"probe": name, "sec": sec, "rows": n}
    out.append(rec)
    print(json.dumps(rec), flush=True)
    return sec


def main() -> None:
    mode = "events"
    args = [a for a in sys.argv[1:]]
    if args and args[0] in ("events", "snap", "snap-manifest", "snap-big", "snap-contention", "snap-maint", "spill"):
        mode = args.pop(0)
    n = int(args[0]) if args else {
        "events": 10_000_000,
        "snap": 2_000_000, "snap-manifest": 100_000,
        "snap-big": 20_000_000, "snap-contention": 200_000,
        "snap-maint": 200_000, "spill": 30_000_000,
    }[mode]
    from mini_project_204721_data_engineering_spark.session import get_spark

    spark = get_spark("scale-probe")
    out: list[dict] = []
    if mode != "events":
        {"snap": probe_snap,
         "snap-manifest": probe_snap_manifest,
         "snap-big": probe_snap_big,
         "snap-contention": probe_snap_contention,
         "snap-maint": probe_snap_maintenance,
         "spill": probe_spill}[mode](spark, n, out)
        total = round(sum(r["sec"] for r in out), 3)
        print(json.dumps({"metric": f"scale_probe_{mode}_total", "value": total,
                          "unit": "sec", "n_rows": n,
                          "probes": {r["probe"]: r["sec"] for r in out}}))
        return
    ev = synth_events(spark, n).localCheckpoint(eager=True)  # materialize input once

    # every probe CONSUMES its computed measure (a bare count() would let
    # Catalyst prune the window/agg expressions and time only the scan)

    # 1. skew: plain groupBy vs salted two-phase on the hot-key distribution
    timed(
        "groupby_plain_skewed",
        lambda: ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum("n"))
        .collect()[0][0],
        out,
    )

    def salted():
        from mini_project_204721_data_engineering_spark.operators.skew import salted_agg

        return salted_agg(
            ev,
            keys=["user_id"],
            salt_from="event_id",
            partials={"n": (F.count(F.lit(1)), F.sum("n"))},
            n_salts=32,
        ).agg(F.sum("n")).collect()[0][0]

    timed("groupby_salted_skewed", salted, out)

    # 2. as-of join: every event against a daily per-user spine (fact-fact)
    def asof():
        from mini_project_204721_data_engineering_spark.operators.joins import asof_join

        right = (
            ev.groupBy("user_id", F.date_trunc("day", "ts").alias("rt"))
            .agg(F.sum("value").alias("spend"))
        )
        joined = asof_join(
            ev.select("event_id", "user_id", "ts"),
            right,
            on=["user_id"],
            left_time="ts",
            right_time="rt",
            payload=["spend"],
            payload_nonnull=True,
        )
        # consume the filled payload so the window cannot be pruned
        return joined.agg(F.count("spend")).collect()[0][0]

    timed("asof_union_window_fact_fact", asof, out)

    # 3b. as-of with tolerance: same union-window plan + the post-fill
    # staleness filter — must cost the same shape as the plain as-of
    def asof_tolerance():
        from mini_project_204721_data_engineering_spark.operators.joins import asof_join

        right = (
            ev.groupBy("user_id", F.date_trunc("day", "ts").alias("rt"))
            .agg(F.sum("value").alias("spend"))
        )
        joined = asof_join(
            ev.select("event_id", "user_id", "ts"),
            right,
            on=["user_id"],
            left_time="ts",
            right_time="rt",
            payload=["spend"],
            payload_nonnull=True,
            tolerance="INTERVAL '12' HOUR",
        )
        # count(spend) consumes the tolerance-nulled fill
        return joined.agg(F.count("spend")).collect()[0][0]

    timed("asof_union_window_tolerance_12h", asof_tolerance, out)

    # 3. hourly -> daily rollup cascade
    def rollup():
        from mini_project_204721_data_engineering_spark.operators.rollup import (
            reaggregate,
            rollup_time,
        )

        hourly = rollup_time(ev, "ts", "value", ["event_type"], "hour")
        daily = reaggregate(hourly, ["event_type"], "day")
        return daily.agg(F.count(F.lit(1)), F.sum("value_sum")).collect()[0][0]

    timed("rollup_cascade_hour_day", rollup, out)

    total = round(sum(r["sec"] for r in out), 3)
    print(
        json.dumps(
            {"metric": "scale_probe_total", "value": total, "unit": "sec", "n_rows": n,
             "probes": {r["probe"]: r["sec"] for r in out}}
        )
    )


def probe_snap(spark, n: int, out: list) -> None:
    """Snapshot-log probes: manifest-metadata cost as the log grows, and
    file-prune effectiveness for a key-range read over many files.
    20 commits x 10 files of range-partitioned ids with stats on id."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        read_snapshot,
        snapshot_append,
    )

    d = tempfile.mkdtemp(prefix="snap_probe_")
    t = d + "/t"
    n -= n % 20  # 20 equal commits: exact-count asserts need divisibility
    per = n // 20
    try:
        def commits():
            for i in range(20):
                df = (
                    spark.range(i * per, (i + 1) * per)
                    .select(F.col("id"), (F.col("id") % 97).alias("v"))
                    .repartitionByRange(10, "id")
                )
                snapshot_append(df, t, stats_cols=["id"])
            return 20

        timed("snap_20_commits_200_files_with_stats", commits, out)

        full = read_snapshot(spark, t)
        n_files_full = len(full.inputFiles())
        lo, hi = 3 * per, 3 * per + per // 2  # half of one commit's range
        pruned = read_snapshot(spark, t, prune={"id": (lo, hi)})
        n_files_pruned = len(pruned.inputFiles())

        def scan_full():
            return full.filter(F.col("id").between(lo, hi)).agg(
                F.sum("v")
            ).collect()[0][0]

        def scan_pruned():
            return pruned.filter(F.col("id").between(lo, hi)).agg(
                F.sum("v")
            ).collect()[0][0]

        a = timed(f"range_scan_full_{n_files_full}_files", scan_full, out)
        b = timed(f"range_scan_pruned_{n_files_pruned}_files", scan_pruned, out)
        assert scan_full() == scan_pruned()  # pruning never changes answers
        print(json.dumps({
            "probe": "prune_effectiveness",
            "files_full": n_files_full, "files_pruned": n_files_pruned,
            "speedup": round(a / b, 2) if b else None,
        }), flush=True)

        # read_snapshot_where: the engine derives the prune from an
        # ordinary WHERE clause — files planned must scale with the
        # range's SELECTIVITY, not the table's file count
        from mini_project_204721_data_engineering_spark.sources.snapshots import (
            read_snapshot_where,
        )

        from mini_project_204721_data_engineering_spark.sources.snapshots import (
            snapshot_count,
            snapshot_min_max,
            snapshot_plan_info,
        )

        sel_files = {}
        sel_bytes = {}
        for pct in (1, 10, 50):
            hi_q = n * pct // 100
            q = read_snapshot_where(spark, t, f"id >= 0 AND id < {hi_q}")
            sel_files[pct] = len(q.inputFiles())
            assert q.count() == hi_q
            # the plan_info probe prices the SAME predicate in bytes,
            # from the manifest alone (no scan, no Spark job)
            info = snapshot_plan_info(spark, t, f"id >= 0 AND id < {hi_q}")
            assert info["files_planned"] == sel_files[pct]
            sel_bytes[pct] = info["bytes_planned"]
        assert sel_files[1] < sel_files[10] < sel_files[50] < n_files_full
        assert sel_bytes[1] < sel_bytes[10] < sel_bytes[50]
        print(json.dumps({
            "probe": "read_where_selectivity",
            "files_full": n_files_full,
            "files_planned_by_pct": sel_files,
            "bytes_planned_by_pct": sel_bytes,
            "bytes_total": snapshot_plan_info(spark, t)["bytes_total"],
        }), flush=True)

        # metadata-only aggregates: the serving-path COUNT(*) / MIN/MAX
        # answered from the manifest (zero data files opened) vs the
        # full scan — the reference runs both on EVERY page request
        def meta_count():
            return snapshot_count(spark, t)

        def scan_count():
            return read_snapshot(spark, t).count()

        def meta_minmax():
            return snapshot_min_max(spark, t, "id")

        def scan_minmax():
            r = read_snapshot(spark, t).agg(
                F.min("id"), F.max("id")
            ).collect()[0]
            return (r[0], r[1])

        assert meta_count() == scan_count() == n
        assert meta_minmax() == scan_minmax() == (0, n - 1)
        mc = timed("count_metadata_only", meta_count, out)
        sc = timed("count_full_scan", scan_count, out)
        mm = timed("minmax_metadata_only", meta_minmax, out)
        sm = timed("minmax_full_scan", scan_minmax, out)
        print(json.dumps({
            "probe": "metadata_aggregates",
            "files": n_files_full,
            "count_scan_over_meta": round(sc / mc, 1) if mc else None,
            "minmax_scan_over_meta": round(sm / mm, 1) if mm else None,
        }), flush=True)

        # FILTERED count with full-coverage detection: interior files of
        # an id-range are provably predicate-TRUE row-wise and count
        # from the manifest; only the two boundary files scan
        lo_c, hi_c = per // 2, 7 * per - per // 2 - 1
        pred_c = f"id BETWEEN {lo_c} AND {hi_c}"

        def covered_count():
            return snapshot_count(spark, t, where=pred_c)

        def scan_where_count():
            return read_snapshot(spark, t).filter(pred_c).count()

        assert covered_count() == scan_where_count() == hi_c - lo_c + 1
        cc = timed("count_where_covered_hybrid", covered_count, out)
        cs = timed("count_where_full_scan", scan_where_count, out)
        info_c = snapshot_plan_info(spark, t, pred_c)
        print(json.dumps({
            "probe": "covered_count",
            "files_planned": info_c["files_planned"],
            "files_covered": info_c["files_covered"],
            "bytes_planned": info_c["bytes_planned"],
            "bytes_scanned": info_c["bytes_scanned"],
            "scan_over_hybrid": round(cs / cc, 1) if cc else None,
        }), flush=True)

        # grouped rollup from the manifest: daily appends lay one day
        # per commit; the per-day count/sum/avg rollup is then driver
        # arithmetic over O(files) manifest entries — zero Spark jobs —
        # vs the full-scan groupBy the reference recomputes per request
        from mini_project_204721_data_engineering_spark.sources.snapshots import (
            snapshot_agg,
        )

        t_roll = d + "/t_rollup"
        days = 25
        per_day = n // days
        for i in range(days):
            day_df = (
                spark.range(i * per_day, (i + 1) * per_day)
                .select(
                    F.col("id"),
                    (F.col("id") % 97).cast("double").alias("v"),
                    F.date_add(F.lit("2024-01-01").cast("date"), i).alias("day"),
                )
                .coalesce(2)
            )
            snapshot_append(day_df, t_roll, stats_cols=["v", "day"])
        roll_aggs = {"n": "count(*)", "s": "sum(v)", "a": "avg(v)"}

        def meta_rollup():
            return snapshot_agg(spark, t_roll, roll_aggs, group_by="day")

        def scan_rollup():
            return {
                r["day"]: {"n": r["n"], "s": r["s"], "a": r["a"]}
                for r in read_snapshot(spark, t_roll)
                .groupBy("day")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.sum("v").alias("s"),
                    F.avg("v").alias("a"),
                )
                .collect()
            }

        got_m, got_s = meta_rollup(), scan_rollup()
        assert set(got_m) == set(got_s) and all(
            got_m[k]["n"] == got_s[k]["n"]
            and abs(got_m[k]["s"] - got_s[k]["s"]) < 1e-6
            for k in got_m
        )
        mr = timed(
            "grouped_rollup_metadata_only", lambda: len(meta_rollup()), out
        )
        sr = timed(
            "grouped_rollup_full_scan", lambda: len(scan_rollup()), out
        )
        print(json.dumps({
            "probe": "metadata_grouped_rollup",
            "days": days,
            "rows": days * per_day,
            "scan_over_meta": round(sr / mr, 1) if mr else None,
        }), flush=True)

        # NDV sketch sidecars: distinct count from per-file HLL unions
        # (metadata-sized sidecar scan) vs the full-column pass
        from mini_project_204721_data_engineering_spark.sources.snapshots import (
            snapshot_ndv,
        )

        t_ndv = d + "/t_ndv"
        true_ndv = min(100_000, n // 2)  # n is CLI-overridable
        keyed_ndv = (
            spark.range(n // 2)
            .select((F.col("id") % true_ndv).alias("k"))
            .repartition(16)
        )
        snapshot_append(keyed_ndv, t_ndv, ndv_cols=["k"])

        def meta_ndv():
            return snapshot_ndv(spark, t_ndv, "k")

        def scan_ndv():
            return (
                read_snapshot(spark, t_ndv)
                .agg(F.countDistinct("k"))
                .collect()[0][0]
            )

        est = meta_ndv()
        assert abs(est - true_ndv) / true_ndv < 0.05
        nv = timed("ndv_sketch_union", meta_ndv, out)
        ns = timed("ndv_exact_full_scan", scan_ndv, out)
        print(json.dumps({
            "probe": "ndv_sidecars",
            "estimate": est,
            "true": true_ndv,
            "rel_err": round(abs(est - true_ndv) / true_ndv, 4),
            "scan_over_sketch": round(ns / nv, 1) if nv else None,
        }), flush=True)

        # bloom point-lookup: a hash-distributed key prunes NOTHING by
        # min/max (every file spans the hex space); the per-file SBBF
        # sidecar plans ~1 file.  Twin tables, same data, ± bloom_cols.
        t_bl, t_nobl = d + "/t_bloom", d + "/t_nobloom"
        keyed = (
            spark.range(n // 10)
            .select(
                F.col("id"),
                F.sha2(F.col("id").cast("string"), 256).alias("doc_id"),
                (F.col("id") % 97).alias("v"),
            )
            .repartition(20)
        )
        snapshot_append(keyed, t_bl, bloom_cols=["doc_id"])
        snapshot_append(keyed, t_nobl)
        needle_id = (n // 10) // 2  # mid-keyspace, valid for ANY probe n
        needle_row = keyed.filter(F.col("id") == needle_id).collect()[0]
        needle = needle_row["doc_id"]

        files_seen: dict = {}

        def lookup(tbl):
            def go():
                q = read_snapshot_where(spark, tbl, f"doc_id = '{needle}'")
                files_seen[tbl] = len(q.inputFiles())
                assert q.count() == 1
                return files_seen[tbl]
            return go

        lb = timed("point_lookup_bloom", lookup(t_bl), out)
        ln = timed("point_lookup_no_bloom", lookup(t_nobl), out)
        f_bl, f_nobl = files_seen[t_bl], files_seen[t_nobl]
        assert f_bl < f_nobl
        print(json.dumps({
            "probe": "bloom_point_lookup",
            "files_planned_bloom": f_bl,
            "files_planned_no_bloom": f_nobl,
            "no_bloom_over_bloom": round(ln / lb, 2) if lb else None,
        }), flush=True)

        # delete-mode economics: the same one-key takedown as CoW rewrite
        # vs merge-on-read (zero bytes moved) — both answers identical
        from mini_project_204721_data_engineering_spark.sources.snapshots import (
            snapshot_clone,
            snapshot_delete_where,
        )

        t_cow, t_lazy = d + "/t_cow", d + "/t_lazy"
        snapshot_clone(spark, t, t_cow)
        snapshot_clone(spark, t, t_lazy)
        pred = f"id = {3 * per + 7}"

        def cow():
            m = snapshot_delete_where(spark, t_cow, pred)
            return m["meta"]["rewritten_files"]

        def lazy():
            m = snapshot_delete_where(spark, t_lazy, pred, lazy=True)
            assert m["meta"]["rewritten_files"] == 0
            return m["meta"]["filtered_files"]

        c1 = timed("delete_one_key_cow", cow, out)
        c2 = timed("delete_one_key_lazy", lazy, out)
        # real equivalence oracle: identical row SETS, not just counts
        a_df, b_df = read_snapshot(spark, t_cow), read_snapshot(spark, t_lazy)
        assert a_df.exceptAll(b_df).limit(1).count() == 0
        assert b_df.exceptAll(a_df).limit(1).count() == 0
        print(json.dumps({"probe": "lazy_delete_speedup",
                          "cow_over_lazy": round(c1 / c2, 2) if c2 else None}),
              flush=True)

        # stacked-takedown read economics: N pending predicate-lazy
        # entries RE-EVALUATE their predicates on every covered read
        # (cost ∝ N × predicate cost × rows), N DV entries read as ONE
        # unioned anti-join (cost flat in both N and predicate cost).
        # Takedown predicates at scale are hash/identifier matches, not
        # cheap arithmetic — use the sha2-match shape, 8 stacked,
        # answers identical.
        t_stk_lazy, t_stk_dv = d + "/t_stk_lazy", d + "/t_stk_dv"
        snapshot_clone(spark, t, t_stk_lazy)
        snapshot_clone(spark, t, t_stk_dv)
        for k in range(8):
            pred_k = (
                f"substr(sha2(CAST(id AS STRING), 256), 1, 2) = '{k:02x}'"
            )
            snapshot_delete_where(spark, t_stk_lazy, pred_k, lazy=True)
            snapshot_delete_where(spark, t_stk_dv, pred_k, lazy="dv")

        def read_stacked(tbl):
            def go():
                return read_snapshot(spark, tbl).agg(F.sum("v")).collect()[0][0]
            return go

        r_lazy = timed("read_8_stacked_predicate_lazy", read_stacked(t_stk_lazy), out)
        r_dv = timed("read_8_stacked_dv", read_stacked(t_stk_dv), out)
        assert read_stacked(t_stk_lazy)() == read_stacked(t_stk_dv)()
        plan = read_snapshot(spark, t_stk_dv)._jdf.queryExecution().executedPlan().toString()
        print(json.dumps({
            "probe": "stacked_takedown_read",
            "n_takedowns": 8,
            "predicate_shape": "sha2-identifier-match",
            "dv_antijoins_in_plan": plan.count("LeftAnti"),
            "lazy_over_dv": round(r_lazy / r_dv, 2) if r_dv else None,
        }), flush=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def probe_snap_manifest(spark, n: int, out: list) -> None:
    """The 'manifests are O(live files) driver JSON' claim, measured at
    1e4 and 1e5 file entries: manifest write (the real O_EXCL commit
    path), tip resolution (version listing + JSON parse), and stats
    prune for a narrow key range.  File entries are synthetic (nothing
    scans them — these are driver-metadata timings, the exact surface
    the claim is about) but flow through the REAL manifest writer,
    reader, and pruner."""
    import shutil
    import tempfile
    import time as _time

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        _list_versions,
        _prune_files,
        _read_manifest,
        _try_write_manifest,
    )

    d = tempfile.mkdtemp(prefix="snap_manifest_probe_")
    try:
        for n_files in (10_000, 100_000):
            t = f"{d}/t{n_files}"
            rows_per_file = 1000
            manifest = {
                "version": 1, "parent": 0, "ts": _time.time(), "op": "append",
                "schema": "id bigint,v bigint", "table_id": "probe",
                "files": [
                    f"{t}/data/part-{i:06d}.parquet" for i in range(n_files)
                ],
                "stats": {
                    f"{t}/data/part-{i:06d}.parquet": {
                        "id": [i * rows_per_file, (i + 1) * rows_per_file - 1]
                    }
                    for i in range(n_files)
                },
                "stats_cols": {"id": "id"},
                "txn": {}, "meta": {},
            }

            def write(m=manifest, tt=t):
                assert _try_write_manifest(spark, tt, 1, m)
                return n_files

            timed(f"manifest_write_{n_files}_files", write, out)

            def resolve(tt=t):
                v = _list_versions(spark, tt)[-1]
                return len(_read_manifest(spark, tt, v)["files"])

            timed(f"tip_resolve_{n_files}_files", resolve, out)

            lo = (n_files // 2) * rows_per_file
            m_loaded = _read_manifest(spark, t, 1)

            def prune(m=m_loaded, lo=lo):
                kept = _prune_files(m, {"id": (lo, lo + 5 * rows_per_file)})
                assert len(kept) == 6, len(kept)
                return len(kept)

            timed(f"stats_prune_{n_files}_files", prune, out)
            import os as _os

            size = _os.path.getsize(f"{t}/_manifests/v{1:010d}.json")
            print(json.dumps({"probe": f"manifest_bytes_{n_files}_files",
                              "bytes": size}), flush=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def probe_snap_big(spark, n: int, out: list) -> None:
    """Metadata-layer flatness at a 2,000-file manifest (task: prove the
    zero/near-zero-job serving ops stay manifest-sized while scans grow
    with the data): 200 commits x 10 files, day-constant per commit,
    stats on (id, day, v-sum), HLL sidecars on user_id.  Each
    metadata-only answer is asserted EQUAL to the warm full scan."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        read_snapshot,
        snapshot_agg,
        snapshot_count,
        snapshot_min_max,
        snapshot_ndv,
        snapshot_plan_info,
        snapshot_append,
    )

    d = tempfile.mkdtemp(prefix="snap_big_")
    t = d + "/t"
    n -= n % 200
    per = n // 200
    try:
        def commits():
            for i in range(200):
                df = (
                    spark.range(i * per, (i + 1) * per)
                    .select(
                        F.col("id"),
                        F.lit(f"2024-01-01").cast("date")
                        + F.lit(i).cast("int"),
                        (F.col("id") % 97).cast("double").alias("v"),
                        (F.col("id") % 10007).alias("user_id"),
                    )
                    .toDF("id", "day", "v", "user_id")
                    .repartitionByRange(10, "id")
                )
                snapshot_append(
                    df, t, stats_cols=["id", "day", "v"],
                    ndv_cols=["user_id"],
                )
            return 200

        timed("snap_big_200_commits_2000_files", commits, out)
        full = read_snapshot(spark, t)
        warm = full.count()  # warm the scan path
        assert warm == n

        def scan_count():
            return read_snapshot(spark, t).count()

        def meta_count():
            return snapshot_count(spark, t)

        a = timed("full_scan_count_2000_files", scan_count, out)
        b = timed("metadata_count_2000_files", meta_count, out)
        assert snapshot_count(spark, t) == n

        def scan_rollup():
            return (
                read_snapshot(spark, t)
                .groupBy("day")
                .agg(F.count(F.lit(1)).alias("c"), F.sum("v").alias("s"))
                .count()
            )

        def meta_rollup():
            return len(
                snapshot_agg(
                    spark, t, {"c": "count(*)", "s": "sum(v)"}, group_by="day"
                )
            )

        c = timed("full_scan_rollup_200_days", scan_rollup, out)
        dsec = timed("metadata_rollup_200_days", meta_rollup, out)
        assert meta_rollup() == 200

        def meta_minmax():
            return snapshot_min_max(spark, t, "id")

        timed("metadata_min_max", lambda: (meta_minmax(), 1)[1], out)
        assert meta_minmax() == (0, n - 1)

        def grouped_ndv():
            return len(
                snapshot_agg(
                    spark, t, {"u": "approx_ndv(user_id)"}, group_by="day"
                )
            )

        timed("sidecar_grouped_ndv_200_days", grouped_ndv, out)

        def table_ndv():
            return snapshot_ndv(spark, t, "user_id")

        est = table_ndv()
        true_ndv = min(n, 10007)
        assert abs(est - true_ndv) / true_ndv < 0.05, (est, true_ndv)
        timed("sidecar_table_ndv", table_ndv, out)

        info = snapshot_plan_info(spark, t, predicate=f"id < {per}")
        print(json.dumps({
            "probe": "plan_info_selectivity",
            "files_total": info["files_total"],
            "files_planned": info["files_planned"],
            "count_speedup": round(a / b, 2) if b else None,
            "rollup_speedup": round(c / dsec, 2) if dsec else None,
        }), flush=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def probe_snap_contention(spark, n: int, out: list) -> None:
    """Optimistic-concurrency THROUGHPUT under contention: W concurrent
    writers (threads; the commit claim is O_EXCL, not a JVM lock — the
    cross-process pin is a separate pytest) doing mixed append/CoW-delete
    on ONE table.  Reports commits/sec at 1/2/4/8 writers and asserts
    zero aborts-to-exhaustion (liveness)."""
    import shutil
    import tempfile
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        _list_versions,
        read_snapshot,
        snapshot_append,
        snapshot_delete_where,
    )

    per_writer = 6
    for writers in (1, 2, 4, 8):
        d = tempfile.mkdtemp(prefix=f"snap_cont_{writers}_")
        t = d + "/t"
        snapshot_append(
            spark.range(n).select(
                F.col("id"), (F.col("id") % 101).alias("k")
            ).coalesce(4),
            t,
        )
        errors: list = []

        def work(w):
            try:
                for i in range(per_writer):
                    if i % 3 == 2:
                        # CoW rewrites are conservative-serializable:
                        # ANY concurrent commit aborts them and the
                        # CALLER retries the whole read-rewrite-commit
                        # (the documented contract) — liveness means
                        # the retry loop converges, not that the first
                        # attempt wins
                        import random as _rnd
                        import time as _time

                        for attempt in range(50):
                            try:
                                snapshot_delete_where(
                                    spark, t,
                                    f"id % 1009 = {w * per_writer + i}",
                                    lazy=False,
                                )
                                break
                            except RuntimeError:
                                # full-jitter backoff before redoing the
                                # read-rewrite-commit (the rewrite is a
                                # Spark job — colliding redos in
                                # lockstep waste whole cluster passes)
                                _time.sleep(_rnd.uniform(0, min(0.05 * (2 ** min(attempt, 4)), 0.5)))
                                continue
                        else:
                            raise RuntimeError("delete never converged")
                    else:
                        snapshot_append(
                            spark.range(2000).select(
                                (F.col("id") + 10_000_000 * (w + 1) + i)
                                .alias("id"),
                                (F.col("id") % 101).alias("k"),
                            ).coalesce(1),
                            t,
                        )
            except Exception as e:  # exhaustion = liveness failure
                errors.append(repr(e))

        def run():
            with ThreadPoolExecutor(max_workers=writers) as ex:
                list(ex.map(work, range(writers)))
            return writers * per_writer

        sec = timed(f"contention_{writers}_writers_{writers * per_writer}_commits", run, out)
        versions = _list_versions(spark, t)
        assert not errors, errors[:2]
        assert len(versions) == 1 + writers * per_writer, (
            len(versions), writers)
        read_snapshot(spark, t).count()  # table still readable
        print(json.dumps({
            "probe": f"contention_{writers}_writers_rate",
            "commits_per_sec": round(writers * per_writer / sec, 2) if sec else None,
            "aborts": len(errors),
        }), flush=True)
        shutil.rmtree(d, ignore_errors=True)


def probe_snap_maintenance(spark, n: int, out: list) -> None:
    """Maintenance-vs-writer contention (r15 judge task): a
    catalog_maintain loop (compact write specs through multi_table_txn)
    racing W appenders on one enrolled table.  Reports append
    commits/sec SOLO vs UNDER MAINTENANCE, the number of maintenance
    transactions that landed, and asserts the safety clauses: zero
    retry exhaustion, no lost updates (row multiset exact), and a
    catalog_changes window spanning the interleaved compacts reading
    as the pure append delta."""
    import shutil
    import tempfile
    import threading
    import time as _time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import functions as F

    from mini_project_204721_data_engineering_spark.sources.txn_catalog import (
        catalog_changes,
        catalog_history,
        catalog_init,
        catalog_maintain,
        catalog_read,
        multi_table_txn,
    )

    writers, per = 4, 6
    rows_per = max(1, n // (writers * per))
    for with_maint in (False, True):
        d = tempfile.mkdtemp(prefix="snap_maint_")
        cat = d + "/cat"
        catalog_init(spark, cat, {"facts": d + "/facts"})
        for j in range(6):  # fragmented seed: first sweep has work
            multi_table_txn(
                spark, cat,
                {"facts": {"op": "append",
                           "df": spark.range(100 * j, 100 * (j + 1))
                           .coalesce(1)}},
            )
        cursor = catalog_history(spark, cat)[-1]["version"]
        errors: list = []
        maint_txns: list = []
        done = threading.Event()

        def appender(w):
            try:
                for i in range(per):
                    df = spark.range(rows_per).select(
                        (F.col("id") + 10_000_000 * (w + 1) + rows_per * i)
                        .alias("id")
                    ).coalesce(1)
                    multi_table_txn(
                        spark, cat, {"facts": {"op": "append", "df": df}}
                    )
            except Exception as e:
                errors.append(repr(e))

        def maintainer():
            try:
                while True:
                    res = catalog_maintain(
                        spark, cat, target_file_bytes=512 * 1024
                    )
                    maint_txns.extend(res["executed"])
                    if done.is_set():
                        break
                    _time.sleep(0.2)
            except Exception as e:
                errors.append(repr(e))

        def run():
            with ThreadPoolExecutor(max_workers=writers + 1) as ex:
                futs = [ex.submit(appender, w) for w in range(writers)]
                m = ex.submit(maintainer) if with_maint else None
                for f in futs:
                    f.result()
                done.set()
                if m is not None:
                    m.result()
            return writers * per

        tag = "under_maintenance" if with_maint else "solo"
        sec = timed(f"maint_appends_{tag}_{writers}x{per}", run, out)
        assert not errors, errors[:2]
        count = catalog_read(spark, cat, "facts").count()
        assert count == 600 + writers * per * rows_per, (count, tag)
        if with_maint:
            assert maint_txns, "maintenance never landed — vacuous probe"
            delta = catalog_changes(spark, cat, cursor)["facts"]
            assert delta.count() == writers * per * rows_per
        print(json.dumps({
            "probe": f"maint_{tag}_rate",
            "append_commits_per_sec": round(writers * per / sec, 2) if sec else None,
            "maintenance_txns": len(maint_txns),
        }), flush=True)
        shutil.rmtree(d, ignore_errors=True)


def probe_spill(spark, n: int, out: list) -> None:
    """Spill honesty: the SAME larger-than-heap aggregate+sort workload
    in (a) this comfortable session and (b) a CHILD driver capped at
    700 MB heap — the child must complete correctly (external
    spill paths), and the recorded ratio is the degradation factor.
    ~n rows x ~120-byte synthetic payload >> 700 MB at the default n."""
    import os
    import subprocess
    import sys as _sys
    import textwrap

    from pyspark.sql import functions as F

    def workload(s):
        df = s.range(n).select(
            F.col("id"),
            (F.col("id") % 1_000_003).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"),
        )
        agg = (
            df.groupBy("k")
            .agg(F.count(F.lit(1)).alias("c"), F.max("pad").alias("mp"))
            .orderBy(F.desc("c"), F.col("k"))
        )
        row = agg.limit(1).collect()[0]
        return int(row["c"])

    got_box: list = []

    def run_once():
        got_box.append(workload(spark))
        return n

    want = timed("spill_workload_comfortable_128g", run_once, out)
    expect = got_box[0]

    child_code = textwrap.dedent(f"""
        import json, time
        from pyspark.sql import SparkSession, functions as F
        s = (SparkSession.builder.master("local[4]")
             .config("spark.driver.memory", "700m")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.shuffle.partitions", "16")
             .getOrCreate())
        t0 = time.time()
        df = s.range({n}).select(
            F.col("id"), (F.col("id") % 1_000_003).alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pad"))
        agg = (df.groupBy("k")
               .agg(F.count(F.lit(1)).alias("c"), F.max("pad").alias("mp"))
               .orderBy(F.desc("c"), F.col("k")))
        row = agg.limit(1).collect()[0]
        print(json.dumps({{"sec": round(time.time() - t0, 3),
                           "c": int(row["c"])}}))
        s.stop()
    """)
    env = dict(os.environ)
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env["PYTHONPATH"] = repo_root + os.pathsep + env.get("PYTHONPATH", "")
    t0 = time.time()
    res = subprocess.run(
        [_sys.executable, "-c", child_code], env=env,
        capture_output=True, text=True, timeout=3600,
    )
    assert res.returncode == 0, res.stderr[-2000:]
    child = json.loads(res.stdout.strip().splitlines()[-1])
    out.append({"probe": "spill_workload_tiny_700m_child",
                "sec": child["sec"], "rows": n})
    print(json.dumps(out[-1]), flush=True)
    assert child["c"] == expect, (child["c"], expect)
    print(json.dumps({
        "probe": "spill_degradation",
        "comfortable_sec": want,
        "tiny_heap_sec": child["sec"],
        "factor": round(child["sec"] / want, 2) if want else None,
    }), flush=True)


if __name__ == "__main__":
    main()
