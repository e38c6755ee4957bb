"""Operator-level tests: query builder, joins, dedup, aggregates."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.operators.aggregates import min_coord_step, weighted_mean
from mini_project_204721_data_engineering_spark.operators.dedup import dedup_keep_first
from mini_project_204721_data_engineering_spark.operators.joins import anti_join, semi_join
from mini_project_204721_data_engineering_spark.operators.query_builder import ListQuery


def _people(spark):
    rows = [Row(id=i, grp=i % 3, val=float(100 - i)) for i in range(30)]
    return spark.createDataFrame(rows)


def test_listquery_pagination_covers_all_rows_once(spark):
    df = _people(spark)
    q = ListQuery(
        base=df,
        sortable={"val": F.col("val")},
        default_order="val",
        tiebreaker=F.col("id"),
    )
    seen = []
    for page in range(1, 5):
        seen += [r["id"] for r in q.page_df(page=page, page_size=10, order_by="val").collect()]
    assert sorted(seen[:30]) == list(range(30))
    assert len(seen) == 30  # page 4 empty


def test_listquery_eq_all_sentinel_disables(spark):
    df = _people(spark)
    q = ListQuery(base=df, sortable={"id": F.col("id")}, default_order="id")
    q.eq(F.col("grp"), "all")
    assert q.count() == 30
    q.eq(F.col("grp"), 1)
    assert q.count() == 10


def test_listquery_fetch_clamps_page(spark):
    df = _people(spark)
    q = ListQuery(base=df, sortable={"id": F.col("id")}, default_order="id")
    page = q.fetch(page=99, page_size=10)
    assert page.total == 30 and page.total_pages == 3 and page.page == 3
    assert len(page.df.collect()) == 10


def test_anti_and_semi_join_partition(spark):
    left = spark.createDataFrame([Row(k=i) for i in range(10)])
    right = spark.createDataFrame([Row(k=i) for i in range(0, 10, 2)])
    missing = {r["k"] for r in anti_join(left, right, ["k"]).collect()}
    present = {r["k"] for r in semi_join(left, right, ["k"]).collect()}
    assert missing == {1, 3, 5, 7, 9}
    assert present == {0, 2, 4, 6, 8}
    assert missing | present == set(range(10))


def test_dedup_keep_first_deterministic(spark):
    rows = [
        Row(k="a", seq=2, v="second"),
        Row(k="a", seq=1, v="first"),
        Row(k="b", seq=5, v="only"),
    ]
    df = spark.createDataFrame(rows)
    out = {r["k"]: r["v"] for r in dedup_keep_first(df, ["k"], [F.col("seq").asc()]).collect()}
    assert out == {"a": "first", "b": "only"}


def test_weighted_mean_matches_manual(spark):
    rows = [Row(g="x", v=10.0, w=1.0), Row(g="x", v=20.0, w=3.0), Row(g="y", v=5.0, w=2.0)]
    df = spark.createDataFrame(rows)
    out = {
        r["g"]: r["wm"]
        for r in weighted_mean(df, ["g"], F.col("v"), F.col("w"), "wm").collect()
    }
    assert abs(out["x"] - 17.5) < 1e-12
    assert abs(out["y"] - 5.0) < 1e-12


def test_min_coord_step(spark):
    df = spark.createDataFrame([Row(lat=v) for v in [0.0, 0.05, 0.10, 0.20, 0.05]])
    step = min_coord_step(df, "lat").collect()[0]["step"]
    assert abs(step - 0.05) < 1e-9


def test_asof_join_picks_latest_at_or_before(spark):
    from mini_project_204721_data_engineering_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [Row(k=1, t=5, tag="a"), Row(k=1, t=10, tag="b"), Row(k=1, t=2, tag="c"),
         Row(k=2, t=7, tag="d"), Row(k=3, t=1, tag="e")]
    )
    right = spark.createDataFrame(
        [Row(k=1, rt=3, v=30.0), Row(k=1, rt=10, v=100.0), Row(k=2, rt=9, v=90.0)]
    )
    out = {
        r["tag"]: (r["rt"], r["v"])
        for r in asof_join(
            left, right, on=["k"], left_time="t", right_time="rt", payload=["rt", "v"]
        ).collect()
    }
    assert out["a"] == (3, 30.0)      # latest rt <= 5 is 3
    assert out["b"] == (10, 100.0)    # equal timestamp is inclusive
    assert out["c"] == (None, None)   # nothing at or before t=2
    assert out["d"] == (None, None)   # k=2 only has rt=9 > 7
    assert out["e"] == (None, None)   # key absent on right


def test_packed_order_key_isomorphic_to_tuple_order(spark):
    """r15: packed_order_key(major, minor) must order EXACTLY like the
    tuple (major, minor) — including negative majors, major boundaries
    (±2^63-adjacent), and the full bigint minor range — and unpack_minor
    must invert it (pmod semantics for negative packed values)."""
    from mini_project_204721_data_engineering_spark.operators.dedup import (
        packed_order_key,
        unpack_minor,
    )

    majors = [-(2**62), -1_000_000, -1, 0, 1, 7, 10**15, 2**62]
    minors = [0, 1, 5, 10**18, 2**63 - 1]
    rows = [
        Row(i=i, major=m, minor=n)
        for i, (m, n) in enumerate((m, n) for m in majors for n in minors)
    ]
    df = spark.createDataFrame(rows).select(
        "i",
        "major",
        "minor",
        packed_order_key(F.col("major"), F.col("minor")).alias("packed"),
        unpack_minor(
            packed_order_key(F.col("major"), F.col("minor"))
        ).alias("roundtrip"),
    )
    got = df.collect()
    # round-trip: minor recovered exactly for every (major, minor) pair
    assert all(r["roundtrip"] == r["minor"] for r in got)
    # order isomorphism: sorting by packed == sorting by the tuple
    by_packed = [r["i"] for r in sorted(got, key=lambda r: r["packed"])]
    by_tuple = [r["i"] for r in sorted(got, key=lambda r: (r["major"], r["minor"]))]
    assert by_packed == by_tuple


def test_dedup_keep_first_packed_matches_window_form(spark):
    """r15: the packed id-projection form must pick the same winner id as
    the window form under (major, id) ascending — ties on major broken by
    id, negative majors included.  (NULL majors are out of contract: the
    packed form's min() skips NULL keys while struct-min sorts them
    first — both call sites guard with non-null order columns.)"""
    from mini_project_204721_data_engineering_spark.operators.dedup import (
        dedup_keep_first,
        dedup_keep_first_packed,
    )

    df = spark.createDataFrame(
        [
            Row(k="a", o=3, id=1),
            Row(k="a", o=-5, id=2),   # negative major wins
            Row(k="a", o=-5, id=7),   # tie on major → lower id wins
            Row(k="b", o=0, id=4),
            Row(k="b", o=0, id=3),
            Row(k="c", o=7, id=6),
        ]
    )
    win = {
        r["k"]: r["id"]
        for r in dedup_keep_first(
            df, ["k"], [F.col("o").asc(), F.col("id").asc()]
        ).collect()
    }
    packed = {
        r["k"]: r["id"]
        for r in dedup_keep_first_packed(df, ["k"], F.col("o"), "id").collect()
    }
    assert packed == win == {"a": 2, "b": 3, "c": 6}


def test_asof_join_nonnull_fast_path_matches_struct_path(spark):
    """payload_nonnull=True (flat per-column fill) must be row-for-row
    identical to the general struct path whenever the right-side payload
    columns are all non-null — including at equal timestamps."""
    from mini_project_204721_data_engineering_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [Row(k=1, t=5, tag="a"), Row(k=1, t=10, tag="b"), Row(k=1, t=2, tag="c"),
         Row(k=2, t=7, tag="d"), Row(k=3, t=1, tag="e"), Row(k=2, t=9, tag="f")]
    )
    right = spark.createDataFrame(
        [Row(k=1, rt=3, v=30.0, n=1), Row(k=1, rt=10, v=100.0, n=2),
         Row(k=2, rt=9, v=90.0, n=3)]
    )
    kw = dict(on=["k"], left_time="t", right_time="rt", payload=["rt", "v", "n"])
    slow = sorted(map(tuple, asof_join(left, right, **kw).collect()))
    fast = sorted(
        map(tuple, asof_join(left, right, payload_nonnull=True, **kw).collect())
    )
    assert fast == slow


def test_write_geojson_roundtrip(tmp_path):
    import json

    import pandas as pd

    from mini_project_204721_data_engineering_spark.sources.geometry import write_geojson

    pdf = pd.DataFrame(
        {
            "province": ["P1"],
            "district": ["D1"],
            "wkt": ["POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"],
        }
    )
    path = str(tmp_path / "out.geojson")
    assert write_geojson(pdf, path) == 1
    gj = json.load(open(path))
    assert gj["type"] == "FeatureCollection"
    f = gj["features"][0]
    assert f["properties"] == {"province": "P1", "district": "D1"}
    assert f["geometry"]["coordinates"][0][0] == [0.0, 0.0]
    assert len(f["geometry"]["coordinates"][0]) == 5


def test_recommend_salt_planted_hot_key_consumed_by_salted_agg(spark):
    """20% of all rows on ONE key: the recommendation must be exactly
    the reducer-overload split (ceil(max_group / (tolerance x fair
    share))), and salted_agg fed the recommendation must equal the
    plain groupBy — the measure->act loop end to end."""
    import math

    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
        salted_agg,
    )
    from pyspark.sql import functions as F

    rows = [(0, i) for i in range(2000)] + [
        (1 + i % 400, i) for i in range(2000, 10000)
    ]
    df = spark.createDataFrame(rows, "k int, id int")
    rec = recommend_salt(df, ["k"], n_partitions=32)
    fair = 10_000 / 32
    assert rec["max_group"] == 2000 and rec["total_rows"] == 10_000
    assert rec["n_salts"] == math.ceil(2000 / (2.0 * fair)) == 4
    assert "salt 4x" in rec["reason"]
    got = {
        r["k"]: r["n"]
        for r in salted_agg(
            df, ["k"], "id",
            {"n": (F.count(F.lit(1)), F.sum("n"))}, n_salts=rec,
        ).collect()
    }
    plain = {r["k"]: r["count"] for r in df.groupBy("k").count().collect()}
    assert got == plain


def test_recommend_salt_uniform_keys_say_none_needed(spark):
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
    )

    df = spark.createDataFrame(
        [(i % 1000, i) for i in range(10_000)], "k int, id int"
    )
    rec = recommend_salt(df, ["k"], n_partitions=32)
    assert rec["n_salts"] == 1 and rec["reason"].startswith("none needed")
    # empty input: no division by zero, no salting
    empty = recommend_salt(df.filter("k < 0"), ["k"], n_partitions=32)
    assert empty["n_salts"] == 1 and empty["reason"] == "empty input"


def test_recommend_salt_cap_and_validation(spark):
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
        salted_agg,
    )
    import pytest as _pytest

    one_key = spark.createDataFrame([(7, i) for i in range(500)], "k int, id int")
    # everything is one group at a tight tolerance: the uncapped split
    # would be 8 (500 / (0.5 x 125)) — cap at n_partitions, never beyond
    rec = recommend_salt(one_key, ["k"], n_partitions=4, tolerance=0.5)
    assert rec["n_salts"] == 4
    with _pytest.raises(ValueError, match="n_partitions"):
        recommend_salt(one_key, ["k"], n_partitions=0)
    with _pytest.raises(ValueError, match="tolerance"):
        recommend_salt(one_key, ["k"], tolerance=0)
    with _pytest.raises(ValueError, match="n_salts"):
        salted_agg(one_key, ["k"], "id", {}, n_salts={"n_salts": 0})


def test_recommend_salt_accepts_cached_profile(spark):
    """The skew profile is a property of the data, not the query: a
    caller salting the same table in N stages pays the diagnostic scan
    ONCE and replays the row — df=None proves structurally that the
    cached path does zero Spark work."""
    import pytest as _pytest

    from mini_project_204721_data_engineering_spark.operators.profile import (
        key_skew_profile,
    )
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
    )

    rows = [(0, i) for i in range(900)] + [(k, 0) for k in range(1, 101)]
    df = spark.createDataFrame(rows, "k int, id int")
    prof = key_skew_profile(df, ["k"]).collect()[0]
    live = recommend_salt(df, ["k"], n_partitions=32)
    cached = recommend_salt(None, ["k"], n_partitions=32, profile=prof)
    assert cached == live and cached["n_salts"] > 1
    # the dict form works too (a JSON-cached profile round-trips)
    assert recommend_salt(None, ["k"], n_partitions=32, profile=prof.asDict()) == live
    with _pytest.raises(ValueError, match="n_partitions"):
        recommend_salt(None, ["k"], profile=prof)
    with _pytest.raises(ValueError, match="missing key_skew_profile"):
        recommend_salt(None, ["k"], n_partitions=32, profile={"total_rows": 1})
    with _pytest.raises(ValueError, match="DataFrame or a precomputed"):
        recommend_salt(None, ["k"], n_partitions=32)


def test_recommend_salt_validates_profile_keys(spark):
    """A profile built with include_keys=True carries its provenance:
    replaying it against DIFFERENT keys must refuse (a wrong-keys
    profile yields a wrong n_salts silently otherwise); matching keys
    replay fine, and a legacy keys-less profile is accepted as-is."""
    import pytest as _pytest

    from mini_project_204721_data_engineering_spark.operators.profile import (
        key_skew_profile,
    )
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
    )

    rows = [(0, i) for i in range(900)] + [(k, 0) for k in range(1, 101)]
    df = spark.createDataFrame(rows, "k int, id int")
    prof = key_skew_profile(df, ["k"], include_keys=True).collect()[0]
    assert prof["keys"] == '["k"]'  # JSON array, comma-in-name safe
    ok = recommend_salt(None, ["k"], n_partitions=32, profile=prof)
    assert ok["n_salts"] > 1
    with _pytest.raises(ValueError, match="computed for keys"):
        recommend_salt(None, ["id"], n_partitions=32, profile=prof)
    with _pytest.raises(ValueError, match="computed for keys"):
        recommend_salt(None, ["k", "id"], n_partitions=32, profile=prof)
    # legacy profile without the keys field: accepted (documented)
    legacy = key_skew_profile(df, ["k"]).collect()[0]
    assert "keys" not in legacy.asDict()
    assert recommend_salt(None, ["id"], n_partitions=32, profile=legacy)[
        "n_salts"
    ] == ok["n_salts"]


def test_events_sessions_handles_ntz_timestamps(spark):
    """r4+ driver data ships events.ts as parquet timestamp[us] with
    isAdjustedToUTC=false, which Spark 4 resolves to TIMESTAMP_NTZ;
    unix_micros rejects NTZ (broke events_sessions in the r3 driver run).
    The query must run on an NTZ column AND keep sub-second exactness."""
    import datetime as dt

    import pandas as pd

    from mini_project_204721_data_engineering_spark.queries.windows import events_sessions

    pdf = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            # naive datetimes -> TIMESTAMP_NTZ in Spark 4; 2nd gap > 30 min
            "ts": [
                dt.datetime(2024, 1, 1, 0, 0, 0, 250000),
                dt.datetime(2024, 1, 1, 0, 10, 0, 750000),
                dt.datetime(2024, 1, 1, 1, 0, 1),
                dt.datetime(2024, 1, 1, 1, 5, 1),
            ],
            "user_id": [7, 7, 7, 7],
            "event_type": ["a"] * 4,
            "value": [0.0] * 4,
            "props": ["{}"] * 4,
        }
    )
    df = spark.createDataFrame(pdf)
    df = df.withColumn("ts", F.col("ts").cast("timestamp_ntz"))
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"

    import mini_project_204721_data_engineering_spark.queries.windows as windows_mod

    orig = windows_mod.load_table
    windows_mod.load_table = lambda _s, _d, _n: df
    try:
        rows = {(r.user_id, r.sess_id): r for r in events_sessions(spark, "unused").collect()}
    finally:
        windows_mod.load_table = orig
    assert len(rows) == 2
    # first session: two events 600.5s apart (sub-second micros preserved)
    assert rows[(7, 0)].n_events == 2
    assert rows[(7, 0)].duration_sec == 600.5
    assert rows[(7, 1)].n_events == 2
    assert rows[(7, 1)].duration_sec == 300.0


def test_asof_join_tolerance_matches_pandas(spark):
    """tolerance nulls matches staler than the bound — exactly pandas
    merge_asof(tolerance=...) — on both the struct and flat paths."""
    import pandas as pd

    left = spark.createDataFrame(
        [(1, 10.0), (1, 25.0), (1, 100.0), (2, 5.0)], "k long, t double"
    )
    right = spark.createDataFrame(
        [(1, 8.0, 80.0), (1, 20.0, 200.0), (2, 1.0, 10.0)], "k long, t double, v double"
    )
    from mini_project_204721_data_engineering_spark.operators.joins import asof_join

    expected = pd.merge_asof(
        left.toPandas().sort_values("t"),
        right.toPandas().sort_values("t").rename(columns={"t": "rt"}),
        left_on="t",
        right_on="rt",
        by="k",
        tolerance=6.0,
    )
    want = {
        (r.k, r.t): (None if pd.isna(r.v) else r.v) for r in expected.itertuples()
    }
    for nonnull in (False, True):
        got = {
            (r["k"], r["t"]): r["v"]
            for r in asof_join(
                left,
                right,
                on=["k"],
                left_time="t",
                right_time="t",
                payload=["v"],
                payload_nonnull=nonnull,
                tolerance="6.0",
            ).collect()
        }
        assert got == want, (nonnull, got, want)


def test_keyset_pagination_walks_all_rows_and_stays_topk(spark):
    """keyset_page: walking pages by cursor visits every row exactly once
    in order, agrees with offset pagination, and each page compiles to
    TakeOrderedAndProject with the cursor predicate pushed."""
    from mini_project_204721_data_engineering_spark.plans.checks import has_take_ordered

    df = _people(spark)  # 30 rows, val = 100-id (distinct), grp = id%3
    q = ListQuery(
        base=df,
        sortable={"val": F.col("val")},
        default_order="val",
        tiebreaker=F.col("id"),
    )
    seen, cursor = [], None
    while True:
        page = q.keyset_page(after=cursor, page_size=7)
        rows = page.collect()
        if not rows:
            break
        assert has_take_ordered(page)
        seen += [(r["val"], r["id"]) for r in rows]
        cursor = (rows[-1]["val"], rows[-1]["id"])
    assert seen == sorted(seen)
    assert len(seen) == 30 and len(set(seen)) == 30
    # same order as offset pagination
    offset_rows = [
        (r["val"], r["id"])
        for p in range(1, 4)
        for r in q.page_df(page=p, page_size=10).collect()
    ]
    assert seen == offset_rows
    # ties on the sort key: duplicate vals still walk exactly once
    dup = df.withColumn("val", F.col("grp").cast("double"))
    q2 = ListQuery(
        base=dup, sortable={"val": F.col("val")}, default_order="val",
        tiebreaker=F.col("id"),
    )
    seen2, cursor = [], None
    while True:
        rows = q2.keyset_page(after=cursor, page_size=4).collect()
        if not rows:
            break
        seen2 += [(r["val"], r["id"]) for r in rows]
        cursor = (rows[-1]["val"], rows[-1]["id"])
    assert len(seen2) == 30 and len(set(seen2)) == 30 and seen2 == sorted(seen2)


def test_table_diff_statuses_and_changed_columns(spark):
    """table_diff: added/removed/changed/unchanged classification with
    null-safe semantics (NULL→NULL unchanged, NULL→value changed), and
    per-column change attribution; the plan carries exactly one join."""
    from mini_project_204721_data_engineering_spark.operators.diff import (
        changed_column_counts,
        diff_summary,
        table_diff,
    )

    old = spark.createDataFrame(
        [
            (1, 10.0, "A"), (2, 20.0, None), (3, 30.0, "C"), (4, 40.0, "D"),
        ],
        "k long, price double, status string",
    )
    new = spark.createDataFrame(
        [
            (1, 10.0, "A"),      # unchanged
            (2, 25.0, None),     # changed: price only (NULL==NULL status)
            (3, 30.0, None),     # changed: status value→NULL
            (5, 50.0, "E"),      # added (4 removed)
        ],
        "k long, price double, status string",
    )
    d = table_diff(old, new, keys=["k"])
    got = {r["k"]: (r["diff_status"], list(r["changed_cols"])) for r in d.collect()}
    assert got[1] == ("unchanged", [])
    assert got[2] == ("changed", ["price"])
    assert got[3] == ("changed", ["status"])
    assert got[4] == ("removed", [])
    assert got[5] == ("added", [])
    s = {r["diff_status"]: r["n"] for r in diff_summary(d).collect()}
    assert s == {"unchanged": 1, "changed": 2, "removed": 1, "added": 1}
    c = {r["column"]: r["n_changed"] for r in changed_column_counts(d).collect()}
    assert c == {"price": 1, "status": 1}
    plan = d._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes both plans
    assert sum(
        final.count(j)
        for j in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin")
    ) == 1


def test_apply_changes_roundtrip_reconstructs_new_snapshot(spark):
    """The CDC round-trip invariant: turning table_diff(old, new) into
    a change feed and applying it to old reconstructs new exactly —
    on real data (orders at sf0.001) with deletes, updates, and
    inserts planted.  Duplicate feed keys raise."""
    import pytest as _pytest

    from mini_project_204721_data_engineering_spark.catalog import load_table
    from mini_project_204721_data_engineering_spark.operators.diff import (
        apply_changes,
        table_diff,
    )

    orders = load_table(spark, "/root/testdata/sf0.001", "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    old = orders
    new = (
        old.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.1)
            .otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 11 == 0).select(
                (F.col("o_orderkey") + 1_000_000).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    d = table_diff(old, new, keys=["o_orderkey"])
    feed = (
        d.filter(F.col("diff_status") != "unchanged")
        .select(
            "o_orderkey",
            F.when(F.col("diff_status") == "removed", "delete")
            .otherwise("upsert")
            .alias("op"),
        )
        .join(new, "o_orderkey", "left")  # new values for upserts
    )
    rebuilt = apply_changes(old, feed, keys=["o_orderkey"])
    assert rebuilt.count() == new.count()
    assert rebuilt.exceptAll(new).count() == 0
    assert new.exceptAll(rebuilt).count() == 0
    # duplicate feed keys → loud in-plan guard at first execution (the
    # r7 version ran an eager guard job; now construction is free)
    bad = feed.unionByName(feed.limit(1))
    tracker = spark.sparkContext.statusTracker()
    jobs_before = set(tracker.getJobIdsForGroup(None) or [])
    merged_bad = apply_changes(old, bad, keys=["o_orderkey"])
    jobs_after = set(tracker.getJobIdsForGroup(None) or [])
    assert jobs_before == jobs_after
    with _pytest.raises(Exception, match="duplicate key"):
        merged_bad.collect()


def test_recommend_salt_profile_keys_order_insensitive(spark):
    """Review pass-2: a key SET's group-size distribution is invariant
    to key order — ['b','a'] must replay a profile built for
    ['a','b']."""
    from mini_project_204721_data_engineering_spark.operators.profile import (
        key_skew_profile,
    )
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
    )

    rows = [(0, 0, i) for i in range(400)] + [(k, 1, 0) for k in range(1, 51)]
    df = spark.createDataFrame(rows, "a int, b int, id int")
    prof = key_skew_profile(df, ["a", "b"], include_keys=True).collect()[0]
    fwd = recommend_salt(None, ["a", "b"], n_partitions=32, profile=prof)
    rev = recommend_salt(None, ["b", "a"], n_partitions=32, profile=prof)
    assert fwd["n_salts"] == rev["n_salts"] > 1


def test_recommend_salt_nonstring_keys_mismatch_raises_valueerror(spark):
    """Review pass-4: the refusal must be the documented ValueError even
    with non-string keys (the message formatting must not TypeError)."""
    import pytest as _pytest

    from mini_project_204721_data_engineering_spark.operators.profile import (
        key_skew_profile,
    )
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
    )

    df = spark.createDataFrame([(0, i) for i in range(50)], "k int, id int")
    prof = key_skew_profile(df, ["k"], include_keys=True).collect()[0]
    with _pytest.raises(ValueError, match="computed for keys"):
        recommend_salt(None, [1, 2], n_partitions=32, profile=prof)


def test_recommend_salt_column_object_keys_replay_their_profile(spark):
    """Review pass-6: Column objects are legal groupBy keys — a profile
    built with them must replay against both Column and string keys
    (the profile records resolved names; the consumer must too)."""
    from pyspark.sql import functions as F

    from mini_project_204721_data_engineering_spark.operators.profile import (
        key_skew_profile,
    )
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
    )

    rows = [(0, i) for i in range(400)] + [(k, 0) for k in range(1, 51)]
    df = spark.createDataFrame(rows, "k int, id int")
    prof = key_skew_profile(df, [F.col("k")], include_keys=True).collect()[0]
    assert prof["keys"] == '["k"]'  # resolved name, not repr garbage
    a = recommend_salt(None, ["k"], n_partitions=32, profile=prof)
    b = recommend_salt(None, [F.col("k")], n_partitions=32, profile=prof)
    assert a["n_salts"] == b["n_salts"] > 1


def test_recommend_salt_aliased_column_key_replays(spark):
    """Review pass-7: an ALIASED Column key groups under its output
    name — the provenance comparison must use that name on both
    sides."""
    from pyspark.sql import functions as F

    from mini_project_204721_data_engineering_spark.operators.profile import (
        key_skew_profile,
    )
    from mini_project_204721_data_engineering_spark.operators.skew import (
        recommend_salt,
    )

    rows = [(0, i) for i in range(400)] + [(k, 0) for k in range(1, 51)]
    df = spark.createDataFrame(rows, "k int, id int")
    aliased = F.col("k").alias("x")
    prof = key_skew_profile(df, [aliased], include_keys=True).collect()[0]
    assert prof["keys"] == '["x"]'
    got = recommend_salt(
        None, [F.col("k").alias("x")], n_partitions=32, profile=prof
    )
    assert got["n_salts"] > 1
