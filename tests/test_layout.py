"""Physical-layout tests: partitioned fact writes with partition pruning,
bucketed tables for exchange-free co-located joins (SURVEY §1.3 — the
Spark equivalent of the reference's B-tree indexes), and the Z-order
layout behind ``snapshot_compact(zorder_by=...)``."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.catalog import load_table
from mini_project_204721_data_engineering_spark.sources.sink import zorder_layout
from mini_project_204721_data_engineering_spark.plans.checks import physical_plan, shuffle_count

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def fact_dir(spark):
    d = tempfile.mkdtemp(prefix="rain_facts_")
    # the rain_points layout: partitioned by year (SURVEY §1.1)
    orders = load_table(spark, SF, "orders")
    (
        orders.withColumn("year", F.year("o_orderdate"))
        .write.partitionBy("year")
        .mode("overwrite")
        .parquet(d)
    )
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_partitioned_write_layout(spark, fact_dir):
    years = sorted(
        e.split("=")[1] for e in os.listdir(fact_dir) if e.startswith("year=")
    )
    assert len(years) >= 5  # 1995..2001 span


def test_partition_pruning_on_year(spark, fact_dir):
    df = spark.read.parquet(fact_dir).filter(F.col("year") == 1996)
    plan = physical_plan(df)
    # the year filter must become a PartitionFilter, not a data filter
    assert "PartitionFilters" in plan and "1996" in plan
    n_all = len([e for e in os.listdir(fact_dir) if e.startswith("year=")])
    # and the scan must read exactly one partition directory
    import re

    m = re.search(r"partition(?:s)? read[^0-9]*(\d+)", plan, re.IGNORECASE)
    if m:  # plan string includes selected partition count in some versions
        assert int(m.group(1)) == 1
    assert df.count() == spark.read.parquet(fact_dir).filter(F.year("o_orderdate") == 1996).count()


def test_bucketed_join_has_no_shuffle(spark):
    """Two tables bucketed on the join key join with zero exchanges —
    the co-location strategy for repeated fact-fact joins at scale.
    (Managed tables land in the default warehouse; DROP TABLE removes
    the files — warehouse.dir is a static conf, unsettable per-test.)"""
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")
    orders = load_table(spark, SF, "orders").select("o_orderkey", "o_totalprice")
    items = (
        load_table(spark, SF, "lineitem")
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("n_items"))
        .withColumnRenamed("l_orderkey", "o_orderkey")
    )
    orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_orders")
    items.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("b_items")

    joined = spark.table("b_orders").join(spark.table("b_items"), "o_orderkey")
    # co-located: no shuffle exchange in the join plan
    assert shuffle_count(joined) == 0
    assert joined.count() == orders.join(items, "o_orderkey").count()
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_items")


def test_approx_cardinality_within_tolerance(spark):
    """The 100 TB path for type_user_cardinality: approx_count_distinct
    (HLL, fixed memory, no distinct expand) lands within 5% of exact."""
    ev = load_table(spark, SF, "events")
    rows = (
        ev.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact"),
            F.approx_count_distinct("user_id", 0.02).alias("approx"),
        )
        .collect()
    )
    assert rows
    for r in rows:
        assert abs(r["approx"] - r["exact"]) <= max(1, 0.05 * r["exact"])


def test_zorder_layout_prunes_on_both_columns(spark, tmp_path):
    """Z-order vs linear sort, measured on REAL parquet footer stats:
    with a (l_orderkey, l_partkey) Z-layout, a point filter on EITHER
    column overlaps only a minority of files; a linear (l_orderkey,
    l_partkey) sort prunes the leading key but leaves the trailing key
    spanning ~every file."""
    import pyarrow.parquet as pq

    li = load_table(spark, SF, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    zdir, ldir = str(tmp_path / "zorder"), str(tmp_path / "linear")
    zorder_layout(li, ["l_orderkey", "l_partkey"], n_files=16).write.parquet(zdir)
    (
        li.repartitionByRange(16, "l_orderkey", "l_partkey")
        .sortWithinPartitions("l_orderkey", "l_partkey")
        .write.mode("overwrite")
        .parquet(ldir)
    )

    def file_ranges(d, col):
        out = []
        for f in sorted(os.listdir(d)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(d, f)).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if los:
                out.append((min(los), max(his)))
        return out

    # same bytes in both layouts
    n_z = spark.read.parquet(zdir).count()
    n_l = spark.read.parquet(ldir).count()
    assert n_z == n_l == li.count()

    probes = [r["l_partkey"] for r in li.limit(3).collect()]
    z_ranges = file_ranges(zdir, "l_partkey")
    l_ranges = file_ranges(ldir, "l_partkey")
    assert len(z_ranges) >= 8  # layout actually produced many files
    for p in probes:
        z_hit = sum(1 for lo, hi in z_ranges if lo <= p <= hi)
        l_hit = sum(1 for lo, hi in l_ranges if lo <= p <= hi)
        # linear layout: trailing column spans ~every file; z-order: minority
        assert l_hit >= len(l_ranges) - 1, (p, l_hit, len(l_ranges))
        assert z_hit <= len(z_ranges) // 2, (p, z_hit, len(z_ranges))
    # and the leading key still prunes in BOTH layouts
    okey = [r["l_orderkey"] for r in li.limit(1).collect()][0]
    z_hit_k = sum(1 for lo, hi in file_ranges(zdir, "l_orderkey") if lo <= okey <= hi)
    assert z_hit_k <= len(z_ranges) // 2


def test_zorder_bits_auto_shrink_many_columns(spark, tmp_path):
    """bits·len(cols) must stay ≤ 63 (the JVM wraps shifts mod 64, which
    would silently corrupt the curve): 4+ columns auto-shrink bits, and
    the resulting key still orders corners correctly (ADVICE r4)."""
    from mini_project_204721_data_engineering_spark.sources.sink import zorder_column

    df = spark.range(0, 256).selectExpr(
        *[f"CAST(id % {m} AS LONG) AS c{i}" for i, m in enumerate([4, 8, 16, 32])]
    )
    cols = ["c0", "c1", "c2", "c3"]
    z = zorder_column(df, cols, bits=16)  # 16·4 = 64 would overflow → 15
    vals = df.select(z).collect()
    assert all(0 <= r["__zval"] < (1 << 60) for r in vals)  # 15 bits × 4 cols
    # corner ordering survives: all-min < all-max
    lo = df.orderBy(*cols).limit(1).select(z).collect()[0][0]
    hi = df.orderBy(*[F.col(c).desc() for c in cols]).limit(1).select(z).collect()[0][0]
    assert lo == 0 and hi == (1 << 60) - 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least one column"):
        zorder_column(df, [], bits=16)


def test_schema_evolution_merge_read(spark, tmp_path):
    """Schema drift across ingest batches: a later batch adds a column;
    mergeSchema reads the union schema with nulls for old rows, and the
    required-column validation (U2) still gates on the v1 contract."""
    root = str(tmp_path / "fact")
    spark.createDataFrame(
        [(1, "a", "2024-01-01")], "id long, v string, day string"
    ).write.partitionBy("day").parquet(root)
    spark.createDataFrame(
        [(2, "b", 0.5, "2024-01-02")], "id long, v string, score double, day string"
    ).write.mode("append").partitionBy("day").parquet(root)

    merged = spark.read.option("mergeSchema", "true").parquet(root)
    assert set(merged.columns) == {"id", "v", "score", "day"}
    rows = {r["id"]: r for r in merged.collect()}
    assert rows[1]["score"] is None  # old rows null-fill the new column
    assert rows[2]["score"] == 0.5
    # default read (no mergeSchema) may miss the late column; the
    # validation contract catches a missing REQUIRED column either way
    missing = {"id", "v", "nonexistent"} - set(merged.columns)
    assert missing == {"nonexistent"}


def test_zorder_handles_negative_and_constant_columns(spark, tmp_path):
    """Z-order edge cases: negative value ranges normalize correctly, and
    a constant column degrades gracefully (ordering falls entirely to the
    varying column)."""
    df = spark.range(0, 4000).selectExpr(
        "id", "CAST(id - 2000 AS LONG) AS a", "CAST(7 AS LONG) AS c"
    )
    out = str(tmp_path / "z")
    zorder_layout(df, ["a", "c"], n_files=8).write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 4000
    assert back.agg(F.min("a"), F.max("a")).collect()[0][0:2] == (-2000, 1999)
    # with c constant, files must still partition a's range (z reduces to a)
    import glob
    import pyarrow.parquet as pq

    ranges = []
    for f in sorted(glob.glob(os.path.join(out, "*.parquet"))):
        md = pq.ParquetFile(f).metadata
        los = [
            md.row_group(rg).column(ci).statistics.min
            for rg in range(md.num_row_groups)
            for ci in range(md.num_columns)
            if md.row_group(rg).column(ci).path_in_schema == "a"
        ]
        his = [
            md.row_group(rg).column(ci).statistics.max
            for rg in range(md.num_row_groups)
            for ci in range(md.num_columns)
            if md.row_group(rg).column(ci).path_in_schema == "a"
        ]
        ranges.append((min(los), max(his)))
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 <= lo2  # disjoint ascending ranges: a-ordering preserved


def test_zorder_wide_span_column_stays_monotone(spark):
    """Overflow regression: normalization used to compute
    (v - lo) * (2^bits - 1) in LONG arithmetic, which wraps for column
    spans above ~2^47 (epoch-micros timestamps, hash-derived ids) and
    silently scrambles the curve.  The double-domain scale must keep a
    single wide-span column's Z-value monotone in the column."""
    from mini_project_204721_data_engineering_spark.sources.sink import zorder_column

    wide = spark.range(0, 2000).select((F.col("id") * F.lit(1 << 45)).alias("v"))
    rows = wide.select("v", zorder_column(wide, ["v"])).orderBy("v").collect()
    zs = [r["__zval"] for r in rows]
    assert all(a <= b for a, b in zip(zs, zs[1:]))
    assert len(set(zs)) > 1000  # wide range actually spreads the curve


def test_zorder_date_and_string_columns_prune(spark, tmp_path):
    """Z-order over the keys a log table actually clusters by: a DATE
    and a STRING column (epoch-day / big-endian 7-byte-prefix encodings)
    — a point filter on EITHER column must overlap only a minority of
    files, and the bytes must round-trip identically."""
    import pyarrow.parquet as pq

    df = spark.range(0, 20000).select(
        F.col("id"),
        F.date_add(F.lit("2024-01-01"), (F.col("id") % 300).cast("int")).alias("day"),
        F.concat(F.lit("user-"), F.lpad((F.col("id") % 500).cast("string"), 4, "0")).alias("user"),
    )
    out = str(tmp_path / "zds")
    zorder_layout(df, ["day", "user"], n_files=16).write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 20000
    assert {r["id"] for r in back.collect()} == set(range(20000))

    def file_ranges(col):
        ranges = []
        for f in sorted(os.listdir(out)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(out, f)).metadata
            los, his = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    c = md.row_group(rg).column(ci)
                    if c.path_in_schema == col and c.statistics is not None:
                        los.append(c.statistics.min)
                        his.append(c.statistics.max)
            if los:
                ranges.append((min(los), max(his)))
        return ranges

    import datetime

    day_ranges = file_ranges("day")
    user_ranges = file_ranges("user")
    assert len(day_ranges) >= 8
    for probe in (datetime.date(2024, 2, 1), datetime.date(2024, 8, 1)):
        hits = sum(1 for lo, hi in day_ranges if lo <= probe <= hi)
        assert hits <= len(day_ranges) // 2, (probe, hits, len(day_ranges))
    for probe in ("user-0042", "user-0420"):
        hits = sum(1 for lo, hi in user_ranges if lo <= probe <= hi)
        assert hits <= len(user_ranges) // 2, (probe, hits, len(user_ranges))


def test_zorder_refuses_unorderable_column(spark):
    from mini_project_204721_data_engineering_spark.sources.sink import zorder_column

    df = spark.range(3).select(F.array(F.col("id")).alias("a"), F.col("id"))
    with pytest.raises(ValueError, match="unorderable"):
        zorder_column(df, ["a", "id"])


def test_zorder_timestamp_ntz_and_tiny_float_span(spark):
    """Review regressions: (1) timestamp_ntz — the flavor Spark 4 gives
    the driver's own events.ts — must encode (unix_micros rejects NTZ);
    (2) a sub-1.0 float span must spread the full bucket range, not
    collapse into a sliver under a max(1.0, span) floor."""
    from mini_project_204721_data_engineering_spark.sources.sink import zorder_column

    ntz = spark.range(0, 500).select(
        (F.lit("2024-01-01 00:00:00").cast("timestamp_ntz")
         + F.make_interval(mins=F.col("id"))).alias("ts")
    )
    rows = ntz.select("ts", zorder_column(ntz, ["ts"])).orderBy("ts").collect()
    zs = [r["__zval"] for r in rows]
    assert all(a <= b for a, b in zip(zs, zs[1:])) and len(set(zs)) > 400

    tiny = spark.range(0, 1000).select((F.col("id") / F.lit(100000.0)).alias("p"))
    rows = tiny.select("p", zorder_column(tiny, ["p"])).orderBy("p").collect()
    zs = [r["__zval"] for r in rows]
    assert all(a <= b for a, b in zip(zs, zs[1:]))
    assert len(set(zs)) > 900  # spread across buckets, not a sliver
    # constant column: a flat zero key, no division blow-up
    const = spark.range(10).select(F.lit(3.7).alias("c"))
    assert {r["__zval"] for r in const.select(zorder_column(const, ["c"])).collect()} == {0}


def test_zorder_string_column_with_awkward_name(spark):
    from mini_project_204721_data_engineering_spark.sources.sink import zorder_column

    df = spark.range(0, 100).select(
        F.concat(F.lit("u"), F.lpad(F.col("id").cast("string"), 3, "0")).alias("user id")
    )
    rows = df.select("`user id`", zorder_column(df, ["user id"])).orderBy("`user id`").collect()
    zs = [r["__zval"] for r in rows]
    assert all(a <= b for a, b in zip(zs, zs[1:])) and len(set(zs)) > 50


def test_zorder_survives_nan_and_infinity(spark):
    """Pass-2 regression: one NaN/Inf row made span=NaN and every scaled
    value NaN — ANSI cast('long') then killed the whole rewrite.
    Non-finite values must land in bucket 0 while finite values keep
    full clustering."""
    from mini_project_204721_data_engineering_spark.sources.sink import zorder_column

    df = spark.range(0, 100).select(
        F.when(F.col("id") == 0, F.lit(float("nan")))
        .when(F.col("id") == 1, F.lit(float("inf")))
        .when(F.col("id") == 2, F.lit(float("-inf")))
        .otherwise(F.col("id").cast("double"))
        .alias("v")
    )
    rows = df.select("v", zorder_column(df, ["v"])).collect()
    finite = sorted(
        (r["v"], r["__zval"]) for r in rows
        if r["v"] == r["v"] and abs(r["v"]) != float("inf")
    )
    zs = [z for _, z in finite]
    assert all(a <= b for a, b in zip(zs, zs[1:])) and len(set(zs)) > 90
    nonfinite = [r["__zval"] for r in rows if not (r["v"] == r["v"]) or abs(r["v"]) == float("inf")]
    assert nonfinite == [0, 0, 0]
