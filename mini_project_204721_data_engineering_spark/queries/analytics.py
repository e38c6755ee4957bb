"""Aggregation / join / scalar operator corpus (SURVEY §2.3-§2.8).

Each query is the Spark-first re-expression of one reference operator,
run over the synthetic star schema; the paired SQL is its DuckDB oracle.
Aggregated doubles are rounded identically on both sides (distributed
partial aggregation sums in a different order than DuckDB's fold).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mini_project_204721_data_engineering_spark.catalog import load_table, table_view
from mini_project_204721_data_engineering_spark.functions.binning import avg_to_level_sql
from mini_project_204721_data_engineering_spark.operators.aggregates import min_coord_step, weighted_mean
from mini_project_204721_data_engineering_spark.operators.dedup import (
    dedup_keep_first_packed,
    packed_order_key,
)
from mini_project_204721_data_engineering_spark.operators.joins import anti_join, asof_join, semi_join

__all__ = ["QUERIES", "ORACLES"]


# ---------------------------------------------------------------------------
# Aggregations
# ---------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A2/A6 composite (TPC-H Q1 shape): grouped sums/means/counts with
    map-side partial aggregation — the Spark-native replacement for the
    reference's per-group Python loop (``backend/app/utils.py:107-108``)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate").cast("date") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


PRICING_SUMMARY_SQL = """
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_discount), 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE CAST(l_shipdate AS DATE) <= DATE '1998-09-02'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def weighted_mean_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: the reference's area-weighted mean (``utils.py:104-110``) as the
    algebraic ``sum(x*w)/sum(w)`` — here price weighted by quantity."""
    li = load_table(spark, sf_dir, "lineitem")
    wm = weighted_mean(
        li,
        ["l_returnflag"],
        F.col("l_extendedprice"),
        F.col("l_quantity"),
        out_name="wmean_raw",
    )
    return wm.select(
        "l_returnflag", F.round(F.col("wmean_raw"), 4).alias("price_wmean")
    ).orderBy("l_returnflag")


WEIGHTED_MEAN_PRICE_SQL = """
SELECT l_returnflag,
       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4) AS price_wmean
FROM lineitem
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def volume_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+J5: grouped volume sum after dim enrichment (the reference's
    rainfall-volume agg, ``utils.py:113-126``, over supplier nations)."""
    li = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    return (
        li.join(supplier, li.l_suppkey == supplier.s_suppkey)
        .join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .groupBy(nation.n_name.alias("nation_name"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("volume"))
        .orderBy("nation_name")
    )


VOLUME_BY_NATION_SQL = """
SELECT n_name AS nation_name,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS volume
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
"""


def coord_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: grid-resolution inference — min diff of sorted distinct values
    (reference ``utils.py:113-114``), over l_quantity."""
    li = load_table(spark, sf_dir, "lineitem")
    return min_coord_step(li, "l_quantity")


COORD_STEP_SQL = """
SELECT min(abs(l_quantity - prev)) AS step
FROM (
  SELECT l_quantity, lag(l_quantity) OVER (ORDER BY l_quantity) AS prev
  FROM (SELECT DISTINCT l_quantity FROM lineitem)
)
WHERE prev IS NOT NULL
"""


_AVG_LEVEL_BY_BRAND = f"""
SELECT brand, avg_class, {avg_to_level_sql("avg_class")} AS risk_level
FROM (
  SELECT p.p_brand AS brand, round(avg(l.l_discount * 30), 4) AS avg_class
  FROM {{lineitem}} l
  JOIN {{part}} p ON l.l_partkey = p.p_partkey
  GROUP BY p.p_brand
)
ORDER BY brand
"""


def avg_level_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4+C5: grouped mean then ``avg_to_level`` binning (reference
    ``utils.py:353-366``) — mean discount scaled to the 1-3 class range.
    One ``spark.sql`` statement over the catalog's version-keyed views
    (one analysis per request); C5 is spliced in from its single SQL-text
    definition."""
    return spark.sql(
        _AVG_LEVEL_BY_BRAND.format(
            lineitem=table_view(spark, sf_dir, "lineitem"),
            part=table_view(spark, sf_dir, "part"),
        )
    )


AVG_LEVEL_BY_BRAND_SQL = """
SELECT brand, avg_class,
       CASE WHEN avg_class IS NULL THEN NULL
            WHEN avg_class <= 1.5 THEN 1
            WHEN avg_class <= 2.1 THEN 2
            ELSE 3 END AS risk_level
FROM (
  SELECT p_brand AS brand, round(avg(l_discount * 30), 4) AS avg_class
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
ORDER BY brand
"""


def incident_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: grouped count(*) per (day, user, type) — the reference's
    incident-count grain (``utils.py:550-555``) over events."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.col("ts").cast("date").alias("day"),
            "user_id",
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("count_of_disasters"))
    )


INCIDENT_COUNTS_SQL = """
SELECT CAST(ts AS DATE) AS day, user_id, event_type,
       count(*) AS count_of_disasters
FROM events
GROUP BY 1, 2, 3
"""


def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: subset distinct (reference ``drop_duplicates``, ``utils.py:385``)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select("user_id", "event_type").distinct()


DISTINCT_PAIRS_SQL = "SELECT DISTINCT user_id, event_type FROM events"


def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: dedup-keep-first with an EXPLICIT deterministic order (pandas
    ``keep='first'`` is file-order-dependent; SURVEY §7 hard-part #3).
    Aggregation form with map-side combine — only one candidate row per
    (user, type) per map partition is shuffled.

    r15 optimization (guide §2.3 project early + §2 "the distributed
    algorithm"): the query consumes nothing but the winner's event_id, so
    it uses the packed id-projection form — (epoch-micros, event_id)
    packed into one decimal, ``min`` per key (operators/dedup.py::
    dedup_keep_first_packed).  The previous ``min(struct(ts, event_id))``
    fell back to SortAggregate (struct buffers are not hash-mutable),
    i.e. a full sort of every map partition; the packed key keeps the
    whole thing one HashAggregate, and the scan/shuffle carry only
    (user_id, event_type) + one 16-byte decimal.  The winner is
    identical: micros(ts) is strictly monotone in ts (µs-precision
    storage) and event_id is the same unique tiebreaker.  Epoch micros
    via ``timestamp_diff`` against an anchor cast to the column's own
    type — NTZ-safe (unix_micros rejects NTZ; see catalog.py)."""
    ev = load_table(spark, sf_dir, "events")
    anchor = F.lit("1970-01-01 00:00:00").cast(dict(ev.dtypes)["ts"])
    micros = F.timestamp_diff("MICROSECOND", anchor, F.col("ts"))
    # events.ts is non-null by construction; make the packed-min
    # precondition explicit (ADVICE r15 — min(packed) skips NULL order
    # keys where min(struct) ranked them first), same as daily_ohlc.
    first = dedup_keep_first_packed(
        ev.filter(F.col("ts").isNotNull()).select(
            "user_id", "event_type", "ts", "event_id"
        ),
        ["user_id", "event_type"],
        micros,
        "event_id",
    )
    return first.select(
        "user_id", "event_type", F.col("event_id").alias("first_event_id")
    )


DEDUP_FIRST_EVENT_SQL = """
SELECT user_id, event_type, event_id AS first_event_id
FROM (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY ts ASC, event_id ASC) AS rn
  FROM events
)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Joins
# ---------------------------------------------------------------------------

def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: left-anti join (reference merge-indicator 'left_only',
    ``utils.py:393-398``)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return anti_join(
        customer.select(F.col("c_custkey"), F.col("c_name").alias("customer_name")),
        orders.select(F.col("o_custkey").alias("c_custkey")),
        ["c_custkey"],
    )


CUSTOMERS_WITHOUT_ORDERS_SQL = """
SELECT c_custkey, c_name AS customer_name
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: left-semi existence check."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return semi_join(
        customer.select(F.col("c_custkey"), F.col("c_name").alias("customer_name")),
        orders.select(F.col("o_custkey").alias("c_custkey")),
        ["c_custkey"],
    )


CUSTOMERS_WITH_ORDERS_SQL = """
SELECT c_custkey, c_name AS customer_name
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def new_events_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: idempotent-ingest anti-join — incoming batch minus keys already
    present (reference ``utils.py:578-591``).  'Incoming' = purchase
    events; 'existing' = keys of every third event."""
    ev = load_table(spark, sf_dir, "events")
    incoming = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").cast("date").alias("day")
    )
    existing = ev.filter(F.col("event_id") % 3 == 0).select(
        "user_id", F.col("ts").cast("date").alias("day")
    )
    return anti_join(incoming, existing, ["user_id", "day"])


NEW_EVENTS_ONLY_SQL = """
SELECT event_id, user_id, CAST(ts AS DATE) AS day
FROM events e
WHERE event_type = 'purchase'
  AND NOT EXISTS (
    SELECT 1 FROM events x
    WHERE x.event_id % 3 = 0
      AND x.user_id = e.user_id
      AND CAST(x.ts AS DATE) = CAST(e.ts AS DATE)
  )
"""


def order_item_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: counts re-attach left join + coalesce default
    (reference ``utils.py:595-596`` with ``fillna(1)``)."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    counts = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        orders.select("o_orderkey")
        .join(counts, "o_orderkey", "left")
        .select("o_orderkey", F.coalesce(F.col("n"), F.lit(1)).alias("n_items"))
    )


ORDER_ITEM_COUNTS_SQL = """
SELECT o_orderkey, coalesce(n, 1) AS n_items
FROM orders
LEFT JOIN (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY l_orderkey) c
  ON o_orderkey = l_orderkey
"""


def concat_key_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14/C15: equi-join on a concatenated key (the frontend's
    ``district_en + '_' + province_en`` hash join, ``page.tsx:145-161``)."""
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    customer = load_table(spark, sf_dir, "customer")
    dim = (
        nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(
            F.concat_ws("_", nation.n_name, region.r_name).alias("map_key"),
            nation.n_nationkey,
            nation.n_name.alias("nation_name"),
        )
    )
    per_nation = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy(F.concat_ws("_", nation.n_name, region.r_name).alias("map_key"))
        .agg(F.count(F.lit(1)).alias("customer_count"))
    )
    # r15: explicit broadcast — per_nation has at most |nation| rows by
    # construction (grouped on the nation_region concat), but as an
    # aggregate output its size ESTIMATE is unbounded, so the planner was
    # sort-merge-joining two ≤25-row tables (guide §3.1: hint when you
    # know a side is small and the estimate doesn't).
    return dim.join(F.broadcast(per_nation), "map_key", "left").select(
        "map_key",
        "nation_name",
        F.coalesce(F.col("customer_count"), F.lit(0)).alias("customer_count"),
    )


CONCAT_KEY_JOIN_SQL = """
WITH dim AS (
  SELECT n_name || '_' || r_name AS map_key, n_nationkey, n_name AS nation_name
  FROM nation JOIN region ON n_regionkey = r_regionkey
), per_nation AS (
  SELECT n_name || '_' || r_name AS map_key, count(*) AS customer_count
  FROM customer
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1
)
SELECT d.map_key, d.nation_name, coalesce(p.customer_count, 0) AS customer_count
FROM dim d LEFT JOIN per_nation p ON d.map_key = p.map_key
"""


# ---------------------------------------------------------------------------
# Scalar functions / set ops
# ---------------------------------------------------------------------------

def discount_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 tertile branch — bins on [0,1] values (reference
    ``utils.py:264-269``), over l_discount*10.  The word and clamp
    branches are driver-checked on the cheap customer-table query
    (``cleaning.special_fix_masked_update``); this 600k-row headline
    bench query stays pure arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    v = F.col("l_discount") * 10
    cls = F.when(v < 1.0 / 3.0, 1).when(v < 2.0 / 3.0, 2).otherwise(3)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(v, 4).alias("value01"),
        cls.cast("int").alias("risk_class"),
    )


DISCOUNT_CLASS_SQL = """
SELECT l_orderkey, l_linenumber,
       round(l_discount * 10, 4) AS value01,
       CASE WHEN l_discount * 10 < 1.0/3.0 THEN 1
            WHEN l_discount * 10 < 2.0/3.0 THEN 2
            ELSE 3 END AS risk_class
FROM lineitem
"""


def date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C6/C7/C8: date parse + year extraction + day/month truncation
    (reference ``utils.py:520-528``)."""
    orders = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate").cast("date")
    return orders.select(
        "o_orderkey",
        d.alias("order_date"),
        F.year(d).alias("order_year"),
        F.date_format(F.date_trunc("month", F.col("o_orderdate")), "yyyy-MM-dd").alias("order_month"),
    )


DATE_PARTS_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(year(o_orderdate) AS INT) AS order_year,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS order_month
FROM orders
"""


def union_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1+A8: union-all of two selections then dedup
    (reference ``utils.py:418-420``).

    r15 optimization (guide §2.3/§2.4): both selections project the same
    two columns of the SAME table, so ``distinct(σ_A ∪ σ_B) ≡
    distinct(σ_{A∨B})`` — one scan instead of two, one pushed OR filter,
    and rows matching both branches cross the dedup shuffle once instead
    of twice.  Row set identical by set algebra.  (The general union-all
    + dedup operator over distinct inputs stays demonstrated in
    ``pipelines/risk.py`` and ``error_click_setops``.)"""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter((F.col("l_returnflag") == "A") | (F.col("l_linestatus") == "F"))
        .select("l_orderkey", "l_partkey")
        .distinct()
    )


UNION_DEDUP_SQL = """
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_returnflag = 'A'
UNION
SELECT l_orderkey, l_partkey FROM lineitem WHERE l_linestatus = 'F'
"""


def props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction over the events props column (extension:
    the reference stores no JSON, ``models.py:1``; a modern event log
    does) — get_json_object stays JVM-side."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object(F.col("props"), "$.k").cast("int").alias("k"),
    )


PROPS_EXTRACT_SQL = """
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS INT) AS k
FROM events
"""


def shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join + filtered revenue top-10 — the
    composite serving/analytics query (segment filter, two date
    predicates, grouped revenue, bounded top-k)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cutoff = "1997-03-15"
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .filter(
            (F.col("o_orderdate").cast("date") < F.lit(cutoff))
            & (F.col("l_shipdate").cast("date") > F.lit(cutoff))
        )
        .groupBy(
            F.col("l_orderkey"),
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderpriority"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


SHIPPING_PRIORITY_SQL = """
SELECT l_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND CAST(o_orderdate AS DATE) < DATE '1997-03-15'
  AND CAST(l_shipdate AS DATE) > DATE '1997-03-15'
GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (median/p90) per event type — linear-interpolated,
    matching DuckDB's quantile_cont.  (At 100 TB switch to
    percentile_approx: same call shape, bounded memory.)"""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
        )
        .orderBy("event_type")
    )


VALUE_PERCENTILES_SQL = """
SELECT event_type,
       round(quantile_cont(value, 0.5), 4) AS p50,
       round(quantile_cont(value, 0.9), 4) AS p90
FROM events
GROUP BY event_type
ORDER BY event_type
"""


def revenue_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP aggregation (beyond the reference's flat groupBys): revenue
    by (returnflag, linestatus), per-flag subtotals, and grand total in
    one pass — Spark expands grouping sets map-side, still one shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
    )


REVENUE_ROLLUP_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def events_asof_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (extension): every error event picks up the user's most
    recent order-day summary at-or-before the event's day.  Right side is
    pre-aggregated to one row per (custkey, day) so the match is
    deterministic.  One shuffle on the key; no range-join explosion."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("date").alias("order_day"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("day_spend"),
    )
    left = ev.select("event_id", "user_id", F.col("ts").cast("date").alias("event_day"))
    out = asof_join(
        left,
        daily,
        on=["user_id"],
        left_time="event_day",
        right_time="order_day",
        payload=["order_day", "n_orders", "day_spend"],
        # every payload field is a group key or a count/sum over non-null
        # prices — provably non-null, so the flat fast path is exact
        payload_nonnull=True,
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("event_day", "yyyy-MM-dd").alias("event_day"),
        F.date_format("order_day", "yyyy-MM-dd").alias("order_day"),
        "n_orders",
        "day_spend",
    )


EVENTS_ASOF_SPEND_SQL = """
WITH daily AS (
  SELECT o_custkey AS user_id,
         CAST(o_orderdate AS DATE) AS order_day,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS day_spend
  FROM orders GROUP BY 1, 2
), ev AS (
  SELECT event_id, user_id, CAST(ts AS DATE) AS event_day
  FROM events WHERE event_type = 'error'
)
SELECT ev.event_id, ev.user_id,
       strftime(ev.event_day, '%Y-%m-%d') AS event_day,
       strftime(d.order_day, '%Y-%m-%d') AS order_day,
       d.n_orders, d.day_spend
FROM ev ASOF LEFT JOIN daily d
  ON ev.user_id = d.user_id AND ev.event_day >= d.order_day
"""


def top_return_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Q10 shape: returned-item revenue per customer, dims
    attached, top 20.  Scale shape: filter pushed to the lineitem scan,
    partial agg before the customer join, nation broadcast, final top-k
    as TakeOrderedAndProject (no global sort)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    rev = (
        li.filter(F.col("l_returnflag") == "R")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
    )
    return (
        rev.join(customer, rev.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("c_custkey").alias("custkey"),
            F.col("c_name").alias("cust_name"),
            F.col("n_name").alias("nation_name"),
            "revenue",
        )
        .orderBy(F.col("revenue").desc(), F.col("custkey").asc())
        .limit(20)
    )


TOP_RETURN_CUSTOMERS_SQL = """
SELECT c_custkey AS custkey,
       c_name AS cust_name,
       n_name AS nation_name,
       revenue
FROM (
  SELECT o_custkey,
         round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE l_returnflag = 'R'
  GROUP BY o_custkey
) r
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
ORDER BY revenue DESC, custkey
LIMIT 20
"""


def _user_days(ev: DataFrame, event_type: str) -> DataFrame:
    return ev.filter(F.col("event_type") == event_type).select(
        "user_id", F.col("ts").cast("date").alias("day")
    )


def error_and_click_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family extension (SURVEY §2.7 notes the reference has no
    INTERSECT): (user, day) pairs present in BOTH event populations.
    Compiles to a left-semi shape — one shuffle per side on the key, no
    row explosion."""
    ev = load_table(spark, sf_dir, "events")
    return (
        _user_days(ev, "error")
        .intersect(_user_days(ev, "click"))
        .select("user_id", F.date_format("day", "yyyy-MM-dd").alias("day"))
        .orderBy("user_id", "day")
    )


ERROR_AND_CLICK_USERS_SQL = """
SELECT user_id, strftime(day, '%Y-%m-%d') AS day FROM (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'error'
  INTERSECT
  SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'click'
)
ORDER BY user_id, day
"""


def error_only_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family extension: EXCEPT — (user, day) pairs with errors but no
    click activity that day (left-anti shape, same cost profile as J8)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        _user_days(ev, "error")
        .subtract(_user_days(ev, "click"))
        .select("user_id", F.date_format("day", "yyyy-MM-dd").alias("day"))
        .orderBy("user_id", "day")
    )


ERROR_ONLY_USERS_SQL = """
SELECT user_id, strftime(day, '%Y-%m-%d') AS day FROM (
  SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'error'
  EXCEPT
  SELECT user_id, CAST(ts AS DATE) FROM events WHERE event_type = 'click'
)
ORDER BY user_id, day
"""


def error_click_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-family extension (SURVEY §2.7 notes the reference has neither
    set op): INTERSECT and EXCEPT over (user, day) event populations in
    one tagged result — 'both' rows are present in error AND click days,
    'error_only' rows have errors but no clicks that day.  Each branch
    compiles to a semi/anti shape: one shuffle per side on the key, no
    row explosion."""
    ev = load_table(spark, sf_dir, "events")
    err, clk = _user_days(ev, "error"), _user_days(ev, "click")
    both = err.intersect(clk).select(F.lit("both").alias("setop"), "user_id", "day")
    only = err.subtract(clk).select(F.lit("error_only").alias("setop"), "user_id", "day")
    return (
        both.unionByName(only)
        .select("setop", "user_id", F.date_format("day", "yyyy-MM-dd").alias("day"))
        .orderBy("setop", "user_id", "day")
    )


ERROR_CLICK_SETOPS_SQL = """
WITH err AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'error'),
     clk AS (SELECT user_id, CAST(ts AS DATE) AS day FROM events WHERE event_type = 'click')
SELECT 'both' AS setop, user_id, strftime(day, '%Y-%m-%d') AS day
FROM (SELECT * FROM err INTERSECT SELECT * FROM clk)
UNION ALL
SELECT 'error_only' AS setop, user_id, strftime(day, '%Y-%m-%d') AS day
FROM (SELECT * FROM err EXCEPT SELECT * FROM clk)
ORDER BY 1, 2, 3
"""


def events_spine_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling + pivot in one plan (two extensions the reference
    lacks): a generated date spine (sequence + explode over one min/max
    agg) left-joined to the days × event-type count matrix (explicit
    pivot value list — no discovery pass), zero-filled.  The spine is
    dim-sized so it broadcasts; the facts are scanned ONCE — the spine
    bounds reaggregate from the (days-sized) pivot output, not from a
    second fact scan."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "signup", "purchase", "error"]
    counts = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
    )
    bounds = counts.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    return (
        spine.join(counts, "day", "left")
        .na.fill(0, types)
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), *types)
        .orderBy("day")
    )


EVENTS_SPINE_PIVOT_SQL = """
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), counts AS (
  SELECT CAST(ts AS DATE) AS day,
         count(*) FILTER (event_type = 'click') AS click,
         count(*) FILTER (event_type = 'view') AS view,
         count(*) FILTER (event_type = 'signup') AS signup,
         count(*) FILTER (event_type = 'purchase') AS purchase,
         count(*) FILTER (event_type = 'error') AS error
  FROM events GROUP BY 1
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       coalesce(c.click, 0) AS click,
       coalesce(c.view, 0) AS view,
       coalesce(c.signup, 0) AS signup,
       coalesce(c.purchase, 0) AS purchase,
       coalesce(c.error, 0) AS error
FROM spine s LEFT JOIN counts c ON s.day = c.day
ORDER BY 1
"""


def events_pivot_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (extension): days × event-type count matrix.  Explicit value
    list so the pivot needs no discovery pass — one shuffle, map-side
    partial agg, stable output schema at any scale."""
    ev = load_table(spark, sf_dir, "events")
    types = ["click", "view", "signup", "purchase", "error"]
    return (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .na.fill(0, types)
        .select(F.date_format("day", "yyyy-MM-dd").alias("day"), *types)
        .orderBy("day")
    )


EVENTS_PIVOT_DAILY_SQL = """
SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
       count(*) FILTER (event_type = 'click') AS click,
       count(*) FILTER (event_type = 'view') AS view,
       count(*) FILTER (event_type = 'signup') AS signup,
       count(*) FILTER (event_type = 'purchase') AS purchase,
       count(*) FILTER (event_type = 'error') AS error
FROM events
GROUP BY 1
ORDER BY day
"""


def customer_order_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join (extension — SURVEY §2.3 notes the reference has
    none): per-nation count of customers without orders, order-customers
    missing from the dim, and matched pairs, in one coverage report."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n_orders"))
    full = customer.select("c_custkey", "c_nationkey").join(
        per_cust, customer.c_custkey == per_cust.o_custkey, "full_outer"
    )
    return (
        full.groupBy(F.coalesce(F.col("c_nationkey"), F.lit(-1)).alias("nationkey"))
        .agg(
            F.count(F.lit(1)).alias("n_keys"),
            # explicit long casts: DuckDB integer sums widen to HUGEINT/int128,
            # whose wire repr diverges from Spark's bigint (r1 hash mismatch)
            F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0)).cast("long").alias("no_orders"),
            F.sum(F.when(F.col("c_custkey").isNull(), 1).otherwise(0)).cast("long").alias("orphan_orders"),
        )
        .orderBy("nationkey")
    )


CUSTOMER_ORDER_COVERAGE_SQL = """
WITH per_cust AS (
  SELECT o_custkey, count(*) AS n_orders FROM orders GROUP BY o_custkey
)
SELECT coalesce(c_nationkey, -1) AS nationkey,
       count(*) AS n_keys,
       CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS no_orders,
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_orders
FROM customer FULL OUTER JOIN per_cust ON c_custkey = o_custkey
GROUP BY 1
ORDER BY nationkey
"""


def order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: orders in a date window having at least one returned
    lineitem (EXISTS → left-semi join), counted per priority.  The semi
    join shuffles only the order keys of the filtered window, never
    expands."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    window = orders.filter(
        (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01"))
    )
    late = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("o_orderkey")
    )
    return (
        semi_join(window, late, ["o_orderkey"])
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORDER_PRIORITY_COUNTS_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey AND l_returnflag = 'R'
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def events_day_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap filling (extension): dense per-type daily series over the full
    observed date range — a generated date spine (sequence + explode)
    cross-joined with the type dim, left-joined to actual counts,
    zero-filled.  The spine bounds and the type dim both reaggregate from
    the (dim-sized) daily counts, so the facts are scanned exactly once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("day"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("day")
    )
    types = daily.select("event_type").distinct()
    return (
        spine.crossJoin(types)
        .join(daily, ["day", "event_type"], "left")
        .select(
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
        )
        .orderBy("day", "event_type")
    )


EVENTS_DAY_SPINE_SQL = """
WITH bounds AS (
  SELECT min(CAST(ts AS DATE)) AS lo, max(CAST(ts AS DATE)) AS hi FROM events
), spine AS (
  SELECT CAST(unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
  FROM bounds
), daily AS (
  SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT strftime(s.day, '%Y-%m-%d') AS day,
       t.event_type,
       coalesce(d.n, 0) AS n
FROM spine s
CROSS JOIN (SELECT DISTINCT event_type FROM events) t
LEFT JOIN daily d ON d.day = s.day AND d.event_type = t.event_type
ORDER BY 1, 2
"""


def user_top_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax pattern: each user's most frequent event type (ties broken
    alphabetically) — count + one keyed window, no self-join."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.col("n").desc(), F.col("event_type").asc())
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("user_id", F.col("event_type").alias("top_type"), "n")
        .orderBy("user_id")
    )


USER_TOP_EVENT_TYPE_SQL = """
SELECT user_id, event_type AS top_type, n
FROM (
  SELECT user_id, event_type, count(*) AS n,
         row_number() OVER (PARTITION BY user_id ORDER BY count(*) DESC, event_type) AS rnk
  FROM events GROUP BY user_id, event_type
)
WHERE rnk = 1
ORDER BY user_id
"""


def red_parts_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-predicate pushdown: LIKE filter + prefix projection over the
    part dim — contains() compiles to a pushable parquet filter
    (StringContains), asserted in tests/test_plans.py."""
    part = load_table(spark, sf_dir, "part")
    return (
        part.filter(F.col("p_name").contains("red"))
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_parts"),
            F.min(F.substring("p_name", 1, 10)).alias("first_name_prefix"),
        )
        .orderBy("p_brand")
    )


RED_PARTS_BY_BRAND_SQL = """
SELECT p_brand,
       count(*) AS n_parts,
       min(substring(p_name, 1, 10)) AS first_name_prefix
FROM part
WHERE p_name LIKE '%red%'
GROUP BY p_brand
ORDER BY p_brand
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (EXTRA): 6-way join with a same-nation join
    predicate spanning two dims — the join-reordering stress test.  Dims
    broadcast; the date filter pushes to the orders scan; one agg
    shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .filter(
            (F.col("o_orderdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("o_orderdate").cast("date") < F.lit("1997-01-01"))
        )
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(supp, (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey))
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .filter(region.r_name == "ASIA")
        .groupBy(nation.n_name.alias("n_name"))
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


Q5_LOCAL_SUPPLIER_VOLUME_SQL = """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
  AND CAST(o_orderdate AS DATE) < DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


def q7_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (EXTRA): the same dim joined twice under different
    roles (supplier nation vs customer nation) with a symmetric OR
    predicate, grouped by shipment year."""
    supp = load_table(spark, sf_dir, "supplier")
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = nation.select(F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        supp.join(li, supp.s_suppkey == li.l_suppkey)
        .join(orders, orders.o_orderkey == li.l_orderkey)
        .join(cust, cust.c_custkey == orders.o_custkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year(F.col("l_shipdate")).alias("l_year"),
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_NATION_VOLUME_SHIPPING_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INT) AS l_year,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM supplier JOIN lineitem ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def revenue_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (EXTRA): revenue over every subset of
    (returnflag, linestatus) — all four grouping combinations expanded
    map-side, still one shuffle (the rollup's bigger sibling)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"))
        .select(
            F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("returnflag"),
            F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("linestatus"),
            "revenue",
        )
    )


REVENUE_CUBE_SQL = """
SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
       coalesce(l_linestatus, 'ALL') AS linestatus,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape (EXTRA): disjunction of conjunctive brand/quantity
    ranges — the OR-of-ANDs predicate-pushdown stress (Catalyst extracts
    the common p_brand IN superset to the scans)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = li.join(part, part.p_partkey == li.l_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue")
    )


Q19_DISCOUNTED_REVENUE_SQL = """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#1' AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#2' AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#3' AND l_quantity BETWEEN 20 AND 30)
"""


def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (EXTRA): per-group argmin with a deterministic
    tiebreak — for every part, the supplier quoting the lowest unit
    price.  The correlated-subquery formulation (`WHERE price = (SELECT
    min ... WHERE partkey = outer.partkey)`) decorrelates to ONE
    map-side-combinable `min(struct(price, suppkey))` aggregate — the
    100 TB shape; a correlated probe per row would re-scan per part."""
    li = load_table(spark, sf_dir, "lineitem")
    unit = li.select(
        "l_partkey",
        "l_suppkey",
        (F.col("l_extendedprice") / F.col("l_quantity")).alias("unit_price"),
    )
    best = unit.groupBy("l_partkey").agg(
        F.min(F.struct("unit_price", "l_suppkey")).alias("best")
    )
    return best.select(
        "l_partkey",
        F.col("best.l_suppkey").alias("l_suppkey"),
        (F.round(F.col("best.unit_price") * 10000.0) / 10000.0).alias("unit_price"),
    )


CHEAPEST_SUPPLIER_PER_PART_SQL = """
WITH unit AS (
  SELECT l_partkey, l_suppkey, l_extendedprice / l_quantity AS unit_price
  FROM lineitem
), r AS (
  SELECT *,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY unit_price, l_suppkey) AS rn
  FROM unit
)
SELECT l_partkey, l_suppkey,
       round(unit_price * 10000.0) / 10000.0 AS unit_price
FROM r WHERE rn = 1
"""


def orders_above_cust_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery, decorrelated (EXTRA): orders pricier
    than their own customer's average.  One window pass partitioned by
    custkey — a single shuffle on the customer key — instead of a
    per-row correlated probe; the unrounded double comparison is
    bit-identical cross-engine (identical IEEE division), rounding only
    at the output edge."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    # exact integer-cents sum: order-independent, so the comparison below
    # can't flip on cross-engine summation order (same trick as the
    # dashboard sum — see functions/parity.py)
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    avg = F.sum(cents).over(w) / (F.count(F.lit(1)).over(w) * 100.0)
    return (
        orders.withColumn("cust_avg", avg)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey",
            "o_custkey",
            "o_totalprice",
            (F.round(F.col("cust_avg") * 10000.0) / 10000.0).alias("cust_avg"),
        )
    )


ORDERS_ABOVE_CUST_AVG_SQL = """
WITH w AS (
  SELECT o_orderkey, o_custkey, o_totalprice,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (PARTITION BY o_custkey)
           / (count(*) OVER (PARTITION BY o_custkey) * 100.0) AS cust_avg
  FROM orders
)
SELECT o_orderkey, o_custkey, o_totalprice,
       round(cust_avg * 10000.0) / 10000.0 AS cust_avg
FROM w WHERE o_totalprice > cust_avg
"""


def events_unpivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT / melt (EXTRA): the wide day×type matrix from
    events_pivot_daily melted back to long form with ``DataFrame.unpivot``
    (Spark's native melt — codegen Expand, no UDF, no shuffle beyond the
    pivot's own).  The oracle computes the long form DIRECTLY from raw
    events, so a green row proves pivot→unpivot is lossless (zero-count
    cells included, which raw grouping would silently lack)."""
    wide = events_pivot_daily(spark, sf_dir)
    types = ["click", "view", "signup", "purchase", "error"]
    return wide.unpivot("day", types, "event_type", "n").orderBy("day", "event_type")


EVENTS_UNPIVOT_ROUNDTRIP_SQL = """
WITH days AS (SELECT DISTINCT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day FROM events),
types AS (SELECT unnest(['click','view','signup','purchase','error']) AS event_type),
grid AS (SELECT day, event_type FROM days CROSS JOIN types),
cnt AS (
  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
)
SELECT g.day, g.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
FROM grid g LEFT JOIN cnt c ON g.day = c.day AND g.event_type = c.event_type
ORDER BY g.day, g.event_type
"""


# Driver-facing set (≤50 across all modules — see queries/__init__.py).
# Operator coverage notes for the variants demoted to EXTRA_*:
# - J8 left-anti  → driver row via new_events_only (same anti_join operator)
# - J13 left-semi → driver row via order_priority_counts (same semi_join)
# - O3 pagination → list_orders_page / list_customers_by_dim_sort / keyset
# - LIKE pushdown (red_parts_by_brand) stays asserted in tests/test_plans.py
QUERIES = {
    "pricing_summary": pricing_summary,
    "weighted_mean_price": weighted_mean_price,
    "volume_by_nation": volume_by_nation,
    "coord_step": coord_step,
    "avg_level_by_brand": avg_level_by_brand,
    "incident_counts": incident_counts,
    "distinct_pairs": distinct_pairs,
    "dedup_first_event": dedup_first_event,
    "new_events_only": new_events_only,
    "order_item_counts": order_item_counts,
    "concat_key_join": concat_key_join,
    "discount_class": discount_class,
    "date_parts": date_parts,
    "union_dedup": union_dedup,
    "props_extract": props_extract,
    "value_percentiles": value_percentiles,
    "revenue_rollup": revenue_rollup,
    "events_asof_spend": events_asof_spend,
    "top_return_customers": top_return_customers,
    "error_click_setops": error_click_setops,
    "events_spine_pivot": events_spine_pivot,
    "customer_order_coverage": customer_order_coverage,
    "order_priority_counts": order_priority_counts,
    "user_top_event_type": user_top_event_type,
}

ORACLES = {
    "pricing_summary": PRICING_SUMMARY_SQL,
    "weighted_mean_price": WEIGHTED_MEAN_PRICE_SQL,
    "volume_by_nation": VOLUME_BY_NATION_SQL,
    "coord_step": COORD_STEP_SQL,
    "avg_level_by_brand": AVG_LEVEL_BY_BRAND_SQL,
    "incident_counts": INCIDENT_COUNTS_SQL,
    "distinct_pairs": DISTINCT_PAIRS_SQL,
    "dedup_first_event": DEDUP_FIRST_EVENT_SQL,
    "new_events_only": NEW_EVENTS_ONLY_SQL,
    "order_item_counts": ORDER_ITEM_COUNTS_SQL,
    "concat_key_join": CONCAT_KEY_JOIN_SQL,
    "discount_class": DISCOUNT_CLASS_SQL,
    "date_parts": DATE_PARTS_SQL,
    "union_dedup": UNION_DEDUP_SQL,
    "props_extract": PROPS_EXTRACT_SQL,
    "value_percentiles": VALUE_PERCENTILES_SQL,
    "revenue_rollup": REVENUE_ROLLUP_SQL,
    "events_asof_spend": EVENTS_ASOF_SPEND_SQL,
    "top_return_customers": TOP_RETURN_CUSTOMERS_SQL,
    "error_click_setops": ERROR_CLICK_SETOPS_SQL,
    "events_spine_pivot": EVENTS_SPINE_PIVOT_SQL,
    "customer_order_coverage": CUSTOMER_ORDER_COVERAGE_SQL,
    "order_priority_counts": ORDER_PRIORITY_COUNTS_SQL,
    "user_top_event_type": USER_TOP_EVENT_TYPE_SQL,
}

def events_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (the pandas
    ``merge_asof(tolerance=...)`` form): like :func:`events_asof_spend`
    but a matched order-day summary older than 7 days yields NULLs —
    exercising the tolerance post-fill filter end-to-end against the
    DuckDB ASOF oracle (same union-window plan, one extra carried
    column)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error")
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.col("o_custkey").alias("user_id"),
        F.col("o_orderdate").cast("date").alias("order_day"),
    ).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("day_spend"),
    )
    left = ev.select("event_id", "user_id", F.col("ts").cast("date").alias("event_day"))
    out = asof_join(
        left,
        daily,
        on=["user_id"],
        left_time="event_day",
        right_time="order_day",
        payload=["order_day", "n_orders", "day_spend"],
        payload_nonnull=True,
        tolerance="INTERVAL '7' DAY",
    )
    return out.select(
        "event_id",
        "user_id",
        F.date_format("event_day", "yyyy-MM-dd").alias("event_day"),
        F.date_format("order_day", "yyyy-MM-dd").alias("order_day"),
        "n_orders",
        "day_spend",
    )


EVENTS_ASOF_TOLERANCE_SQL = """
WITH daily AS (
  SELECT o_custkey AS user_id,
         CAST(o_orderdate AS DATE) AS order_day,
         count(*) AS n_orders,
         round(sum(o_totalprice), 2) AS day_spend
  FROM orders GROUP BY 1, 2
), ev AS (
  SELECT event_id, user_id, CAST(ts AS DATE) AS event_day
  FROM events WHERE event_type = 'error'
)
SELECT ev.event_id, ev.user_id,
       strftime(ev.event_day, '%Y-%m-%d') AS event_day,
       CASE WHEN ev.event_day - d.order_day <= 7
            THEN strftime(d.order_day, '%Y-%m-%d') END AS order_day,
       CASE WHEN ev.event_day - d.order_day <= 7 THEN d.n_orders END AS n_orders,
       CASE WHEN ev.event_day - d.order_day <= 7 THEN d.day_spend END AS day_spend
FROM ev ASOF LEFT JOIN daily d
  ON ev.user_id = d.user_id AND ev.event_day >= d.order_day
"""


def data_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality suite (operators/expectations.py —
    Deequ/dbt-tests-style): uniqueness, null, range, set-membership,
    row-count, and referential-integrity checks over the warehouse
    tables, fused to one scan per table plus one counted anti-join per
    FK.  The report is checks-sized; every count is mirrored in the
    oracle."""
    from mini_project_204721_data_engineering_spark.operators.expectations import (
        expect_expr,
        expect_fk,
        expect_in_range,
        expect_in_set,
        expect_not_null,
        expect_row_count,
        expect_unique,
        run_expectations,
    )

    tables = {
        t: load_table(spark, sf_dir, t)
        for t in ("orders", "customer", "lineitem", "events")
    }
    suite = {
        "orders": [
            expect_unique("o_orderkey"),
            expect_not_null("o_custkey"),
            expect_in_set("o_orderstatus", ("O", "F", "P")),
            expect_row_count(100),
            expect_fk("o_custkey", "customer", "c_custkey"),
        ],
        "customer": [
            expect_unique("c_custkey"),
            expect_in_range("c_acctbal", -1000.0, 10000.0),
        ],
        "lineitem": [
            expect_in_range("l_discount", 0.0, 0.05),
            # cross-column invariant: the dbt-style generic expression
            expect_expr(
                "price_consistent",
                "l_extendedprice >= 0 AND l_quantity >= 1",
            ),
            expect_fk("l_orderkey", "orders", "o_orderkey"),
        ],
        "events": [
            expect_unique("event_id"),
            expect_not_null("user_id"),
        ],
    }
    return run_expectations(tables, suite)


DATA_EXPECTATIONS_SQL = """
SELECT *, n_violations = 0 AS passed FROM (
  SELECT 'orders' AS table_name, 'unique(o_orderkey)' AS "check",
         CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
  FROM orders
  UNION ALL
  SELECT 'orders', 'not_null(o_custkey)',
         CAST(count(*) - count(o_custkey) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'in_set(o_orderstatus)',
         CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                        AND o_orderstatus NOT IN ('O', 'F', 'P')
                       THEN 1 ELSE 0 END) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'row_count>=100',
         CAST(greatest(0, 100 - count(*)) AS BIGINT) FROM orders
  UNION ALL
  SELECT 'orders', 'fk(o_custkey->customer)', CAST(count(*) AS BIGINT)
  FROM (SELECT o_custkey FROM orders WHERE o_custkey IS NOT NULL) o
  LEFT JOIN customer c ON o.o_custkey = c.c_custkey
  WHERE c.c_custkey IS NULL
  UNION ALL
  SELECT 'customer', 'unique(c_custkey)',
         CAST(count(c_custkey) - count(DISTINCT c_custkey) AS BIGINT) FROM customer
  UNION ALL
  SELECT 'customer', 'range(c_acctbal,-1000.0,10000.0)',
         CAST(sum(CASE WHEN c_acctbal IS NOT NULL
                        AND (c_acctbal < -1000.0 OR c_acctbal > 10000.0)
                       THEN 1 ELSE 0 END) AS BIGINT) FROM customer
  UNION ALL
  SELECT 'lineitem', 'range(l_discount,0.0,0.05)',
         CAST(sum(CASE WHEN l_discount IS NOT NULL
                        AND (l_discount < 0.0 OR l_discount > 0.05)
                       THEN 1 ELSE 0 END) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'expr(price_consistent)',
         CAST(sum(CASE WHEN coalesce(l_extendedprice >= 0
                                     AND l_quantity >= 1, FALSE)
                       THEN 0 ELSE 1 END) AS BIGINT) FROM lineitem
  UNION ALL
  SELECT 'lineitem', 'fk(l_orderkey->orders)', CAST(count(*) AS BIGINT)
  FROM (SELECT l_orderkey FROM lineitem WHERE l_orderkey IS NOT NULL) l
  LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
  WHERE o.o_orderkey IS NULL
  UNION ALL
  SELECT 'events', 'unique(event_id)',
         CAST(count(event_id) - count(DISTINCT event_id) AS BIGINT) FROM events
  UNION ALL
  SELECT 'events', 'not_null(user_id)',
         CAST(count(*) - count(user_id) AS BIGINT) FROM events
) t
"""


def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC-style snapshot reconciliation (operators/diff.py): diff two
    deterministic versions of ``orders`` — new drops every 7th key
    (removed), bumps price on every 5th (changed), and appends shifted
    copies of every 11th (added) — then report per-status counts AND
    the per-column change breakdown in one output (status rows carry a
    NULL column; column rows carry status 'changed')."""
    from mini_project_204721_data_engineering_spark.operators.diff import (
        changed_column_counts,
        diff_summary,
        table_diff,
    )

    orders = load_table(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    shift = orders.agg((F.max("o_orderkey") + 1).alias("__s"))
    new = (
        old.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") * 1.1
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 11 == 0)
            .crossJoin(F.broadcast(shift))
            .select(
                (F.col("o_orderkey") + F.col("__s")).alias("o_orderkey"),
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    d = table_diff(old, new, keys=["o_orderkey"])
    summary = diff_summary(d).select(
        F.col("diff_status"), F.lit(None).cast("string").alias("column"), "n"
    )
    cols = changed_column_counts(d).select(
        F.lit("changed").alias("diff_status"),
        "column",
        F.col("n_changed").alias("n"),
    )
    return summary.unionByName(cols)


SNAPSHOT_DIFF_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
),
s AS (SELECT max(o_orderkey) + 1 AS shift FROM orders),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 1.1
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM old WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + shift, o_totalprice, o_orderstatus
  FROM old CROSS JOIN s WHERE o_orderkey % 11 = 0
),
d AS (
  SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS k,
         CASE WHEN o.o_orderkey IS NULL THEN 'added'
              WHEN n.o_orderkey IS NULL THEN 'removed'
              WHEN o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice
               AND o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus
              THEN 'unchanged' ELSE 'changed' END AS diff_status,
         NOT (o.o_totalprice IS NOT DISTINCT FROM n.o_totalprice) AS ch_price,
         NOT (o.o_orderstatus IS NOT DISTINCT FROM n.o_orderstatus) AS ch_status
  FROM old o FULL OUTER JOIN new n ON o.o_orderkey = n.o_orderkey
)
SELECT diff_status, CAST(NULL AS VARCHAR) AS "column", count(*) AS n
FROM d GROUP BY diff_status
UNION ALL
SELECT 'changed', col, count(*) FROM (
  SELECT k, unnest(list_filter(
    [CASE WHEN ch_status THEN 'o_orderstatus' END,
     CASE WHEN ch_price THEN 'o_totalprice' END],
    x -> x IS NOT NULL)) AS col
  FROM d WHERE diff_status = 'changed'
) GROUP BY col
"""


def apply_changes_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CDC APPLY side oracle-checked end-to-end
    (operators/diff.py::apply_changes): derive a deterministic new
    version of ``orders`` (every 7th key deleted, +7.25 on every 5th's
    price — exact in binary, no halfway hazard — every 11th key
    re-appended shifted), turn ``table_diff(old, new)`` into a change
    feed, apply it to ``old``, and report per-status (count, exact-cents
    price sum) of the REBUILT snapshot.  The oracle aggregates the
    target version directly — equality proves the diff→feed→apply chain
    reconstructs it value-for-value."""
    from mini_project_204721_data_engineering_spark.operators.diff import (
        apply_changes,
        table_diff,
    )

    orders = load_table(spark, sf_dir, "orders")
    old = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
    shift = orders.agg((F.max("o_orderkey") + 1).alias("__s"))
    new = (
        old.filter(F.col("o_orderkey") % 7 != 0)
        .withColumn(
            "o_totalprice",
            F.when(
                F.col("o_orderkey") % 5 == 0, F.col("o_totalprice") + 7.25
            ).otherwise(F.col("o_totalprice")),
        )
        .unionByName(
            old.filter(F.col("o_orderkey") % 11 == 0)
            .crossJoin(F.broadcast(shift))
            .select(
                (F.col("o_orderkey") + F.col("__s")).alias("o_orderkey"),
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
            F.when(F.col("diff_status") == "removed", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
        )
        .join(new, "o_orderkey", "left")
    )
    rebuilt = apply_changes(old, feed, keys=["o_orderkey"])
    return rebuilt.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "sum_cents"
        ),
    )


APPLY_CHANGES_REBUILD_SQL = """
WITH old AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
),
s AS (SELECT max(o_orderkey) + 1 AS shift FROM orders),
new AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 7.25
              ELSE o_totalprice END AS o_totalprice,
         o_orderstatus
  FROM old WHERE o_orderkey % 7 <> 0
  UNION ALL
  SELECT o_orderkey + shift, o_totalprice, o_orderstatus
  FROM old CROSS JOIN s WHERE o_orderkey % 11 = 0
)
SELECT o_orderstatus, count(*) AS n,
       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_cents
FROM new GROUP BY o_orderstatus
"""


def corr_qty_discount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation from EXACT integer sums — the portable way
    to cross-check a statistical aggregate between engines: built-in
    ``corr()`` accumulates floats in partition order (non-deterministic
    across engines AND runs), so both sides instead derive
    ``(n·Σxy − Σx·Σy) / sqrt((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))`` from
    exact integer sums (quantity is integral, discount is 2-dp →
    cents), giving a bit-identical double on any engine.  Per
    returnflag over lineitem; all six sums are map-side combinable —
    one groups-sized shuffle, no second pass (the textbook one-pass
    covariance shape)."""
    from mini_project_204721_data_engineering_spark.functions.parity import (
        portable_round,
    )

    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    y = F.round(F.col("l_discount") * 100).cast("long")
    agg = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
        F.sum(x * y).alias("sxy"),
    )
    num = "CAST(n * sxy - sx * sy AS DOUBLE)"
    den = "sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))"
    return agg.select(
        "l_returnflag",
        "n",
        portable_round(f"{num} / {den}", 6).alias("corr_qty_disc"),
    ).orderBy("l_returnflag")


CORR_QTY_DISCOUNT_SQL = """
WITH a AS (
  SELECT l_returnflag,
         count(*) AS n,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sx,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sy,
         CAST(sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
              AS BIGINT) AS sxx,
         CAST(sum(CAST(round(l_discount * 100) AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS syy,
         CAST(sum(CAST(l_quantity AS BIGINT)
                  * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, n,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                    * CAST(n * syy - sy * sy AS DOUBLE)) * 1000000.0)
         / 1000000.0 AS corr_qty_disc
FROM a ORDER BY l_returnflag
"""


def nearby_site_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Radius join (operators/geo.py): users and sites get DETERMINISTIC
    synthetic coordinates from pure key arithmetic (mirrorable in SQL —
    no hash functions), Spark runs the grid-bucketed path, and the
    oracle brute-forces the cross join + haversine — so the value hash
    itself proves grid-pruned ≡ exact."""
    from mini_project_204721_data_engineering_spark.functions.parity import portable_round
    from mini_project_204721_data_engineering_spark.operators.geo import radius_join

    users = (
        load_table(spark, sf_dir, "events")
        .select("user_id")
        .distinct()
        .select(
            "user_id",
            (F.lit(6.0) + (F.col("user_id") * 7919 % 1000) / 1000.0 * 14.0).alias("lat"),
            (F.lit(97.0) + (F.col("user_id") * 104729 % 1000) / 1000.0 * 8.0).alias("lon"),
        )
    )
    sites = load_table(spark, sf_dir, "nation").select(
        "n_nationkey",
        (F.lit(6.0) + (F.col("n_nationkey") * 7927 % 1000) / 1000.0 * 14.0).alias("slat"),
        (F.lit(97.0) + (F.col("n_nationkey") * 104723 % 1000) / 1000.0 * 8.0).alias("slon"),
    )
    out = radius_join(
        users, sites, radius_km=120.0, point_cols=("lat", "lon"),
        site_cols=("slat", "slon"), lat_range=(5.0, 21.0),
    )
    return out.select(
        "user_id",
        "n_nationkey",
        portable_round(F.col("dist_km"), 4).alias("dist_km"),
    )


NEARBY_SITE_PAIRS_SQL = """
WITH u AS (
  SELECT DISTINCT user_id,
         6.0 + (user_id * 7919 % 1000) / 1000.0 * 14.0 AS lat,
         97.0 + (user_id * 104729 % 1000) / 1000.0 * 8.0 AS lon
  FROM events
),
s AS (
  SELECT n_nationkey,
         6.0 + (n_nationkey * 7927 % 1000) / 1000.0 * 14.0 AS slat,
         97.0 + (n_nationkey * 104723 % 1000) / 1000.0 * 8.0 AS slon
  FROM nation
),
d AS (
  SELECT user_id, n_nationkey,
         2 * 6371.0088 * asin(sqrt(
           sin(radians(slat - lat) / 2) * sin(radians(slat - lat) / 2)
           + cos(radians(lat)) * cos(radians(slat))
             * sin(radians(slon - lon) / 2) * sin(radians(slon - lon) / 2)
         )) AS dist
  FROM u CROSS JOIN s
)
SELECT user_id, n_nationkey, round(dist * 10000.0) / 10000.0 AS dist_km
FROM d WHERE dist <= 120.0
"""


def error_window_clicks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """General interval containment join
    (operators/temporal.py::interval_join): ±1 h windows around each
    user's ERROR events — overlapping intervals, so a click may match
    many — joined to the user's clicks via the bucketed equi-join path;
    the oracle brute-forces the theta join, so the value hash proves
    bucketed ≡ exact.  Epoch arithmetic uses timestamp_diff against an
    anchor cast to the column's OWN type (NTZ-safe)."""
    from mini_project_204721_data_engineering_spark.operators.temporal import interval_join

    events = load_table(spark, sf_dir, "events")
    anchor = F.lit("2024-01-01 00:00:00").cast(dict(events.dtypes)["ts"])
    e = events.select(
        "user_id",
        "event_id",
        "event_type",
        F.timestamp_diff("SECOND", anchor, F.col("ts")).alias("s"),
    )
    err = e.filter(F.col("event_type") == "error").select(
        "user_id",
        F.col("event_id").alias("err_id"),
        (F.col("s") - 3600).alias("lo"),
        (F.col("s") + 3600).alias("hi"),
    )
    clk = e.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "s"
    )
    pairs = interval_join(
        clk, err, fact_ts="s", start_col="lo", end_col="hi",
        bucket=3600.0, on=["user_id"],
    )
    return (
        pairs.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.countDistinct("click_id").alias("n_covered_clicks"),
        )
        .orderBy("user_id")
    )


ERROR_WINDOW_CLICKS_SQL = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts) AS s
  FROM events
),
err AS (
  SELECT user_id, s - 3600 AS lo, s + 3600 AS hi
  FROM e WHERE event_type = 'error'
),
clk AS (
  SELECT user_id, event_id AS click_id, s FROM e WHERE event_type = 'click'
),
p AS (
  SELECT c.user_id, c.click_id
  FROM clk c JOIN err r
    ON c.user_id = r.user_id AND c.s >= r.lo AND c.s < r.hi
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT click_id) AS BIGINT) AS n_covered_clicks
FROM p GROUP BY user_id ORDER BY user_id
"""


def chain_click_view_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-step funnel with per-step deadlines
    (operators/temporal.py::event_chain): earliest
    click→view→purchase completion per user with each step within 2 h,
    built on backward as-of joins (greedy-earliest is wrong under
    deadlines — the oracle mirrors the same staged ASOF+tolerance
    construction)."""
    from mini_project_204721_data_engineering_spark.operators.temporal import event_chain

    events = load_table(spark, sf_dir, "events")
    return event_chain(
        events, ["click", "view", "purchase"], within="INTERVAL '2' HOUR"
    ).orderBy("user_id")


CHAIN_CVP_SQL = """
WITH clk AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
v0 AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
qv AS (
  SELECT DISTINCT v.user_id, v.ts
  FROM v0 v ASOF LEFT JOIN clk c
    ON v.user_id = c.user_id AND v.ts >= c.ts
  WHERE c.ts IS NOT NULL AND v.ts - c.ts <= INTERVAL 2 HOUR
),
p0 AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
qp AS (
  SELECT p.user_id, p.ts
  FROM p0 p ASOF LEFT JOIN (SELECT user_id, ts AS qts FROM qv) q
    ON p.user_id = q.user_id AND p.ts >= q.qts
  WHERE q.qts IS NOT NULL AND p.ts - q.qts <= INTERVAL 2 HOUR
)
SELECT user_id, min(ts) AS completed_at FROM qp GROUP BY user_id
ORDER BY user_id
"""


def part_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage (operators/linkage.py::fuzzy_join): every 10th
    part's name deterministically corrupted (4th character deleted) and
    fuzzy-joined back to the distinct name catalog at edit distance ≤ 2
    via q-gram blocking + exact levenshtein verify; the oracle
    brute-forces the cross join, so the value hash proves the blocked
    join is complete."""
    from mini_project_204721_data_engineering_spark.operators.linkage import fuzzy_join

    part = load_table(spark, sf_dir, "part")
    corrupted = part.filter(F.col("p_partkey") % 10 == 0).select(
        "p_partkey",
        F.expr("concat(substring(p_name, 1, 3), substring(p_name, 5))").alias(
            "cname"
        ),
    )
    names = part.select("p_name").distinct()
    out = fuzzy_join(corrupted, names, "cname", "p_name", max_dist=2)
    return out.select(
        "p_partkey", "cname", "p_name", F.col("edit_dist").cast("int").alias("edit_dist")
    )


PART_NAME_LINKAGE_SQL = """
WITH c AS (
  SELECT p_partkey,
         substring(p_name, 1, 3) || substring(p_name, 5) AS cname
  FROM part WHERE p_partkey % 10 = 0
),
n AS (SELECT DISTINCT p_name FROM part)
SELECT c.p_partkey, c.cname, n.p_name,
       CAST(levenshtein(c.cname, n.p_name) AS INT) AS edit_dist
FROM c CROSS JOIN n
WHERE levenshtein(c.cname, n.p_name) <= 2
"""


def part_name_tokensort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-sort record linkage
    (operators/linkage.py::fuzzy_join_tokensort): every 10th part name
    WORD-TRANSPOSED ("red widget" → "widget red" — levenshtein would
    mis-rank these, the classic linkage failure), every 20th
    additionally loses its 4th character, then similarity-joined back
    to the name catalog at token-sort ratio ≥ 0.8.  The oracle
    brute-forces the cross join with the same normalize+score formula,
    so the value hash proves the q-gram-blocked join is complete."""
    from mini_project_204721_data_engineering_spark.functions.parity import (
        portable_round,
    )
    from mini_project_204721_data_engineering_spark.operators.linkage import (
        fuzzy_join_tokensort,
    )

    part = load_table(spark, sf_dir, "part")
    swapped = F.concat_ws(
        " ",
        F.element_at(F.split(F.col("p_name"), " "), 2),
        F.element_at(F.split(F.col("p_name"), " "), 1),
    )
    corrupted = part.filter(F.col("p_partkey") % 10 == 0).select(
        "p_partkey",
        F.when(
            F.col("p_partkey") % 20 == 0,
            F.concat(F.substring(swapped, 1, 3), F.expr(
                "substring(concat_ws(' ', element_at(split(p_name, ' '), 2),"
                " element_at(split(p_name, ' '), 1)), 5)"
            )),
        ).otherwise(swapped).alias("cname"),
    )
    names = part.select("p_name").distinct()
    out = fuzzy_join_tokensort(corrupted, names, "cname", "p_name", min_sim=0.8)
    return out.select(
        "p_partkey",
        "cname",
        "p_name",
        portable_round(F.col("similarity"), 4).alias("similarity"),
    )


PART_NAME_TOKENSORT_SQL = r"""
WITH c0 AS (
  SELECT p_partkey,
         list_element(string_split(p_name, ' '), 2) || ' ' ||
         list_element(string_split(p_name, ' '), 1) AS sw
  FROM part WHERE p_partkey % 10 = 0
),
c AS (
  SELECT p_partkey,
         CASE WHEN p_partkey % 20 = 0
              THEN substring(sw, 1, 3) || substring(sw, 5)
              ELSE sw END AS cname
  FROM c0
),
n AS (SELECT DISTINCT p_name FROM part),
keyed AS (
  SELECT c.p_partkey, c.cname, n.p_name,
         array_to_string(list_sort(list_filter(
           regexp_split_to_array(trim(c.cname), '\s+'), x -> x != '')), ' ')
           AS kl,
         array_to_string(list_sort(list_filter(
           regexp_split_to_array(trim(n.p_name), '\s+'), x -> x != '')), ' ')
           AS kr
  FROM c CROSS JOIN n
)
SELECT p_partkey, cname, p_name,
       round((1.0 - CAST(levenshtein(kl, kr) AS DOUBLE)
              / greatest(length(kl), length(kr), 1)) * 10000.0) / 10000.0
         AS similarity
FROM keyed
WHERE 1.0 - CAST(levenshtein(kl, kr) AS DOUBLE)
      / greatest(length(kl), length(kr), 1) >= 0.8
"""


def user_golden_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship after linkage (operators/linkage.py::golden_record):
    one golden row per user, each field resolved INDEPENDENTLY to the
    most recent non-NULL observation — last purchase amount and last
    error event, back-filled from different rows.  One map-side-
    combinable max_by groupBy; event_id pins exact-timestamp ties.
    No arithmetic on the surviving values → no rounding needed."""
    from mini_project_204721_data_engineering_spark.operators.linkage import golden_record

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias(
            "last_purchase_value"
        ),
        F.when(F.col("event_type") == "error", F.col("event_id")).alias(
            "last_error_event"
        ),
    )
    return golden_record(
        ev,
        ["user_id"],
        ["ts", "event_id"],
        ["last_purchase_value", "last_error_event"],
    )


USER_GOLDEN_PROFILE_SQL = """
SELECT user_id,
       first(CASE WHEN event_type = 'purchase' THEN value END
             ORDER BY (CASE WHEN event_type = 'purchase' THEN value END
                       IS NOT NULL) DESC, ts DESC, event_id DESC)
         AS last_purchase_value,
       first(CASE WHEN event_type = 'error' THEN event_id END
             ORDER BY (CASE WHEN event_type = 'error' THEN event_id END
                       IS NOT NULL) DESC, ts DESC, event_id DESC)
         AS last_error_event
FROM events GROUP BY user_id
"""


#: fixed PSI bin edges for the events value distribution (caller-fixed
#: by design — quantile-derived edges would change every run and make
#: drift unmeasurable; see operators/expectations.py::psi_drift)
_PSI_BREAKS = [5.0, 10.0, 20.0, 50.0, 100.0, 200.0]


def value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor (operators/expectations.py::psi_drift):
    PSI of the events value distribution, first half of January as the
    reference vs the rest as current, over fixed bin edges.  One
    |bins|-sized shuffle per side, broadcast totals; psi terms are a
    deterministic expression over identical doubles in both engines —
    rounding is at the output edge only."""
    from mini_project_204721_data_engineering_spark.functions.parity import portable_round
    from mini_project_204721_data_engineering_spark.operators.expectations import psi_drift

    ev = load_table(spark, sf_dir, "events")
    cut = "2024-01-16"
    ref = ev.filter(F.col("ts") < F.lit(cut).cast("timestamp_ntz"))
    cur = ev.filter(F.col("ts") >= F.lit(cut).cast("timestamp_ntz"))
    out = psi_drift(ref, cur, "value", _PSI_BREAKS)
    return out.select(
        "bin",
        portable_round(F.col("ref_frac"), 6).alias("ref_frac"),
        portable_round(F.col("cur_frac"), 6).alias("cur_frac"),
        portable_round(F.col("psi_term"), 6).alias("psi_term"),
    )


VALUE_DRIFT_PSI_SQL = """
WITH binned AS (
  SELECT CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 'r' ELSE 'c' END AS side,
         CASE WHEN value < 5 THEN 0 WHEN value < 10 THEN 1
              WHEN value < 20 THEN 2 WHEN value < 50 THEN 3
              WHEN value < 100 THEN 4 WHEN value < 200 THEN 5
              ELSE 6 END AS bin
  FROM events WHERE value IS NOT NULL
), counts AS (
  SELECT side, bin, count(*) AS n FROM binned GROUP BY side, bin
), fracs AS (
  SELECT side, bin,
         n / CAST(sum(n) OVER (PARTITION BY side) AS DOUBLE) AS frac
  FROM counts
), spine AS (SELECT CAST(range AS INT) AS bin FROM range(0, 7)),
clamped AS (
  SELECT s.bin,
         greatest(coalesce(r.frac, 0.0), 1e-6) AS rf,
         greatest(coalesce(c.frac, 0.0), 1e-6) AS cf
  FROM spine s
  LEFT JOIN (SELECT bin, frac FROM fracs WHERE side = 'r') r ON s.bin = r.bin
  LEFT JOIN (SELECT bin, frac FROM fracs WHERE side = 'c') c ON s.bin = c.bin
)
SELECT bin,
       round(rf * 1000000.0) / 1000000.0 AS ref_frac,
       round(cf * 1000000.0) / 1000000.0 AS cur_frac,
       round((cf - rf) * ln(cf / rf) * 1000000.0) / 1000000.0 AS psi_term
FROM clamped
"""


def user_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnostic (operators/profile.py::key_skew_profile): the
    group-size distribution of events per user — the one-row report
    that decides whether a key needs salting before it melts a reducer
    (uniform here: p99 ~ p50; a viral-user distribution would show
    max >> p99).  Exact percentiles for oracle parity; the
    percentile_approx swap is the documented fact-scale form."""
    from mini_project_204721_data_engineering_spark.operators.profile import key_skew_profile

    ev = load_table(spark, sf_dir, "events")
    out = key_skew_profile(ev, ["user_id"])
    return out.select(
        "n_groups", "total_rows", "max_group",
        F.round("p50_group", 4).alias("p50_group"),
        F.round("p99_group", 4).alias("p99_group"),
        "hot_share",
    )


USER_SKEW_PROFILE_SQL = """
WITH c AS (
  SELECT user_id, count(*) AS n FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(sum(n) AS BIGINT) AS total_rows,
       CAST(max(n) AS BIGINT) AS max_group,
       round(quantile_cont(n, 0.5), 4) AS p50_group,
       round(quantile_cont(n, 0.99), 4) AS p99_group,
       round(CAST(max(n) AS DOUBLE) / sum(n) * 1000000) / 1000000 AS hot_share
FROM c
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (parts/supplier relationship count): distinct
    suppliers able to ship qualifying parts, per (brand, type, size) —
    NOT-equal + NOT-LIKE + IN-list predicates pushed to the part scan,
    a NOT-EXISTS anti-join excluding flagged suppliers (negative
    balance stands in for the complaint filter — NOT EXISTS, not
    NOT IN, so both engines share anti-join NULL semantics), and a
    distinct count
    over the supplier-part pairs observed in lineitem (the synthetic
    schema has no partsupp; the observed-pair derivation is the same
    relationship at shipment grain)."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    p = part.filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 4, 7, 11, 21)
    )
    flagged = supp.filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.select("l_partkey", "l_suppkey")
        .join(p, li["l_partkey"] == p["p_partkey"])
        .join(flagged, li["l_suppkey"] == flagged["s_suppkey"], "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


Q16_SUPPLIER_PART_SQL = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 4, 7, 11, 21)
  AND NOT EXISTS (SELECT 1 FROM supplier s
                  WHERE s.s_suppkey = l.l_suppkey AND s.s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
"""


def attribution_linear_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch (linear) revenue attribution: each purchase's value
    splits equally across the user's clicks in the preceding 24 h,
    summed by click day.  The credit is EXACT integer micro-cents via
    floor division (``cents·1e6 div n`` — identical integers in both
    engines, order-independent sums; the sub-micro remainder is
    truncated by documented policy, not float luck).  One user-keyed
    equi-join + a purchase-partitioned count window; unattributed
    purchases (no qualifying click) drop out."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        F.col("event_id").alias("pid"),
        "user_id",
        F.col("ts").alias("pts"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    j = p.join(c, "user_id").filter(
        (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 24 HOURS"))
        & (F.col("cts") < F.col("pts"))
    )
    n = j.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("pid")))
    credit = F.expr("(cents * 1000000L) div n")
    return (
        n.groupBy(F.col("cts").cast("date").alias("click_day"))
        .agg(
            (F.sum(credit) / F.lit(100_000_000.0)).alias("attributed_revenue"),
            F.count(F.lit(1)).alias("n_credits"),
        )
    )


ATTRIBUTION_LINEAR_SQL = """
WITH p AS (
  SELECT event_id AS pid, user_id, ts AS pts,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
), c AS (
  SELECT user_id, ts AS cts FROM events WHERE event_type = 'click'
), j AS (
  SELECT p.pid, p.cents, c.cts
  FROM p JOIN c USING (user_id)
  WHERE c.cts >= p.pts - INTERVAL 24 HOUR AND c.cts < p.pts
), w AS (
  SELECT pid, cents, cts, count(*) OVER (PARTITION BY pid) AS n FROM j
)
SELECT CAST(cts AS DATE) AS click_day,
       CAST(sum((cents * 1000000) // n) AS BIGINT) / 100000000.0
         AS attributed_revenue,
       count(*) AS n_credits
FROM w GROUP BY CAST(cts AS DATE)
"""


def theta_user_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch audience overlap (operators/theta.py): estimated
    distinct error-users vs click-users AND their intersection/union/
    jaccard from θ=25% hash samples — the set operation HLL can't do.
    The estimator is DETERMINISTIC (portable md5 threshold, no rand()),
    so the oracle recomputes the identical estimates value-for-value:
    a library sketch could never be checked this way.  Only the θ
    fraction of user ids crosses any shuffle."""
    from mini_project_204721_data_engineering_spark.operators.theta import theta_overlap

    ev = load_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error")
    clicks = ev.filter(F.col("event_type") == "click")
    out = theta_overlap(errors, clicks, ["user_id"], 0.25)
    return out.select(
        F.round("est_a", 2).alias("est_error_users"),
        F.round("est_b", 2).alias("est_click_users"),
        F.round("est_intersection", 2).alias("est_both"),
        F.round("est_union", 2).alias("est_either"),
        F.round(F.col("est_jaccard") * 10000).alias("jaccard_bp"),
    )


THETA_USER_OVERLAP_SQL = """
WITH ka AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'error'
    AND substring(md5('theta|' || CAST(user_id AS VARCHAR)), 1, 4) < '4000'
), kb AS (
  SELECT DISTINCT user_id FROM events
  WHERE event_type = 'click'
    AND substring(md5('theta|' || CAST(user_id AS VARCHAR)), 1, 4) < '4000'
), c AS (
  SELECT (SELECT count(*) FROM ka) AS na,
         (SELECT count(*) FROM kb) AS nb,
         (SELECT count(*) FROM ka JOIN kb USING (user_id)) AS ni
)
SELECT round(na / 0.25 * 100) / 100 AS est_error_users,
       round(nb / 0.25 * 100) / 100 AS est_click_users,
       round(ni / 0.25 * 100) / 100 AS est_both,
       round((na + nb - ni) / 0.25 * 100) / 100 AS est_either,
       round(CASE WHEN na + nb - ni > 0
                  THEN CAST(ni AS DOUBLE) / (na + nb - ni) ELSE 0.0 END * 10000)
         AS jaccard_bp
FROM c
"""


def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (operators/graph.py) oracle-checked END-TO-END: the
    bipartite supplier→customer shipment graph (one edge per lineitem
    through its order; parallel edges add weight), 5 power iterations.
    The oracle UNROLLS the same iteration as 5 chained (non-recursive)
    CTEs with identical conventions — |V| mass, per-edge 1/out-degree
    shares, uniform dangling redistribution (customers never ship, so
    half the graph is dangling and the correction is load-bearing).
    Ranks round at 1e-6, far above the ~1e-14 cross-engine float drift
    5 iterations accumulate."""
    from mini_project_204721_data_engineering_spark.functions.parity import portable_round
    from mini_project_204721_data_engineering_spark.operators.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    # customers live in the strictly-NEGATIVE id namespace
    # (-(custkey+1), since the synthetic keys start at 0), so the two
    # vertex families can never collide at ANY scale factor — an
    # additive offset would silently merge supplier 1,000,001 with
    # customer 1 once suppkey outgrew it
    edges = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.col("l_suppkey").alias("src"),
        (-(F.col("o_custkey") + 1)).alias("dst"),
    )
    out = pagerank(edges, n_iter=5)
    return out.select("id", portable_round(F.col("rank"), 6).alias("rank"))


def _pagerank_unrolled_sql(n_iter: int = 5, damping: float = 0.85) -> str:
    base = round(1.0 - damping, 10)
    parts = [f"""
WITH edges AS (
  SELECT l.l_suppkey AS src, -(o.o_custkey + 1) AS dst
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
), verts AS (
  SELECT DISTINCT id FROM (
    SELECT src AS id FROM edges UNION ALL SELECT dst FROM edges
  )
), degs AS (
  SELECT src, count(*) AS deg FROM edges GROUP BY src
), nv AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM verts),
pr0 AS (SELECT id, 1.0 AS rank FROM verts)"""]
    for i in range(n_iter):
        parts.append(f""",
dang{i} AS (
  SELECT COALESCE(sum(p.rank), 0.0) AS d FROM pr{i} p
  LEFT JOIN degs g ON p.id = g.src WHERE g.src IS NULL
),
pr{i + 1} AS (
  SELECT v.id,
         {base} + {damping} * (COALESCE(c.inc, 0.0) +
                               (SELECT d FROM dang{i}) / (SELECT n FROM nv))
           AS rank
  FROM verts v
  LEFT JOIN (
    SELECT e.dst AS id, sum(p.rank / g.deg) AS inc
    FROM edges e
    JOIN pr{i} p ON e.src = p.id
    JOIN degs g ON e.src = g.src
    GROUP BY e.dst
  ) c ON v.id = c.id
)""")
    parts.append(f"""
SELECT id, round(rank * 1000000.0) / 1000000.0 AS rank FROM pr{n_iter}""")
    return "".join(parts)


SUPPLIER_PAGERANK_SQL = _pagerank_unrolled_sql()


def q18_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): aggregate the fact FIRST
    (map-side-combined per-order quantity sum), filter to the big
    orders — a tiny set — THEN join orders and customer, so the joins
    run at having-clause grain, never fact grain.  Quantities are
    integral; summed as longs for exact parity."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("total_qty"))
        .filter(F.col("total_qty") > 200)
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select(
            "c_name",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            "o_totalprice",
            "total_qty",
        )
    )


Q18_LARGE_VOLUME_SQL = """
SELECT c.c_name,
       o.o_orderkey,
       CAST(o.o_orderdate AS DATE) AS order_date,
       o.o_totalprice,
       big.total_qty
FROM (
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(CAST(l_quantity AS BIGINT)) > 200
) big
JOIN orders o ON big.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average positive balance
    who never placed a big-ticket (>300k) order, counted per nation
    (the synthetic data gives every customer SOME order, so plain Q22
    no-orders would be vacuous — the big-ticket variant keeps the
    anti-join + scalar-subquery shape non-degenerate).  The
    average-balance comparison runs in EXACT integer arithmetic
    (cents·count > total-cents — no float mean, so no engine can
    disagree at the boundary); the scalar aggregate broadcasts; the
    never-ordered check is the left-anti join."""
    c = load_table(spark, sf_dir, "customer").withColumn(
        "bal_cents", F.round(F.col("c_acctbal") * 100).cast("long")
    )
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 300000)
    pos = c.filter(F.col("c_acctbal") > 0)
    scalar = pos.agg(
        F.sum("bal_cents").alias("__s"), F.count(F.lit(1)).alias("__n")
    )
    rich = (
        c.crossJoin(F.broadcast(scalar))
        .filter(F.col("bal_cents") * F.col("__n") > F.col("__s"))
        .join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
    )
    return rich.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_cust"),
        (F.sum("bal_cents") / F.lit(100.0)).alias("total_bal"),
    )


Q22_SALES_OPPORTUNITY_SQL = """
WITH c AS (
  SELECT c_custkey, c_nationkey, c_acctbal,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_cents
  FROM customer
), s AS (
  SELECT CAST(sum(bal_cents) AS BIGINT) AS s, count(*) AS n
  FROM c WHERE c_acctbal > 0
)
SELECT c.c_nationkey,
       count(*) AS n_cust,
       CAST(sum(bal_cents) AS BIGINT) / 100.0 AS total_bal
FROM c CROSS JOIN s
WHERE c.bal_cents * s.n > s.s
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 300000)
GROUP BY c.c_nationkey
"""


def value_anomalies_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group anomaly gate: median/MAD outlier detection on the
    events value stream (|x − med| > 3 · 1.4826 · MAD — the consistent
    normal-σ estimate; mean/σ would let the outliers inflate their own
    threshold).  Two grouped medians with the group-stat joins
    broadcast (type-sized), anomaly decision a codegen comparison.
    Exact medians here for bit-for-bit oracle parity; at fact scale
    swap F.median for approx_percentile(0.5) — the mergeable-sketch
    path — the thresholds are statistics, not contracts."""
    from mini_project_204721_data_engineering_spark.functions.parity import portable_round

    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    mad = (
        ev.join(F.broadcast(med), "event_type")
        .groupBy("event_type")
        .agg(
            F.median(F.abs(F.col("value") - F.col("med"))).alias("mad"),
            F.first("med").alias("med"),
        )
    )
    flagged = ev.join(F.broadcast(mad), "event_type")
    is_anom = F.abs(F.col("value") - F.col("med")) > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
    return flagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(is_anom.cast("long")).alias("n_anomalous"),
        portable_round("first(med)", 4).alias("med"),
        portable_round("first(mad)", 4).alias("mad"),
    )


VALUE_ANOMALIES_MAD_SQL = """
WITH vals AS (
  SELECT event_type, value FROM events WHERE value IS NOT NULL
), med AS (
  SELECT event_type, median(value) AS med FROM vals GROUP BY event_type
), mad AS (
  SELECT v.event_type,
         median(abs(v.value - m.med)) AS mad,
         any_value(m.med) AS med
  FROM vals v JOIN med m USING (event_type)
  GROUP BY v.event_type
)
SELECT v.event_type,
       count(*) AS n_total,
       CAST(sum(CASE WHEN abs(v.value - d.med) > 3.0 * 1.4826 * d.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalous,
       round(d.med * 10000.0) / 10000.0 AS med,
       round(d.mad * 10000.0) / 10000.0 AS mad
FROM vals v JOIN mad d USING (event_type)
GROUP BY v.event_type, d.med, d.mad
"""


def bloom_semi_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-block Bloom join pruning (operators/bloom.py): lineitem is
    pre-filtered against a bloom of the size-1 part keys — a broadcast
    word-table join and a codegen bit test, the probe side never
    shuffled — and only the ~fpp-sized survivor set reaches the exact
    semi-join that decides.  The oracle is the plain IN-subquery
    semi-join: value-hash equality proves the bloom path prunes without
    ever dropping a true match.  Revenue summed as integer cents."""
    from mini_project_204721_data_engineering_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    keys = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_size") == 1)
        .select("p_partkey")
    )
    pruned = bloom_semi_join(li, keys, ["l_partkey"], ["p_partkey"], fpp=0.01)
    return pruned.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_items"),
        (
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")) / F.lit(100.0)
        ).alias("revenue"),
    )


BLOOM_SEMI_PRUNE_SQL = """
SELECT l_returnflag,
       count(*) AS n_items,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) / 100.0
         AS revenue
FROM lineitem
WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size = 1)
GROUP BY l_returnflag
"""


def revenue_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental aggregate-view maintenance
    (operators/incremental.py::maintain_aggregate): a revenue-by-priority
    aggregate built over the pre-1997 snapshot, then maintained through a
    before/after-image CDC feed — deletes (pre-1993 purge), in-place
    updates (June-1995 price correction of +10.00), and inserts (the
    1997+ arrivals) — WITHOUT re-reading the fact table.  The oracle
    recomputes the final state from scratch; value-hash equality proves
    delta maintenance ≡ full recompute.  Money is summed as integer
    cents (order-independent, exactly mergeable with deltas); the one
    divide happens at the output edge."""
    from mini_project_204721_data_engineering_spark.operators.incremental import (
        base_aggregate,
        maintain_aggregate,
    )

    o = load_table(spark, sf_dir, "orders")
    keys = ["o_orderpriority"]
    meas = {"revenue_cents": lambda r: F.round(r["o_totalprice"] * 100).cast("long")}
    d = F.col("o_orderdate").cast("date")

    base = base_aggregate(
        o.filter(d < F.lit("1997-01-01")), keys, meas, count_col="order_cnt"
    )

    row = F.struct(*[F.col(c) for c in o.columns])
    null_row = F.when(F.lit(False), row)  # typed NULL struct
    bumped = F.struct(
        *[
            (F.col(c) + F.lit(10.0)).alias(c) if c == "o_totalprice" else F.col(c)
            for c in o.columns
        ]
    )
    feed = (
        o.filter(d >= F.lit("1997-01-01"))
        .select(F.lit("insert").alias("op"), null_row.alias("before"), row.alias("after"))
        .unionByName(
            o.filter(d < F.lit("1993-01-01")).select(
                F.lit("delete").alias("op"), row.alias("before"), null_row.alias("after")
            )
        )
        .unionByName(
            o.filter((d >= F.lit("1995-06-01")) & (d < F.lit("1995-07-01"))).select(
                F.lit("update").alias("op"),
                row.alias("before"),
                bumped.alias("after"),
            )
        )
    )
    out = maintain_aggregate(base, feed, keys, meas, count_col="order_cnt")
    return out.select(
        "o_orderpriority",
        (F.col("revenue_cents") / F.lit(100.0)).alias("revenue"),
        "order_cnt",
    )


REVENUE_MAINTENANCE_SQL = """
SELECT o_orderpriority,
       CAST(sum(CAST(round(
         (CASE WHEN CAST(o_orderdate AS DATE) >= DATE '1995-06-01'
                AND CAST(o_orderdate AS DATE) <  DATE '1995-07-01'
               THEN o_totalprice + 10.0 ELSE o_totalprice END) * 100) AS BIGINT)
       ) AS BIGINT) / 100.0 AS revenue,
       count(*) AS order_cnt
FROM orders
WHERE CAST(o_orderdate AS DATE) >= DATE '1993-01-01'
GROUP BY o_orderpriority
"""


def q14_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (EXTRA): promotion revenue share — conditional
    aggregation over a dim-attribute predicate inside ONE fact pass
    (sum(CASE WHEN promo)/sum(all)), date filter pushed to the scan,
    part dim broadcast.  Money sums in exact integer cents so the share
    division starts from bit-identical doubles on both engines; the
    final percent through portable_round."""
    from mini_project_204721_data_engineering_spark.functions.parity import portable_round

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    row = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01"))
        )
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.sum(F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0))).alias("promo_cents"),
            F.sum(cents).alias("total_cents"),
        )
    )
    return row.select(
        "promo_cents",
        "total_cents",
        portable_round("100.0D * promo_cents / total_cents", 4).alias("promo_share_pct"),
    )


Q14_PROMO_REVENUE_SQL = """
WITH agg AS (
  SELECT
    CAST(sum(CASE WHEN p_type = 'PROMO'
             THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
             ELSE 0 END) AS BIGINT) AS promo_cents,
    CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS total_cents
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
)
SELECT promo_cents, total_cents,
       round(100.0 * promo_cents / total_cents * 10000.0) / 10000.0 AS promo_share_pct
FROM agg
"""


def q15_top_revenue_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (EXTRA): the supplier(s) with MAX revenue over a
    quarter, ties kept — global-max-as-scalar against a grouped
    aggregate.  Revenue in exact integer cents makes the tie comparison
    exact on both engines; the max is a 1-row broadcast cross-join, so
    the fact table shuffles once (the supplier agg) and never sorts."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    rev = (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1996-04-01"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(cents).alias("rev_cents"))
    )
    top = rev.agg(F.max("rev_cents").alias("max_cents"))
    return (
        rev.crossJoin(F.broadcast(top))
        .filter(F.col("rev_cents") == F.col("max_cents"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_suppkey").alias("s_suppkey"),
            "s_name",
            (F.col("rev_cents") / F.lit(100.0)).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_TOP_SUPPLIER_SQL = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM lineitem
  WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
    AND CAST(l_shipdate AS DATE) < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT l_suppkey AS s_suppkey, s_name, rev_cents / 100.0 AS total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE rev_cents = (SELECT max(rev_cents) FROM rev)
ORDER BY s_suppkey
"""


def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (EXTRA): two-level aggregation — orders per
    customer INCLUDING zero-order customers (left join with an extra
    join-side predicate, count of the nullable key), then the
    distribution of those counts.  The second groupBy's input is
    |customers|-sized; the histogram is tiny."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_CUSTOMER_DISTRIBUTION_SQL = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
SELECT c_count, count(*) AS custdist
FROM per_cust
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def important_parts_by_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (EXTRA): groups exceeding a GLOBAL-aggregate
    threshold — shipped value per part kept when above 1.2× the average
    part value (the classic fraction-of-total is SF-dependent; the
    avg-relative form keeps the scalar-subquery shape portable across
    scale).  Exact cents make the boundary comparison engine-stable;
    the global row broadcasts, the fact shuffles once."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    pv = li.groupBy("l_partkey").agg(F.sum(cents).alias("v_cents"))
    glob = pv.agg(
        F.sum("v_cents").alias("t_cents"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        pv.crossJoin(F.broadcast(glob))
        .filter(F.col("v_cents") > F.lit(1.2) * F.col("t_cents") / F.col("n_parts"))
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey)
        .select(
            F.col("l_partkey").alias("p_partkey"),
            "p_name",
            (F.col("v_cents") / F.lit(100.0)).alias("part_value"),
        )
        .orderBy(F.col("part_value").desc(), F.col("p_partkey"))
    )


IMPORTANT_PARTS_SQL = """
WITH pv AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT) AS v_cents
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT CAST(sum(v_cents) AS BIGINT) AS t_cents,
               CAST(count(*) AS BIGINT) AS n_parts FROM pv)
SELECT l_partkey AS p_partkey, p_name, v_cents / 100.0 AS part_value
FROM pv CROSS JOIN tot
JOIN part ON l_partkey = p_partkey
WHERE v_cents > 1.2 * t_cents / n_parts
ORDER BY part_value DESC, p_partkey
"""


def dominant_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20-flavored shape (EXTRA): (part, supplier) pairs whose
    shipped quantity exceeds 3× the part's FAIR per-supplier share —
    dominant-supplier detection.  The per-part totals re-aggregate the
    (part, supplier) partials (|pairs|-sized, not |lineitem|), so the
    fact scans once and shuffles once; quantities are integral doubles,
    exact under summation on both engines."""
    from mini_project_204721_data_engineering_spark.functions.parity import portable_round

    li = load_table(spark, sf_dir, "lineitem")
    ps = li.groupBy("l_partkey", "l_suppkey").agg(F.sum("l_quantity").alias("q"))
    pt = ps.groupBy("l_partkey").agg(
        F.sum("q").alias("tq"), F.count(F.lit(1)).alias("ns")
    )
    return (
        ps.join(pt, "l_partkey")
        .filter(F.col("q") > F.lit(3.0) * F.col("tq") / F.col("ns"))
        .select(
            F.col("l_partkey").alias("p_partkey"),
            F.col("l_suppkey").alias("s_suppkey"),
            F.col("q").alias("supplier_qty"),
            portable_round("q / tq", 4).alias("qty_share"),
        )
        .orderBy("p_partkey", "s_suppkey")
    )


DOMINANT_PART_SUPPLIERS_SQL = """
WITH ps AS (
  SELECT l_partkey, l_suppkey, sum(l_quantity) AS q
  FROM lineitem GROUP BY l_partkey, l_suppkey
),
pt AS (SELECT l_partkey, sum(q) AS tq, count(*) AS ns FROM ps GROUP BY l_partkey)
SELECT ps.l_partkey AS p_partkey, l_suppkey AS s_suppkey, q AS supplier_qty,
       round(q / tq * 10000.0) / 10000.0 AS qty_share
FROM ps JOIN pt ON ps.l_partkey = pt.l_partkey
WHERE q > 3.0 * tq / ns
ORDER BY 1, 2
"""


def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters via Misra-Gries candidates + exact recount
    (operators/heavy.py): users with ≥ 0.05% of all events.  The plain
    form shuffles one group per distinct user; this path shuffles only
    the summary-sized candidate set — identical output (the oracle IS
    the plain GROUP BY / HAVING)."""
    from mini_project_204721_data_engineering_spark.operators.heavy import heavy_hitters

    ev = load_table(spark, sf_dir, "events").select("user_id")
    return heavy_hitters(ev, ["user_id"], 0.0005).orderBy("user_id")


HEAVY_HITTER_USERS_SQL = """
SELECT user_id, CAST(count(*) AS BIGINT) AS n
FROM events
WHERE user_id IS NOT NULL
GROUP BY user_id
HAVING count(*) >= 0.0005 * (SELECT count(*) FROM events WHERE user_id IS NOT NULL)
ORDER BY user_id
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape (EXTRA): the canonical single-scan filtered
    aggregate — a date-range + discount-band + quantity predicate all
    pushed to one column-pruned scan, no join, no shuffle beyond the
    1-row partial-sum combine.  The plan IS the point: at 100 TB this
    must read 4 columns of the slice and nothing else.  Cents for
    order-independent money."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("long")
    return (
        li.filter(
            (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(cents).alias("forecast_revenue_cents"))
    )


Q6_FORECAST_REVENUE_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
       AS forecast_revenue_cents
FROM lineitem
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (EXTRA): a nation's share of LARGE-part revenue
    sold into ASIA, by order year — the two-role nation join (customer
    nation bounds the market, supplier nation is the shareholder), all
    dims broadcast, conditional share from ONE fact pass.  Exact cents
    so the share division starts bit-identical on both engines."""
    from mini_project_204721_data_engineering_spark.functions.parity import portable_round

    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "LARGE")
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    n1 = nat.select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_regionkey").alias("c_rkey")
    )
    n2 = nat.select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("c_nkey"))
        .join(F.broadcast(reg), F.col("c_rkey") == reg.r_regionkey)
        .join(F.broadcast(n2), sup.s_nationkey == F.col("s_nkey"))
        .groupBy(F.year(F.col("o_orderdate").cast("date")).alias("o_year"))
        .agg(
            F.sum(
                F.when(F.col("supp_nation") == "NATION_7", cents).otherwise(F.lit(0))
            ).alias("nation_cents"),
            F.sum(cents).alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            portable_round("nation_cents / total_cents", 6).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


Q8_MARKET_SHARE_SQL = """
WITH agg AS (
  SELECT year(CAST(o_orderdate AS DATE)) AS o_year,
         CAST(sum(CASE WHEN n2.n_name = 'NATION_7'
                  THEN CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS nation_cents,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
           AS total_cents
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE p_type = 'LARGE' AND r_name = 'ASIA'
  GROUP BY 1
)
SELECT o_year, nation_cents, total_cents,
       round(CAST(nation_cents AS DOUBLE) / total_cents * 1000000.0) / 1000000.0
         AS mkt_share
FROM agg
ORDER BY 1
"""


def q9_nation_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 flavor (EXTRA; the synthetic schema has no partsupp, so
    profit = revenue without supply cost): revenue by supplier nation
    and order year over parts whose name carries a color token — the
    LIKE filter prunes the part dim BEFORE it broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_name").contains("red"))
    sup = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nat = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year(F.col("o_orderdate").cast("date")).alias("o_year"),
        )
        .agg(F.sum(cents).alias("revenue_cents"))
        .orderBy("nation", F.desc("o_year"))
    )


Q9_NATION_REVENUE_SQL = """
SELECT n_name AS nation,
       year(CAST(o_orderdate AS DATE)) AS o_year,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
         AS revenue_cents
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY 1, 2 DESC
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape (EXTRA): revenue from orders of a brand's parts
    whose quantity sits under 20% of that part's average — the
    correlated subquery re-expressed as a per-part aggregate joined
    back (one extra fact pass bounded to the brand's rows, both sides
    semi-pruned by the broadcast brand filter).  Quantities are
    integral doubles, so avg() is exact on both engines and the 0.2×
    comparison is deterministic."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    brand_li = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    per_part = brand_li.groupBy(F.col("l_partkey").alias("avg_pkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("long")
    return (
        brand_li.join(
            F.broadcast(per_part), F.col("l_partkey") == F.col("avg_pkey")
        )
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.sum(cents).alias("small_order_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


Q17_SMALL_QUANTITY_SQL = """
SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS small_order_cents,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#23'
  AND l_quantity < (
    SELECT 0.2 * avg(l2.l_quantity)
    FROM lineitem l2
    WHERE l2.l_partkey = lineitem.l_partkey
  )
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (EXTRA): shipping-class audit — per class,
    conditional counts of high- vs low-priority orders inside a date
    window.  Adapted to the synthetic schema (no l_shipmode /
    receiptdate): the class is ``l_linestatus``, the window is a
    shipdate year.  The shape is the point: fact filtered by a pushed
    date range, ONE join to orders, conditional aggregation (CASE
    inside count) in a single pass — at 100 TB one keyed shuffle on
    the orderkey and a classes-sized result."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate").cast("date") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate").cast("date") < F.lit("1997-01-01"))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.when(high, F.lit(1))).alias("high_line_count"),
            F.count(F.when(~high, F.lit(1))).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_PRIORITY_SHIPPING_SQL = """
SELECT l_linestatus,
       count(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
         AS high_line_count,
       count(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
         AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) < DATE '1997-01-01'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars (beyond the reference's flat aggregates): per day per
    event type, the OPENING and CLOSING observed value — ``min_by``/
    ``max_by`` with a composite (ts, event_id) ordering key, the
    map-side-combinable arg-extreme shape; event_id pins exact-ts ties
    so both engines select the same row — plus the high/low extremes.
    Pure value SELECTION (no arithmetic on the survivors), so no
    rounding parity layer is needed.

    NULL ordering-key parity: ``min_by``/``max_by`` IGNORE rows whose
    ordering key is NULL, while a plain ``ORDER BY ts ASC`` sorts NULLs
    FIRST — so both sides filter ``ts IS NOT NULL`` explicitly (a no-op
    on the generated events table, whose ts is non-null by
    construction, but it keeps the pair parity-stable if the input ever
    gains nullable timestamps).

    r15 optimization (guide §2): the ordering key used to be
    ``struct(ts, event_id)``, whose non-mutable aggregation buffer forced
    SortAggregate — a full sort of every map partition.  The same
    (ts, event_id) order packed into one decimal
    (operators/dedup.py::packed_order_key) keeps min_by/max_by in
    HashAggregate; the selected rows are identical (micros is strictly
    monotone in µs-precision ts, event_id the same unique tiebreak, and
    NULL ts still yields a NULL key that min_by/max_by ignore)."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("ts").isNotNull())
    anchor = F.lit("1970-01-01 00:00:00").cast(dict(ev.dtypes)["ts"])
    key = packed_order_key(
        F.timestamp_diff("MICROSECOND", anchor, F.col("ts")), F.col("event_id")
    )
    return (
        ev.groupBy(
            F.col("ts").cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.min_by("value", key).alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", key).alias("close_value"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("day", "event_type")
    )


DAILY_OHLC_SQL = """
SELECT CAST(ts AS DATE) AS day,
       event_type,
       first(value ORDER BY ts, event_id)            AS open_value,
       max(value)                                    AS high_value,
       min(value)                                    AS low_value,
       first(value ORDER BY ts DESC, event_id DESC)  AS close_value,
       count(*)                                      AS n
FROM events
WHERE ts IS NOT NULL
GROUP BY 1, 2
ORDER BY 1, 2
"""


def q21_blamed_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (EXTRA): EXISTS + NOT EXISTS against the SAME
    fact under different correlation conditions — the hardest standard
    decorrelation (reference analytics gap; Q1-Q9/Q13-Q19/Q22 shapes
    already exist).  Adapted to the synthetic schema (lineitem has no
    commit/receipt dates): a 'problem line' is a RETURNED line
    (``l_returnflag = 'R'``) on a FINISHED order (``o_orderstatus =
    'F'``); a supplier is blamed for a line when the order involved
    MORE THAN ONE supplier (the EXISTS) and NO OTHER supplier had a
    returned line there (the NOT EXISTS) — sole-culprit semantics.

    Decorrelated Spark-first: ONE per-order aggregate image —
    ``n_supp = countDistinct(suppkey)``, ``n_ret_supp = countDistinct
    (returned suppkey)`` — replaces BOTH correlated subqueries
    (EXISTS ⇔ n_supp > 1, NOT EXISTS ⇔ n_ret_supp = 1, since the
    probe line itself is returned).  The fact is scanned exactly
    TWICE (problem rows + the aggregate), joined once on the order
    key; no cartesian; supplier broadcasts.  At 100 TB both lineitem
    passes shuffle on the same key, and the blamed-rows side is
    already returned-only-sized before any join."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    )
    sup = load_table(spark, sf_dir, "supplier")
    per_order = li.groupBy("l_orderkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
        ).alias("n_ret_supp"),
    )
    bad = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    return (
        bad.join(
            per_order.filter(
                (F.col("n_supp") > 1) & (F.col("n_ret_supp") == 1)
            ),
            "l_orderkey",
        )
        .join(
            orders.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


Q21_BLAMED_SUPPLIERS_SQL = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
WHERE l1.l_returnflag = 'R'
  AND o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


EXTRA_QUERIES = {
    "daily_ohlc": daily_ohlc,
    "user_golden_profile": user_golden_profile,
    "q21_blamed_suppliers": q21_blamed_suppliers,
    "revenue_maintenance": revenue_maintenance,
    "bloom_semi_prune": bloom_semi_prune,
    "value_anomalies_mad": value_anomalies_mad,
    "q18_large_volume_orders": q18_large_volume_orders,
    "supplier_pagerank": supplier_pagerank,
    "theta_user_overlap": theta_user_overlap,
    "attribution_linear_daily": attribution_linear_daily,
    "q16_supplier_part_counts": q16_supplier_part_counts,
    "user_skew_profile": user_skew_profile,
    "q22_global_sales_opportunity": q22_global_sales_opportunity,
    "value_drift_psi": value_drift_psi,
    "data_expectations": data_expectations,
    "snapshot_diff": snapshot_diff,
    "apply_changes_rebuild": apply_changes_rebuild,
    "corr_qty_discount": corr_qty_discount,
    "nearby_site_pairs": nearby_site_pairs,
    "error_window_clicks": error_window_clicks,
    "chain_click_view_purchase": chain_click_view_purchase,
    "part_name_linkage": part_name_linkage,
    "part_name_tokensort": part_name_tokensort,
    "events_asof_tolerance": events_asof_tolerance,
    "customers_without_orders": customers_without_orders,
    "customers_with_orders": customers_with_orders,
    "shipping_priority": shipping_priority,
    "error_and_click_users": error_and_click_users,
    "error_only_users": error_only_users,
    "events_pivot_daily": events_pivot_daily,
    "events_day_spine": events_day_spine,
    "red_parts_by_brand": red_parts_by_brand,
    "q5_local_supplier_volume": q5_local_supplier_volume,
    "q7_nation_volume_shipping": q7_nation_volume_shipping,
    "q19_discounted_revenue": q19_discounted_revenue,
    "revenue_cube": revenue_cube,
    "cheapest_supplier_per_part": cheapest_supplier_per_part,
    "orders_above_cust_avg": orders_above_cust_avg,
    "events_unpivot_roundtrip": events_unpivot_roundtrip,
    "q14_promo_revenue_share": q14_promo_revenue_share,
    "q15_top_revenue_suppliers": q15_top_revenue_suppliers,
    "q13_customer_order_distribution": q13_customer_order_distribution,
    "important_parts_by_value": important_parts_by_value,
    "dominant_part_suppliers": dominant_part_suppliers,
    "heavy_hitter_users": heavy_hitter_users,
    "q6_forecast_revenue": q6_forecast_revenue,
    "q8_market_share": q8_market_share,
    "q9_nation_revenue": q9_nation_revenue,
    "q17_small_quantity_revenue": q17_small_quantity_revenue,
    "q12_priority_shipping": q12_priority_shipping,
}

EXTRA_ORACLES = {
    "daily_ohlc": DAILY_OHLC_SQL,
    "user_golden_profile": USER_GOLDEN_PROFILE_SQL,
    "q21_blamed_suppliers": Q21_BLAMED_SUPPLIERS_SQL,
    "revenue_maintenance": REVENUE_MAINTENANCE_SQL,
    "bloom_semi_prune": BLOOM_SEMI_PRUNE_SQL,
    "value_anomalies_mad": VALUE_ANOMALIES_MAD_SQL,
    "q18_large_volume_orders": Q18_LARGE_VOLUME_SQL,
    "supplier_pagerank": SUPPLIER_PAGERANK_SQL,
    "theta_user_overlap": THETA_USER_OVERLAP_SQL,
    "attribution_linear_daily": ATTRIBUTION_LINEAR_SQL,
    "q16_supplier_part_counts": Q16_SUPPLIER_PART_SQL,
    "user_skew_profile": USER_SKEW_PROFILE_SQL,
    "q22_global_sales_opportunity": Q22_SALES_OPPORTUNITY_SQL,
    "value_drift_psi": VALUE_DRIFT_PSI_SQL,
    "data_expectations": DATA_EXPECTATIONS_SQL,
    "snapshot_diff": SNAPSHOT_DIFF_SQL,
    "apply_changes_rebuild": APPLY_CHANGES_REBUILD_SQL,
    "corr_qty_discount": CORR_QTY_DISCOUNT_SQL,
    "nearby_site_pairs": NEARBY_SITE_PAIRS_SQL,
    "error_window_clicks": ERROR_WINDOW_CLICKS_SQL,
    "chain_click_view_purchase": CHAIN_CVP_SQL,
    "part_name_linkage": PART_NAME_LINKAGE_SQL,
    "part_name_tokensort": PART_NAME_TOKENSORT_SQL,
    "events_asof_tolerance": EVENTS_ASOF_TOLERANCE_SQL,
    "revenue_cube": REVENUE_CUBE_SQL,
    "q5_local_supplier_volume": Q5_LOCAL_SUPPLIER_VOLUME_SQL,
    "q7_nation_volume_shipping": Q7_NATION_VOLUME_SHIPPING_SQL,
    "q19_discounted_revenue": Q19_DISCOUNTED_REVENUE_SQL,
    "customers_without_orders": CUSTOMERS_WITHOUT_ORDERS_SQL,
    "customers_with_orders": CUSTOMERS_WITH_ORDERS_SQL,
    "shipping_priority": SHIPPING_PRIORITY_SQL,
    "error_and_click_users": ERROR_AND_CLICK_USERS_SQL,
    "error_only_users": ERROR_ONLY_USERS_SQL,
    "events_pivot_daily": EVENTS_PIVOT_DAILY_SQL,
    "events_day_spine": EVENTS_DAY_SPINE_SQL,
    "red_parts_by_brand": RED_PARTS_BY_BRAND_SQL,
    "cheapest_supplier_per_part": CHEAPEST_SUPPLIER_PER_PART_SQL,
    "orders_above_cust_avg": ORDERS_ABOVE_CUST_AVG_SQL,
    "events_unpivot_roundtrip": EVENTS_UNPIVOT_ROUNDTRIP_SQL,
    "q14_promo_revenue_share": Q14_PROMO_REVENUE_SQL,
    "q15_top_revenue_suppliers": Q15_TOP_SUPPLIER_SQL,
    "q13_customer_order_distribution": Q13_CUSTOMER_DISTRIBUTION_SQL,
    "important_parts_by_value": IMPORTANT_PARTS_SQL,
    "dominant_part_suppliers": DOMINANT_PART_SUPPLIERS_SQL,
    "heavy_hitter_users": HEAVY_HITTER_USERS_SQL,
    "q6_forecast_revenue": Q6_FORECAST_REVENUE_SQL,
    "q8_market_share": Q8_MARKET_SHARE_SQL,
    "q9_nation_revenue": Q9_NATION_REVENUE_SQL,
    "q17_small_quantity_revenue": Q17_SMALL_QUANTITY_SQL,
    "q12_priority_shipping": Q12_PRIORITY_SHIPPING_SQL,
}
