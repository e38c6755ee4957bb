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

from mini_project_204721_data_engineering_spark.catalog import load_table, served_sql
from mini_project_204721_data_engineering_spark.functions.binning import avg_to_level_sql
from mini_project_204721_data_engineering_spark.operators.aggregates import min_coord_step, weighted_mean
from mini_project_204721_data_engineering_spark.operators.dedup import dedup_keep_first_packed
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
    One ``spark.sql`` statement over the catalog's version-keyed views,
    its result reused until a table changes (``catalog.served_sql``); C5
    is spliced in from its single SQL-text definition."""
    return served_sql(spark, sf_dir, _AVG_LEVEL_BY_BRAND, ("lineitem", "part"))


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
    # keys where min(struct) ranked them first).
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


# Driver-facing set (≤50 across all modules — see queries/__init__.py).
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
