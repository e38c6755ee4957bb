"""Serving-query family (reference ``backend/app/main.py:239-330`` et al.).

The reference's list endpoints are filter → left-join dims → whitelist sort
→ offset/limit pages over the star schema; here they run over the synthetic
TPC-H-ish tables (orders/lineitem = facts, customer/nation/region = dims).

Plan shape we require (checked in tests/test_plans.py):
- filters + column pruning pushed into the parquet scan
- nation/region joined via broadcast-hash (always broadcast-sized)
- orderBy+offset+limit compiled to TakeOrderedAndProject (top-k, no global
  sort) — this is what makes "page 3 of a 100 TB table" feasible.
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.catalog import load_table, served_sql
from mini_project_204721_data_engineering_spark.operators.query_builder import ListQuery

__all__ = ["QUERIES", "ORACLES"]


def list_orders_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5+F6+J5+O1+O3: the `/list_rain` shape — dynamic predicates, dim
    enrichment left-joins, whitelist sort desc, page 3 @ 50 rows."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")

    joined = (
        orders.join(customer, orders.o_custkey == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            orders.o_orderkey,
            orders.o_orderdate.cast("date").alias("order_date"),
            orders.o_totalprice,
            orders.o_orderstatus,
            customer.c_name.alias("customer_name"),
            nation.n_name.alias("nation_name"),
        )
    )
    q = ListQuery(
        base=joined,
        sortable={
            "o_totalprice": F.col("o_totalprice"),
            "order_date": F.col("order_date"),
            "customer_name": F.col("customer_name"),
            "nation_name": F.col("nation_name"),
        },
        default_order="order_date",
        tiebreaker=F.col("o_orderkey"),
    )
    q.eq(F.col("o_orderstatus"), "F")
    q.date_range(F.col("order_date"), "1995-06-01", "1997-05-31")
    return q.page_df(page=3, page_size=50, order_by="o_totalprice", order_type="desc")


LIST_ORDERS_PAGE_SQL = """
SELECT o_orderkey,
       CAST(o_orderdate AS DATE) AS order_date,
       o_totalprice,
       o_orderstatus,
       c_name AS customer_name,
       n_name AS nation_name
FROM orders
LEFT JOIN customer ON o_custkey = c_custkey
LEFT JOIN nation ON c_nationkey = n_nationkey
WHERE o_orderstatus = 'F'
  AND CAST(o_orderdate AS DATE) >= DATE '1995-06-01'
  AND CAST(o_orderdate AS DATE) <= DATE '1997-05-31'
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 50 OFFSET 100
"""


def list_lineitem_page(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same family over the big fact: lineitem ⋈ part, shipdate range,
    sort by extendedprice, page 2 @ 100."""
    lineitem = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    joined = (
        lineitem.join(part, lineitem.l_partkey == part.p_partkey, "left")
        .select(
            lineitem.l_orderkey,
            lineitem.l_linenumber,
            lineitem.l_quantity,
            lineitem.l_extendedprice,
            lineitem.l_returnflag,
            lineitem.l_shipdate.cast("date").alias("ship_date"),
            part.p_name.alias("part_name"),
            part.p_brand.alias("brand"),
        )
    )
    q = ListQuery(
        base=joined,
        sortable={
            "l_extendedprice": F.col("l_extendedprice"),
            "ship_date": F.col("ship_date"),
            "part_name": F.col("part_name"),
        },
        default_order="ship_date",
        tiebreaker=F.col("l_orderkey") * 10 + F.col("l_linenumber"),
    )
    q.eq(F.col("l_returnflag"), "R")
    q.date_range(F.col("ship_date"), "1996-01-01", "1998-12-31")
    return q.page_df(page=2, page_size=100, order_by="l_extendedprice", order_type="desc")


LIST_LINEITEM_PAGE_SQL = """
SELECT l_orderkey,
       l_linenumber,
       l_quantity,
       l_extendedprice,
       l_returnflag,
       CAST(l_shipdate AS DATE) AS ship_date,
       p_name AS part_name,
       p_brand AS brand
FROM lineitem
LEFT JOIN part ON l_partkey = p_partkey
WHERE l_returnflag = 'R'
  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
  AND CAST(l_shipdate AS DATE) <= DATE '1998-12-31'
ORDER BY l_extendedprice DESC, l_orderkey * 10 + l_linenumber ASC
LIMIT 100 OFFSET 100
"""


def list_customers_by_dim_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1's signature feature: sorting on a JOINED dim column
    (reference sorts rain rows by province_name, ``main.py:276-284``)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    joined = (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
        .select(
            customer.c_custkey,
            customer.c_name.alias("customer_name"),
            customer.c_acctbal,
            nation.n_name.alias("nation_name"),
            region.r_name.alias("region_name"),
        )
    )
    q = ListQuery(
        base=joined,
        sortable={"nation_name": F.col("nation_name"), "c_acctbal": F.col("c_acctbal")},
        default_order="nation_name",
        tiebreaker=F.col("c_custkey"),
    )
    q.eq(F.col("region_name"), "ASIA")
    return q.page_df(page=1, page_size=200, order_by="nation_name", order_type="asc")


LIST_CUSTOMERS_BY_DIM_SORT_SQL = """
SELECT c_custkey,
       c_name AS customer_name,
       c_acctbal,
       n_name AS nation_name,
       r_name AS region_name
FROM customer
LEFT JOIN nation ON c_nationkey = n_nationkey
LEFT JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
ORDER BY n_name ASC, c_custkey ASC
LIMIT 200 OFFSET 0
"""


_ORDER_SCALAR_STATS = """
SELECT count(CASE WHEN o_orderstatus = 'F'
                   AND CAST(o_orderdate AS DATE) >= :start_date
                   AND CAST(o_orderdate AS DATE) <= :end_date THEN 1 END) AS total,
       min(CAST(o_orderdate AS DATE)) AS min_date,
       max(CAST(o_orderdate AS DATE)) AS max_date
FROM {orders}
"""


def order_scalar_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6+A7 in one scan: the pagination-total count under dynamic
    predicates (reference ``main.py:266-269``) AND the global min/max
    date endpoint (``main.py:668-676``) — a conditional count plus
    unconditional min/max needs no second pass over the table.  One
    ``spark.sql`` statement over the catalog's version-keyed view of
    ``orders``, the date bounds as named parameters; its result is reused
    until ``orders`` changes (``catalog.served_sql``)."""
    return served_sql(
        spark,
        sf_dir,
        _ORDER_SCALAR_STATS,
        ("orders",),
        args={"start_date": datetime.date(1995, 6, 1), "end_date": datetime.date(1997, 5, 31)},
    )


ORDER_SCALAR_STATS_SQL = """
SELECT count(*) FILTER (WHERE o_orderstatus = 'F'
                          AND CAST(o_orderdate AS DATE) >= DATE '1995-06-01'
                          AND CAST(o_orderdate AS DATE) <= DATE '1997-05-31') AS total,
       CAST(min(o_orderdate) AS DATE) AS min_date,
       CAST(max(o_orderdate) AS DATE) AS max_date
FROM orders
"""


def count_orders_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: pagination-total count under dynamic predicates
    (reference ``main.py:266-269``)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.filter(
            (F.col("o_orderstatus") == "F")
            & (F.col("o_orderdate").cast("date") >= F.lit("1995-06-01"))
            & (F.col("o_orderdate").cast("date") <= F.lit("1997-05-31"))
        )
        .agg(F.count(F.lit(1)).alias("total"))
    )


COUNT_ORDERS_FILTERED_SQL = """
SELECT count(*) AS total
FROM orders
WHERE o_orderstatus = 'F'
  AND CAST(o_orderdate AS DATE) >= DATE '1995-06-01'
  AND CAST(o_orderdate AS DATE) <= DATE '1997-05-31'
"""


def date_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: min/max date endpoint (reference ``main.py:668-676``)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("min_date"),
        F.max(F.col("o_orderdate").cast("date")).alias("max_date"),
    )


DATE_LIMIT_SQL = """
SELECT CAST(min(o_orderdate) AS DATE) AS min_date,
       CAST(max(o_orderdate) AS DATE) AS max_date
FROM orders
"""


# Driver-facing set (the correctness driver evaluates at most 50 queries
# total, so each family ships its distinct operators here and the
# redundant-variant demos below in EXTRA_*, which tools/verify_local.py
# still checks every run).
QUERIES = {
    "list_orders_page": list_orders_page,
    "list_customers_by_dim_sort": list_customers_by_dim_sort,
    "order_scalar_stats": order_scalar_stats,
}

ORACLES = {
    "list_orders_page": LIST_ORDERS_PAGE_SQL,
    "list_customers_by_dim_sort": LIST_CUSTOMERS_BY_DIM_SORT_SQL,
    "order_scalar_stats": ORDER_SCALAR_STATS_SQL,
}

def ingest_with_lineage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table ATOMIC ingest demo (the reference's two-table
    transaction shape, `backend/app/main.py:136-150`: upload-lineage
    row + fact rows land together or not at all).  Two batches of
    orders go through :func:`~..sources.txn_catalog.multi_table_txn` —
    each transaction appends the batch to ``facts`` AND its lineage row
    to ``uploads`` in ONE catalog commit — then the result re-derives
    the lineage figures from the fact table as the catalog sees it.
    Equality with the oracle (which computes both sides straight from
    orders) proves no transaction tore: every fact row is accounted to
    exactly one lineage row with matching counts and totals."""
    import shutil
    import tempfile

    from mini_project_204721_data_engineering_spark.sources.txn_catalog import (
        catalog_init,
        catalog_read,
        multi_table_txn,
    )

    orders = load_table(spark, sf_dir, "orders")
    root = tempfile.mkdtemp(prefix="lineage_demo_")
    try:
        cat = f"{root}/cat"
        catalog_init(
            spark, cat, {"facts": f"{root}/facts", "uploads": f"{root}/uploads"}
        )
        for upload_id in (1, 2):
            batch = orders.filter(
                F.col("o_orderkey") % 2 == (upload_id % 2)
            ).select(
                F.lit(upload_id).alias("upload_id"),
                "o_orderkey",
                "o_totalprice",
            )
            n, cents = batch.agg(
                F.count(F.lit(1)),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
            ).collect()[0]
            lineage = spark.createDataFrame(
                [(upload_id, int(n), int(cents))],
                "upload_id int, n_rows bigint, total_cents bigint",
            )
            multi_table_txn(
                spark,
                cat,
                {
                    "facts": {"op": "append", "df": batch},
                    "uploads": {"op": "append", "df": lineage},
                },
            )
        refacts = (
            catalog_read(spark, cat, "facts")
            .groupBy("upload_id")
            .agg(
                F.count(F.lit(1)).alias("fact_rows"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("fact_cents"),
            )
        )
        out = (
            catalog_read(spark, cat, "uploads")
            .join(refacts, "upload_id")
            .select(
                "upload_id",
                "n_rows",
                "fact_rows",
                (F.col("total_cents") / 100.0).alias("total_price"),
                (F.col("fact_cents") / 100.0).alias("fact_price"),
            )
            .orderBy("upload_id")
        )
        rows = out.collect()  # materialize before the tmpdir vanishes
        return spark.createDataFrame(rows, out.schema)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def snapshot_sql_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL face of the lakehouse (r15): land ``supplier`` into a
    snapshot table as two range-split commits (``s_suppkey`` min/max
    recorded in the manifest), then answer a plain SQL statement over
    it through the batch DataSource — :func:`~..sources.snapshot_batch.
    snapshot_sql` registers a fresh pushdown relation for the one
    statement, so the ``WHERE s_suppkey <= n/2`` plans only the first
    commit's file from manifest stats (no footer opened for the other
    half).  Oracle equality proves the SQL path reads exactly the
    table."""
    import shutil
    import tempfile

    from mini_project_204721_data_engineering_spark.sources.snapshot_batch import (
        snapshot_sql,
    )
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_append,
    )

    sup = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey", "s_acctbal"
    )
    n = sup.count()
    half = n // 2
    root = tempfile.mkdtemp(prefix="snapsql_")
    try:
        t = f"{root}/supplier_snap"
        snapshot_append(
            sup.filter(F.col("s_suppkey") <= half).coalesce(1),
            t,
            stats_cols=["s_suppkey"],
        )
        snapshot_append(
            sup.filter(F.col("s_suppkey") > half).coalesce(1), t
        )
        return snapshot_sql(
            spark,
            f"""
            SELECT s_nationkey,
                   count(*) AS suppliers,
                   CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT))
                        AS BIGINT) AS acctbal_cents
            FROM s
            WHERE s_suppkey <= {half}
            GROUP BY s_nationkey
            ORDER BY s_nationkey
            """,
            {"s": t},
        )
    finally:
        shutil.rmtree(root, ignore_errors=True)


SNAPSHOT_SQL_SCAN_SQL = """
SELECT s_nationkey,
       count(*) AS suppliers,
       CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS acctbal_cents
FROM supplier
WHERE s_suppkey <= (SELECT count(*) // 2 FROM supplier)
GROUP BY s_nationkey
ORDER BY s_nationkey
"""


INGEST_WITH_LINEAGE_SQL = """
WITH batches AS (
  SELECT CAST(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 2 END AS INTEGER)
           AS upload_id,
         o_totalprice
  FROM orders
),
agg AS (
  SELECT upload_id,
         count(*) AS n_rows,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM batches
  GROUP BY upload_id
)
SELECT upload_id,
       n_rows,
       n_rows          AS fact_rows,
       cents / 100.0   AS total_price,
       cents / 100.0   AS fact_price
FROM agg
ORDER BY upload_id
"""


EXTRA_QUERIES = {
    "list_lineitem_page": list_lineitem_page,
    "count_orders_filtered": count_orders_filtered,
    "date_limit": date_limit,
    "ingest_with_lineage": ingest_with_lineage,
    "snapshot_sql_scan": snapshot_sql_scan,
}

EXTRA_ORACLES = {
    "list_lineitem_page": LIST_LINEITEM_PAGE_SQL,
    "count_orders_filtered": COUNT_ORDERS_FILTERED_SQL,
    "date_limit": DATE_LIMIT_SQL,
    "ingest_with_lineage": INGEST_WITH_LINEAGE_SQL,
    "snapshot_sql_scan": SNAPSHOT_SQL_SCAN_SQL,
}
