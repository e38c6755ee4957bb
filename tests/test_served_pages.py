"""List pages are reused per table version (``catalog.served_plan``).

``ListQuery.page_df`` returns the kept, persisted page of an earlier
request with the same plan over the same table versions.  Each test
guards one way a reused page could be wrong:

- a repeat is the kept object, reads the cached rows and equals DuckDB;
- a rewritten table gives a new plan (the read's version digest), so the
  page after a rewrite is the new version's;
- a base that is not a versioned catalog read is never kept;
- two plans that differ only in output names never share a result;
- readers racing a writer each get exactly one version's page.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from conftest import SF_SMALL
from test_catalog import _jobs_started
from mini_project_204721_data_engineering_spark import catalog
from mini_project_204721_data_engineering_spark.catalog import load_table
from mini_project_204721_data_engineering_spark.operators.query_builder import ListQuery
from mini_project_204721_data_engineering_spark.queries.serving import (
    LIST_CUSTOMERS_BY_DIM_SORT_SQL,
    LIST_ORDERS_PAGE_SQL,
    list_customers_by_dim_sort,
    list_orders_page,
)

PAGE_TABLES = ("orders", "customer", "nation", "region")


@pytest.fixture
def sf(tmp_path) -> str:
    """A private copy of the tables, so rewrites touch no shared data."""
    for t in PAGE_TABLES:
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    return str(tmp_path)


def _oracle(sql: str, sources: dict[str, str]) -> list[tuple]:
    """Ordered rows of ``sql`` over table name → parquet path (or glob)."""
    con = duckdb.connect()
    try:
        for t, path in sources.items():
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return [tuple(r) for r in con.execute(sql).fetchall()]
    finally:
        con.close()


def _tables(sf: str) -> dict[str, str]:
    return {t: f"{sf}/{t}.parquet" for t in PAGE_TABLES}


def _rows(df) -> list[tuple]:
    return [tuple(r) for r in df.collect()]


def test_repeated_page_is_the_kept_object(spark, sf):
    first = list_orders_page(spark, sf)
    assert first.is_cached
    want = _rows(first)  # the miss fills the cache
    got = []
    jobs = _jobs_started(
        spark, "served-page-hit", lambda: got.append(_rows(list_orders_page(spark, sf)))
    )
    assert jobs <= 1
    assert list_orders_page(spark, sf) is first
    assert got[0] == want == _oracle(LIST_ORDERS_PAGE_SQL, _tables(sf))
    assert want


def test_orders_rewrite_between_identical_pages_returns_the_new_rows(spark, sf):
    first = list_orders_page(spark, sf)
    before = _rows(first)
    orders = pq.read_table(f"{sf}/orders.parquet")
    pq.write_table(orders.slice(0, orders.num_rows // 2), f"{sf}/orders.parquet")

    second = list_orders_page(spark, sf)
    after = _rows(second)
    assert second is not first
    assert after != before
    assert after == _oracle(LIST_ORDERS_PAGE_SQL, _tables(sf))


def _orders_page(orders, key: str = "o_orderkey"):
    q = ListQuery(
        base=orders.select(
            F.col("o_orderkey").alias(key), "o_totalprice", "o_orderstatus"
        ),
        sortable={"o_totalprice": F.col("o_totalprice")},
        default_order="o_totalprice",
        tiebreaker=F.col(key),
    )
    q.eq(F.col("o_orderstatus"), "O")
    return q.page_df(page=2, page_size=7, order_by="o_totalprice", order_type="desc")


_ORDERS_PAGE_SQL = """
SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders
WHERE o_orderstatus = 'O'
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 7 OFFSET 7
"""


def test_page_over_a_plain_parquet_read_is_never_kept(spark, sf):
    path = f"{sf}/orders.parquet"
    first = _orders_page(spark.read.parquet(path))
    assert not first.is_cached
    assert _rows(first) == _oracle(_ORDERS_PAGE_SQL, {"orders": path})

    orders = pq.read_table(path)
    pq.write_table(orders.slice(orders.num_rows // 2), path)
    second = _orders_page(spark.read.parquet(path))
    assert second is not first and not second.is_cached
    assert _rows(second) == _oracle(_ORDERS_PAGE_SQL, {"orders": path})


def test_pages_that_differ_only_in_output_names_never_share_a_result(spark, sf):
    orders = load_table(spark, sf, "orders")
    a = _orders_page(orders, key="o_orderkey")
    b = _orders_page(load_table(spark, sf, "orders"), key="order_id")
    assert a.is_cached and b.is_cached
    assert b is not a
    assert a.columns == ["o_orderkey", "o_totalprice", "o_orderstatus"]
    assert b.columns == ["order_id", "o_totalprice", "o_orderstatus"]
    want = _oracle(_ORDERS_PAGE_SQL, {"orders": f"{sf}/orders.parquet"})
    assert _rows(a) == _rows(b) == want
    # each name keeps its own result
    assert _orders_page(load_table(spark, sf, "orders"), key="order_id") is b
    assert _orders_page(load_table(spark, sf, "orders")) is a


def test_racing_first_requests_keep_one_page(spark, sf):
    """More threads than cores request the same new page at once: every
    one gets the one kept result, and the store holds it once."""
    results: list = []
    errors: list[BaseException] = []
    start = threading.Barrier(8)

    def caller():
        try:
            start.wait()
            results.append(list_orders_page(spark, sf))
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=caller) for _ in range(8)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    kept = list_orders_page(spark, sf)
    assert len(results) == 8 and all(df is kept for df in results)
    assert sum(df is kept for _, df in catalog._SERVED[spark].results.values()) == 1
    assert kept.is_cached
    assert _rows(kept) == _oracle(LIST_ORDERS_PAGE_SQL, _tables(sf))


def test_readers_racing_a_writer_each_get_one_versions_page(spark, sf, tmp_path):
    """Four readers request one page while a writer adds customer part
    files, each landing by an atomic rename: every page equals exactly
    one version's DuckDB rows."""
    customer = pq.read_table(f"{SF_SMALL}/customer.parquet")
    os.remove(f"{sf}/customer.parquet")
    table_dir = tmp_path / "customer.parquet"
    table_dir.mkdir()
    parts = [customer.slice(i * 30, 30) for i in range(5)]
    pq.write_table(parts[0], str(table_dir / "part-0.parquet"))
    oracles = []
    for i in range(len(parts)):
        prefix = tmp_path / f"version-{i}.parquet"
        pq.write_table(pa.concat_tables(parts[: i + 1]), str(prefix))
        oracles.append(
            _oracle(LIST_CUSTOMERS_BY_DIM_SORT_SQL, {**_tables(sf), "customer": str(prefix)})
        )
    assert len({tuple(o) for o in oracles}) == len(parts)

    done = threading.Event()
    errors: list[BaseException] = []
    seen: list[list[tuple]] = []

    def reader():
        try:
            while True:
                last = done.is_set()
                seen.append(_rows(list_customers_by_dim_sort(spark, sf)))
                if last:
                    return
        except BaseException as e:  # surfaced below
            errors.append(e)

    def writer():
        try:
            for i in range(1, len(parts)):
                # let a reader see the current version before the next
                deadline = time.monotonic() + 60
                while oracles[i - 1] not in seen and not errors and time.monotonic() < deadline:
                    time.sleep(0.01)
                tmp = str(table_dir / f".part-{i}.tmp")
                pq.write_table(parts[i], tmp)
                os.rename(tmp, str(table_dir / f"part-{i}.parquet"))
        finally:
            done.set()

    threads = [threading.Thread(target=reader) for _ in range(4)] + [threading.Thread(target=writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert seen
    assert all(rows in oracles for rows in seen)
    assert len({tuple(rows) for rows in seen}) == len(parts)
    # the last page of each reader started after the final rename
    assert sum(rows == oracles[-1] for rows in seen) >= 4
