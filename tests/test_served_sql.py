"""The three served named queries build as one ``spark.sql`` statement
over the catalog's version-keyed views, and reuse their results per table
version (``catalog.served_sql``).

- A warm build starts no Spark job, registers no view and makes a small,
  fixed number of py4j round trips.
- A rewritten table is served through a new view, also while readers
  build concurrently; a new session registers its own views.
- A repeat in the same table versions returns the kept, persisted result.
  A rewrite yields a new answer; superseded views are dropped and their
  results unpersisted; the kept results are bounded per session.
"""

from __future__ import annotations

import os
import re
import shutil
import sys
import threading
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import duckdb
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from conftest import SF_SMALL
from test_catalog import _jobs_started
from mini_project_204721_data_engineering_spark import catalog
from mini_project_204721_data_engineering_spark.catalog import served_sql, table_view
from mini_project_204721_data_engineering_spark.functions.parity import portable_round
from mini_project_204721_data_engineering_spark.queries.analytics import avg_level_by_brand
from mini_project_204721_data_engineering_spark.queries.dashboard import (
    DASHBOARD_PROBABILITY_SQL,
    dashboard_probability,
)
from mini_project_204721_data_engineering_spark.queries.serving import order_scalar_stats

SERVED = {
    "order_scalar_stats": order_scalar_stats,
    "avg_level_by_brand": avg_level_by_brand,
    "dashboard_probability": dashboard_probability,
}

#: py4j round trips of one warm build through the DataFrame-API bodies
#: these statements replaced (sf0.001, fewest over 8 builds; the count
#: varies with py4j's garbage-collection commands, up to 691 and 2,280)
DATAFRAME_API_ROUND_TRIPS = {
    "order_scalar_stats": 240,
    "avg_level_by_brand": 251,
    "dashboard_probability": 1205,
}

_VIEW = re.compile(r"graft_([a-z]+)_[0-9a-f]{16}")
DASHBOARD_TABLES = ("customer", "nation", "orders", "events")


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


def _temp_views(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables() if t.tableType == "TEMPORARY"}


def _views_in(df) -> dict[str, str]:
    """table name -> view name, for every catalog view the plan reads."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return {m.group(1): m.group(0) for m in _VIEW.finditer(plan)}


@pytest.mark.parametrize("name", sorted(SERVED))
def test_warm_build_is_one_statement(spark, name):
    fn = SERVED[name]
    fn(spark, SF_SMALL)  # the first build may register the views
    views = _temp_views(spark)
    assert _jobs_started(spark, f"served-build-{name}", lambda: fn(spark, SF_SMALL)) == 0
    trips = _round_trips(spark, lambda: fn(spark, SF_SMALL))
    assert trips <= DATAFRAME_API_ROUND_TRIPS[name] // 4, trips
    assert _temp_views(spark) == views


def _copy_dashboard_tables(dst) -> str:
    for t in DASHBOARD_TABLES:
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"), dst / f"{t}.parquet")
    return str(dst)


def test_rewritten_table_is_served_through_a_new_view(spark, tmp_path):
    sf = _copy_dashboard_tables(tmp_path)
    first = dashboard_probability(spark, sf)
    before = {r["district_id"]: r["district_name"] for r in first.collect()}

    customer = pq.read_table(f"{sf}/customer.parquet")
    renamed = customer.slice(0, 40)
    renamed = renamed.set_column(
        renamed.schema.get_field_index("c_name"),
        "c_name",
        pc.binary_join_element_wise("new ", renamed["c_name"], ""),
    )
    pq.write_table(renamed, f"{sf}/customer.parquet")
    second = dashboard_probability(spark, sf)
    after = {r["district_id"]: r["district_name"] for r in second.collect()}

    assert len(before) == customer.num_rows and len(after) == 40
    assert after == {k: "new " + before[k] for k in after}
    v1, v2 = _views_in(first), _views_in(second)
    assert set(v1) == set(v2) == set(DASHBOARD_TABLES)
    assert v2["customer"] != v1["customer"]
    assert all(v2[t] == v1[t] for t in DASHBOARD_TABLES if t != "customer")


def test_concurrent_builds_during_rewrites_see_one_version_each(spark, tmp_path):
    """Two readers build and run the dashboard while a writer adds
    customer part files (each landing by an atomic rename): no build
    errors, and every result is exactly one version of the table."""
    sf = _copy_dashboard_tables(tmp_path)
    customer = pq.read_table(f"{SF_SMALL}/customer.parquet")
    os.remove(f"{sf}/customer.parquet")
    table_dir = tmp_path / "customer.parquet"
    table_dir.mkdir()
    parts = [customer.slice(i * 30, 30) for i in range(5)]
    pq.write_table(parts[0], str(table_dir / "part-0.parquet"))
    versions = []
    for i in range(len(parts)):
        versions.append(frozenset(pa.concat_tables(parts[: i + 1])["c_custkey"].to_pylist()))

    done = threading.Event()
    errors: list[BaseException] = []
    seen: list[tuple[frozenset, int, str]] = []

    def reader():
        try:
            while True:
                last = done.is_set()
                df = dashboard_probability(spark, sf)
                rows = df.select("district_id").collect()
                ids = frozenset(r[0] for r in rows)
                seen.append((ids, len(rows), _views_in(df)["customer"]))
                if last:
                    return
        except BaseException as e:  # surfaced below
            errors.append(e)

    def writer():
        try:
            for i in range(1, len(parts)):
                # let at least one build finish between two rewrites
                n, deadline = len(seen), time.monotonic() + 300
                while len(seen) == n and not errors and time.monotonic() < deadline:
                    time.sleep(0.01)
                tmp = str(table_dir / f".part-{i}.tmp")
                pq.write_table(parts[i], tmp)
                os.rename(tmp, str(table_dir / f"part-{i}.parquet"))
        finally:
            done.set()

    threads = [threading.Thread(target=reader) for _ in range(2)] + [threading.Thread(target=writer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert seen
    for ids, n, _ in seen:
        assert ids in versions and n == len(ids)
    assert len({ids for ids, _, _ in seen}) >= 3
    # the last build of each reader started after the final rename
    assert sum(ids == versions[-1] for ids, _, _ in seen) >= 2
    by_view: dict[str, set] = {}
    for ids, _, view in seen:
        by_view.setdefault(view, set()).add(ids)
    assert all(len(v) == 1 for v in by_view.values())


def test_racing_first_calls_register_one_view(spark, tmp_path, monkeypatch):
    """More threads than cores ask for the same new table version at
    once: one name, one registration, every later call a hit."""
    sf = _copy_dashboard_tables(tmp_path)
    before = _temp_views(spark)
    frame = type(spark.range(1))
    real, registered = frame.createOrReplaceTempView, []

    def spy(self, name):
        registered.append(name)
        return real(self, name)

    monkeypatch.setattr(frame, "createOrReplaceTempView", spy)
    names: list[str] = []
    errors: list[BaseException] = []
    start = threading.Barrier(8)

    def caller():
        try:
            start.wait()
            for _ in range(50):
                names.append(table_view(spark, sf, "nation"))
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
    assert len(names) == 400 and len(set(names)) == 1
    assert registered == names[:1]
    assert _temp_views(spark) - before == set(names)


def test_new_session_registers_its_own_views(spark):
    mine = dashboard_probability(spark, SF_SMALL)
    other = spark.newSession()
    df = dashboard_probability(other, SF_SMALL)
    assert set(_views_in(df).values()) <= _temp_views(other)
    assert df is not mine and df.sparkSession is other
    assert all(r.sparkSession is other for _, r in catalog._SERVED[other].results.values())
    assert sorted(df.collect()) == sorted(mine.collect())


def test_formula_operand_must_be_a_column_reference_or_sql_text(spark):
    df = spark.createDataFrame([(1.0, 3.0)], "a double, b double")
    got = df.select(portable_round(F.col("a"), 4), portable_round("a / b", 4)).first()
    assert tuple(got) == (1.0, 0.3333)
    with pytest.raises(TypeError, match="not a plain column reference"):
        portable_round(F.col("a") / F.col("b"), 4)


# --------------------------------------------------------------------------
# result reuse
# --------------------------------------------------------------------------

def _released(df) -> bool:
    return not df.is_cached and df.storageLevel == StorageLevel.NONE


def _oracle(sf: str) -> list[tuple]:
    """The dashboard's rows from its DuckDB oracle over the tables at ``sf``."""
    con = duckdb.connect()
    try:
        for t in DASHBOARD_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        return sorted(con.execute(DASHBOARD_PROBABILITY_SQL).fetchall())
    finally:
        con.close()


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_hit_returns_the_kept_result_with_no_job(spark, tmp_path):
    sf = _copy_dashboard_tables(tmp_path)
    first = dashboard_probability(spark, sf)
    want = _rows(first)
    assert first.is_cached
    got = []
    assert _jobs_started(spark, "served-hit", lambda: got.append(dashboard_probability(spark, sf))) == 0
    assert got[0] is first
    assert _round_trips(spark, lambda: dashboard_probability(spark, sf)) <= 5
    assert _rows(got[0]) == want == _oracle(sf)


def test_orders_rewrite_between_identical_dashboards_returns_the_new_answer(spark, tmp_path):
    sf = _copy_dashboard_tables(tmp_path)
    first = dashboard_probability(spark, sf)
    before = _rows(first)
    assert before == _oracle(sf)

    orders = pq.read_table(f"{sf}/orders.parquet")
    pq.write_table(orders.slice(0, orders.num_rows // 3), f"{sf}/orders.parquet")
    second = dashboard_probability(spark, sf)
    after = _rows(second)

    assert second is not first and after != before
    assert after == _oracle(sf)
    # the superseded orders view is gone, and the result that read it
    assert _released(first) and second.is_cached
    assert _views_in(first)["orders"] not in _temp_views(spark)


def test_two_versions_of_one_path_never_share_a_cached_plan(spark, tmp_path):
    """Spark's cache matches a parquet read by path; a result persisted
    outside ``served_sql`` over the old version must not answer the new
    one."""
    sf = _copy_dashboard_tables(tmp_path)
    text = "SELECT count(*) AS n, sum(o_totalprice) AS s FROM {orders}"
    old = spark.sql(text.format(orders=table_view(spark, sf, "orders"))).persist()
    try:
        n_old = old.first()["n"]
        orders = pq.read_table(f"{sf}/orders.parquet")
        pq.write_table(orders.slice(0, 7), f"{sf}/orders.parquet")
        assert served_sql(spark, sf, text, ("orders",)).first()["n"] == 7 != n_old
    finally:
        old.unpersist()


def test_rewrites_keep_one_view_and_release_superseded_results(spark, tmp_path):
    sf = _copy_dashboard_tables(tmp_path)
    customer = pq.read_table(f"{sf}/customer.parquet")
    before = _temp_views(spark)
    results = []
    for i in range(6):
        pq.write_table(customer.slice(0, 40 + i), f"{sf}/customer.parquet")
        results.append(dashboard_probability(spark, sf))
        assert len(results[-1].collect()) == 40 + i
    added = {v for v in _temp_views(spark) - before if v.startswith("graft_customer_")}
    assert len(added) <= 2
    assert _views_in(results[-1])["customer"] in added
    assert all(_released(df) for df in results[:-1])
    assert results[-1].is_cached


def test_more_distinct_args_than_the_cap_evicts_the_oldest(spark):
    text = "SELECT count(*) AS n FROM {orders} WHERE o_custkey < :k"
    cap = catalog._RESULTS_KEPT
    dfs = [served_sql(spark, SF_SMALL, text, ("orders",), {"k": k}) for k in range(cap + 3)]
    kept = catalog._SERVED[spark].results
    assert len(kept) <= cap
    assert all(_released(df) for df in dfs[:3])
    assert all(df.is_cached for df in dfs[3:])
    custkey = pq.read_table(f"{SF_SMALL}/orders.parquet", columns=["o_custkey"])["o_custkey"]
    for k in (0, 1, cap + 2):  # an evicted result still runs, from its lineage
        assert dfs[k].first()["n"] == pc.sum(pc.less(custkey, k)).as_py()
    assert served_sql(spark, SF_SMALL, text, ("orders",), {"k": cap + 2}) is dfs[-1]


def test_threads_on_one_kept_result_get_identical_rows(spark):
    want = _rows(dashboard_probability(spark, SF_SMALL))
    got: list[list[tuple]] = []
    errors: list[BaseException] = []

    def reader():
        try:
            for _ in range(5):
                pdf = dashboard_probability(spark, SF_SMALL).toPandas()
                got.append(sorted(pdf.itertuples(index=False, name=None)))
        except BaseException as e:  # surfaced below
            errors.append(e)

    threads = [threading.Thread(target=reader) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(got) == 20 and all(rows == want for rows in got)
