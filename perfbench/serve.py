"""``serve`` workload: dashboard and list readers.

Closed loop: CORES client threads share one SparkSession; each sends its
next request when the previous one returns.  A seeded mix of the
reference endpoint shapes over the sf0.1 star schema:

- ``ListQuery`` list pages (the ``/list_rain``, ``/list_province_district``
  and ``/list_incident_statistics`` twins) with varying page, page size,
  sort key, order, filter values and date range.  Each list shape has a
  catalogue of parameter sets drawn Zipf-skewed, so popular pages repeat;
- ``order_scalar_stats`` (``/get_date_limit``), ``avg_level_by_brand``
  (``/list_risk``) and ``dashboard_probability`` (``/list_data_graph``).

Every result is checked after the timed window: list pages against DuckDB
SQL built from the same parameters (order included), the named queries
against their oracle SQL from ``queries.all_oracles()``.
"""

from __future__ import annotations

import hashlib
import os
import subprocess
import sys
import threading
import time

import numpy as np
import pandas as pd

from perfbench import common as C
from perfbench import datagen, layers
from perfbench.layers import NAMED
from perfbench.trace import SparkWork, Tracer

TABLES = ("region", "nation", "customer", "part", "orders", "lineitem", "events")

#: request mix: kind -> requests per deck of 25; each client deals its
#: requests from a freshly shuffled deck, so every client sends the exact
#: mix and only the order is random
MIX = {
    "list_rain": 4,
    "list_province_district": 5,
    "list_incident_statistics": 5,
    "order_scalar_stats": 3,
    "avg_level_by_brand": 2,
    "dashboard_probability": 6,
}
LIST_KINDS = ("list_rain", "list_province_district", "list_incident_statistics")
#: parameter sets per list shape, and the Zipf exponent over their ranks
CATALOGUE = 48
ZIPF_S = 1.1
#: untimed closed-loop seconds between set-up and the timed window
WARM_S = 3.0


# --------------------------------------------------------------------------
# request parameters
# --------------------------------------------------------------------------

def _day(base: str, offset: int) -> str:
    return str(np.datetime64(base, "D") + int(offset))


def _page(rng) -> tuple[int, int]:
    return int(min(40, rng.geometric(0.35))), int(rng.choice([10, 20, 50, 100]))


def _range(rng, base: str, span: int, width: tuple[int, int]):
    start = _day(base, rng.integers(0, span))
    end = _day(start, rng.integers(*width))
    r = rng.random()
    return (None if r < 0.15 else start), (None if 0.15 <= r < 0.3 else end)


def list_params(kind: str, rng) -> dict:
    page, size = _page(rng)
    order = str(rng.choice(["asc", "desc"]))
    if kind == "list_rain":
        start, end = _range(rng, "1995-01-01", 2200, (30, 900))
        return dict(
            status=str(rng.choice(["F", "O", "P", "all"])),
            start=start, end=end,
            order_by=str(rng.choice(["o_totalprice", "order_date", "customer_name", "nation_name"])),
            order=order, page=page, size=size,
        )
    if kind == "list_province_district":
        return dict(
            region=str(rng.choice(datagen.REGIONS + ["all"])),
            segment=str(rng.choice(datagen.SEGMENTS + ["all"])),
            order_by=str(rng.choice(["nation_name", "c_acctbal", "customer_name"])),
            order=order, page=page, size=size,
        )
    start, end = _range(rng, "2024-01-01", 30, (0, 10))
    return dict(
        event_type=str(rng.choice(datagen.EVENT_TYPES + ["all"])),
        start=start, end=end,
        order_by=str(rng.choice(["value", "day", "user_name"])),
        order=order, page=page, size=size,
    )


def catalogue(seed: int) -> dict[str, list[dict]]:
    rng = np.random.default_rng([seed, 1])
    return {k: [list_params(k, rng) for _ in range(CATALOGUE)] for k in LIST_KINDS}


def key_of(kind: str, params: dict | None) -> tuple:
    return (kind,) + tuple(sorted((params or {}).items()))


# --------------------------------------------------------------------------
# Spark side: list pages through catalog.load_table + operators.ListQuery
# --------------------------------------------------------------------------

def _load(ctx, name: str):
    from mini_project_204721_data_engineering_spark.catalog import load_table

    with ctx.tracer.span("catalog.load_table"):
        return load_table(ctx.spark, ctx.sf_dir, name)


def _list_base(ctx, kind: str):
    from pyspark.sql import functions as F

    if kind == "list_rain":
        orders, customer, nation = (_load(ctx, t) for t in ("orders", "customer", "nation"))
        base = (
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
        sortable = ["o_totalprice", "order_date", "customer_name", "nation_name"]
        return base, sortable, "order_date", "o_orderkey"
    if kind == "list_province_district":
        customer, nation, region = (_load(ctx, t) for t in ("customer", "nation", "region"))
        base = (
            customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
            .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey, "left")
            .select(
                customer.c_custkey,
                customer.c_name.alias("customer_name"),
                customer.c_acctbal,
                customer.c_mktsegment,
                nation.n_name.alias("nation_name"),
                region.r_name.alias("region_name"),
            )
        )
        return base, ["nation_name", "c_acctbal", "customer_name"], "nation_name", "c_custkey"
    events, customer, nation = (_load(ctx, t) for t in ("events", "customer", "nation"))
    base = (
        events.join(customer, events.user_id == customer.c_custkey, "left")
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey, "left")
        .select(
            events.event_id,
            events.ts.cast("date").alias("day"),
            events.event_type,
            events.value,
            customer.c_name.alias("user_name"),
            nation.n_name.alias("province_name"),
        )
    )
    return base, ["value", "day", "user_name"], "day", "event_id"


def list_page(ctx, kind: str, p: dict) -> pd.DataFrame:
    from pyspark.sql import functions as F

    from mini_project_204721_data_engineering_spark.operators.query_builder import ListQuery

    base, sortable, default, tie = _list_base(ctx, kind)
    with ctx.tracer.span("operators.page_df"):
        q = ListQuery(
            base=base,
            sortable={c: F.col(c) for c in sortable},
            default_order=default,
            tiebreaker=F.col(tie),
        )
        if kind == "list_rain":
            q.eq(F.col("o_orderstatus"), p["status"])
            q.date_range(F.col("order_date"), p["start"], p["end"])
        elif kind == "list_province_district":
            q.eq(F.col("region_name"), p["region"])
            q.eq(F.col("c_mktsegment"), p["segment"])
        else:
            q.eq(F.col("event_type"), p["event_type"])
            q.date_range(F.col("day"), p["start"], p["end"])
        df = q.page_df(p["page"], p["size"], p["order_by"], p["order"])
    with ctx.tracer.span("serve.exec"):
        return df.toPandas()


def named_query(ctx, name: str) -> pd.DataFrame:
    fn = ctx.queries[name]
    with ctx.tracer.span(f"queries.{name}.build"):
        df = fn(ctx.spark, ctx.sf_dir)
    with ctx.tracer.span("serve.exec"):
        return df.toPandas()


def execute(ctx, kind: str, params: dict | None) -> pd.DataFrame:
    return named_query(ctx, kind) if params is None else list_page(ctx, kind, params)


# --------------------------------------------------------------------------
# DuckDB side
# --------------------------------------------------------------------------

_LIST_SQL = {
    "list_rain": (
        """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, o_totalprice,
                  o_orderstatus, c_name AS customer_name, n_name AS nation_name
           FROM orders LEFT JOIN customer ON o_custkey = c_custkey
                       LEFT JOIN nation ON c_nationkey = n_nationkey""",
        {"o_totalprice": "o_totalprice", "order_date": "CAST(o_orderdate AS DATE)",
         "customer_name": "c_name", "nation_name": "n_name"},
        "o_orderkey",
    ),
    "list_province_district": (
        """SELECT c_custkey, c_name AS customer_name, c_acctbal, c_mktsegment,
                  n_name AS nation_name, r_name AS region_name
           FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
                         LEFT JOIN region ON n_regionkey = r_regionkey""",
        {"nation_name": "n_name", "c_acctbal": "c_acctbal", "customer_name": "c_name"},
        "c_custkey",
    ),
    "list_incident_statistics": (
        """SELECT event_id, CAST(ts AS DATE) AS day, event_type, value,
                  c_name AS user_name, n_name AS province_name
           FROM events LEFT JOIN customer ON user_id = c_custkey
                       LEFT JOIN nation ON c_nationkey = n_nationkey""",
        {"value": "value", "day": "CAST(ts AS DATE)", "user_name": "c_name"},
        "event_id",
    ),
}


def list_sql(kind: str, p: dict) -> str:
    select, sort_exprs, tie = _LIST_SQL[kind]
    where = []

    def eq(expr: str, v: str) -> None:
        if v != "all":
            where.append(f"{expr} = '{v}'")

    def between(expr: str) -> None:
        if p["start"] is not None:
            where.append(f"{expr} >= DATE '{p['start']}'")
        if p["end"] is not None:
            where.append(f"{expr} <= DATE '{p['end']}'")

    if kind == "list_rain":
        eq("o_orderstatus", p["status"])
        between("CAST(o_orderdate AS DATE)")
    elif kind == "list_province_district":
        eq("r_name", p["region"])
        eq("c_mktsegment", p["segment"])
    else:
        eq("event_type", p["event_type"])
        between("CAST(ts AS DATE)")
    # Spark orders NULLs first ascending and last descending
    direction = "DESC NULLS LAST" if p["order"] == "desc" else "ASC NULLS FIRST"
    return (
        select
        + (" WHERE " + " AND ".join(where) if where else "")
        + f" ORDER BY {sort_exprs[p['order_by']]} {direction}, {tie} ASC"
        + f" LIMIT {p['size']} OFFSET {(p['page'] - 1) * p['size']}"
    )


def duck(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(f"SET threads TO {C.CORES}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{os.path.join(sf_dir, t + '.parquet')}')"
        )
    return con


def digest(pdf: pd.DataFrame, ordered: bool) -> bytes:
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    return hashlib.blake2b((h if ordered else np.sort(h)).tobytes(), digest_size=16).digest()


# --------------------------------------------------------------------------
# the workload
# --------------------------------------------------------------------------

class Ctx:
    def __init__(self, sf_dir: str, tracer: Tracer) -> None:
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.spark = None
        self.queries = {}


def setup(session: C.Session, ctx: Ctx) -> None:
    """Session start, catalog footer reads and a first request."""
    from mini_project_204721_data_engineering_spark import queries as Q
    from mini_project_204721_data_engineering_spark.catalog import load_table

    with ctx.tracer.span("session.start"):
        ctx.spark = session.start()
    all_q = {**Q.all_queries(), **Q.all_extra_queries()}
    ctx.queries = {n: all_q[n] for n in NAMED}
    for t in TABLES:
        with ctx.tracer.span("catalog.load_table"):
            load_table(ctx.spark, ctx.sf_dir, t).schema
    execute(ctx, "order_scalar_stats", None)


def warm(ctx: Ctx, cat: dict, seed: int) -> None:
    """Untimed: compile every request shape once (CORES at a time), then
    run the closed loop for WARM_S so the JIT has seen the mix."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(C.CORES) as pool:
        list(pool.map(lambda k: execute(ctx, k, cat[k][0] if k in cat else None), MIX))
    closed_loop(ctx, C.Recorder(Tracer()), None, cat, seed, WARM_S)


class Results:
    """First result per distinct request plus a digest of every repeat."""

    def __init__(self) -> None:
        self.first: dict[tuple, tuple[pd.DataFrame, bytes]] = {}
        #: (key, op, result kept only when it differs from the first)
        self.seen: list[tuple[tuple, C.Op, pd.DataFrame | None]] = []
        self._lock = threading.Lock()

    def add(self, key: tuple, op: C.Op, pdf: pd.DataFrame, ordered: bool) -> None:
        d = digest(pdf, ordered)
        with self._lock:
            first = self.first.setdefault(key, (pdf, d))
            self.seen.append((key, op, None if first[1] == d else pdf))


def client(ctx, rec: C.Recorder, results: Results | None, cat, seed: int, idx: int,
           deadline: float) -> None:
    rng = np.random.default_rng([seed, 2, idx])
    deck = [k for k, n in MIX.items() for _ in range(n)]
    ranks = 1.0 / np.arange(1, CATALOGUE + 1) ** ZIPF_S
    ranks /= ranks.sum()
    n = 0
    while time.perf_counter() < deadline:
        if n % len(deck) == 0:
            rng.shuffle(deck)
        kind = deck[n % len(deck)]
        params = cat[kind][rng.choice(CATALOGUE, p=ranks)] if kind in cat else None
        cls = "lookup" if params is not None else ("rollup" if kind == "dashboard_probability" else "named")
        op, pdf = rec.run(kind, cls, lambda: execute(ctx, kind, params))
        op.info["key"] = key_of(kind, params)
        if results is not None and op.ok:
            results.add(op.info["key"], op, pdf, ordered=params is not None)
        n += 1


def closed_loop(ctx, rec, results, cat, seed: int, seconds: float) -> float:
    deadline = time.perf_counter() + seconds
    t0 = time.perf_counter()
    threads = [
        threading.Thread(
            target=client, args=(ctx, rec, results, cat, seed, i, deadline)
        )
        for i in range(C.CORES)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return time.perf_counter() - t0


def check(ctx, results: Results) -> set[int]:
    """Ids of the operations whose result was wrong."""
    from mini_project_204721_data_engineering_spark import queries as Q

    oracles = {**Q.all_oracles(), **Q.all_extra_oracles()}
    con = duck(ctx.sf_dir)
    bad_keys, bad_ops = set(), set()
    try:
        for key, (pdf, _) in results.first.items():
            kind, params = key[0], dict(key[1:])
            ordered = kind in LIST_KINDS
            try:
                res = con.execute(list_sql(kind, params) if ordered else oracles[kind])
                cols = [d[0] for d in res.description]
                ok = sorted(cols) == sorted(pdf.columns) and C.frame_canon(pdf, ordered) == C.canon_rows(
                    res.fetchall(), cols, ordered
                )
            except Exception as e:  # a check that cannot run fails its requests
                C.log(f"serve check error: {type(e).__name__}: {e}")
                ok = False
            if not ok:
                bad_keys.add(key)
                C.log(f"serve check failed: {kind} {params}")
    finally:
        con.close()
    for key, op, differing in results.seen:
        if key in bad_keys:
            bad_ops.add(id(op))
        elif differing is not None:
            ordered = key[0] in LIST_KINDS
            if C.frame_canon(differing, ordered) != C.frame_canon(results.first[key][0], ordered):
                bad_ops.add(id(op))
    return bad_ops


def run(args, work: str) -> dict:
    sf_dir = os.path.join(work, "sf0.1")
    t = time.perf_counter()
    gen = subprocess.run(
        [sys.executable, "-m", "perfbench.datagen", sf_dir, str(args.seed)],
        cwd=C.ROOT, check=True, stdout=subprocess.PIPE, text=True,
    )
    C.log(f"serve inputs: {gen.stdout.strip()} in {time.perf_counter() - t:.1f}s")
    cat = catalogue(args.seed)

    tracer = Tracer(enabled=bool(args.trace))
    ctx = Ctx(sf_dir, tracer)
    session = C.Session("perfbench-serve")
    try:
        setups = []
        for _ in range(1 + C.SETUP_CYCLES):
            t = time.perf_counter()
            setup(session, ctx)
            setups.append(time.perf_counter() - t)
        C.log("serve set-ups: " + ", ".join(f"{s:.2f}s" for s in setups))
        first_start = tracer.named("session.start")[0].ms / 1000 if args.trace else 0.0
        tracer.spans.clear()
        t = time.perf_counter()
        warm(ctx, cat, args.seed)
        C.log(f"serve warm-up {time.perf_counter() - t:.1f}s")
        work_ = SparkWork(ctx.spark) if args.trace else None
        rec = C.Recorder(tracer, work_)
        results = Results()
        session.reset_peaks()
        cpu0 = session.cpu_s()
        window = closed_loop(ctx, rec, results, cat, args.seed, args.seconds)
        cpu = [b - a for a, b in zip(cpu0, session.cpu_s())]
        mem = session.peak_mem_mb()
        t = time.perf_counter()
        bad = check(ctx, results)
        C.log(
            f"serve window {window:.1f}s (cpu: python {cpu[0]:.1f}s, jvm {cpu[1]:.1f}s), "
            f"checks {time.perf_counter() - t:.1f}s"
        )
    finally:
        session.shutdown()

    ops = rec.ops
    failed = sum(1 for op in ops if not op.ok or id(op) in bad)
    by = lambda cls: [op.ms for op in ops if op.cls == cls]  # noqa: E731
    all_ms = [op.ms for op in ops]
    report = {
        "serve_rps": (len(ops) / window, "1/s"),
        "serve_p50_ms": (C.median(all_ms), "ms"),
        "serve_p95_ms": (C.pct(all_ms, 95), "ms"),
        "dashboard_p50_ms": (C.median(by("rollup")), "ms"),
        "list_p50_ms": (C.median(by("lookup")), "ms"),
        "failed_share": (failed / max(1, len(ops)), "ratio"),
        "requests": (len(ops), "count"),
        "dashboards": (len(by("rollup")), "count"),
        "distinct_requests": (len(results.first), "count"),
        "python_peak_rss_mb": (mem[0], "MB"),
        "jvm_heap_peak_mb": (mem[1], "MB"),
    }
    C.report("serve", report)
    metrics = {
        "setup_s": (C.median(setups[1:]), "s"),
        "throughput_per_s": report["serve_rps"],
        "op_p50_ms": report["serve_p50_ms"],
        "lookup_p50_ms": report["list_p50_ms"],
        "rollup_p50_ms": report["dashboard_p50_ms"],
    }
    if args.trace:
        os.makedirs(args.trace_dir, exist_ok=True)
        stem = os.path.join(args.trace_dir, f"serve-seed{args.seed}")
        tracer.write(stem + ".spans.jsonl")
        metrics = layer_metrics(tracer, ops, first_start, mem, stem + ".summary.json")
    return C.result(failed == 0, len(ops), failed, metrics)


def layer_metrics(tracer: Tracer, ops: list[C.Op], first_start: float, mem, summary: str) -> dict:
    traced = [op for op in ops if op.traced]
    m = layers.zeroed()
    m["session.start_s"] = first_start
    m["mem.python_peak_rss_mb"], m["mem.jvm_heap_peak_mb"] = mem
    loads = tracer.named("catalog.load_table")
    m["catalog.load_table_ms"] = C.mean([s.ms for s in loads])
    m["catalog.load_table_calls"] = len(loads) / max(1, len(traced))
    m["operators.page_df_ms"] = C.mean([s.ms for s in tracer.named("operators.page_df")])
    m["serve.exec_ms"] = C.mean([s.ms for s in tracer.named("serve.exec")])
    for name in NAMED:
        m[f"queries.{name}.build_ms"] = C.mean([s.ms for s in tracer.named(f"queries.{name}.build")])
        m[f"queries.{name}.exec_ms"] = C.mean([s.ms for s in tracer.named("serve.exec", kind=name)])
    return layers.finish(m, tracer, ops, summary)
