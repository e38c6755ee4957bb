"""Local stand-in for the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
at the given sf dir, then compares row count, column names, and an
order-insensitive value representation (values stringified, doubles via
repr, rows sorted) — a strictly stricter check than a hash match.  A query
that returns a kept result runs twice, and both the first build (a miss)
and the repeat (a hit) are checked: the served named queries
(``catalog.served_sql``) and the ``ListQuery`` pages (``list_orders_page``,
``list_customers_by_dim_sort``, ``list_lineitem_page``,
``list_events_page``; ``catalog.served_plan``) print "miss hit".

Usage: python tools/verify_local.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def canon(rows, cols):
    """Order-insensitive canonical form: sort columns by name, stringify."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                vals.append(repr(round(v, 9)))
            else:
                vals.append(str(v))
        out.append("\x1f".join(vals))
    out.sort()
    return out


def spark_result(sdf) -> tuple[list[str], list[tuple]]:
    return sdf.columns, [tuple(r) for r in sdf.collect()]


def compare(scols, srows, dcols, drows) -> str | None:
    """Why the Spark result differs from the oracle's, or None."""
    if sorted(scols) != sorted(dcols):
        return f"columns spark={sorted(scols)} duck={sorted(dcols)}"
    if len(srows) != len(drows):
        return f"rowcount spark={len(srows)} duck={len(drows)}"
    sc, dc = canon(srows, scols), canon(drows, dcols)
    if sc != dc:
        diffs = [(a, b) for a, b in zip(sc, dc) if a != b][:3]
        return f"value mismatch; first diffs: {diffs}"
    return None


def main() -> int:
    import __spark_entry__ as entrymod
    from mini_project_204721_data_engineering_spark.session import get_spark

    spark = get_spark("verify-local")
    con = duck_con(SF_DIR)
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    # variant demos outside the driver's 50-query budget are still
    # value-checked here every run
    from mini_project_204721_data_engineering_spark import queries as _q

    qs = {**qs, **_q.all_extra_queries()}
    oracles = {**oracles, **_q.all_extra_oracles()}

    failures = []
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR)
            runs = {"": spark_result(sdf)}
            if sdf.is_cached:
                # a kept result (catalog.served_sql / served_plan): the
                # repeat must be a hit, and both are checked
                again = fn(spark, SF_DIR)
                if again is not sdf:
                    raise AssertionError("the repeat built a new result instead of reusing it")
                runs = {"miss ": runs[""], "hit ": spark_result(again)}
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: spark error: {e}")
            continue
        label = "".join(runs)
        sql = oracles.get(name)
        if sql is None:
            status = "ROWS-ONLY"
            n = len(next(iter(runs.values()))[1])
            print(f"{status:9s} {name}: rows={n} {label}({time.time()-t0:.1f}s)")
            continue
        try:
            res = con.execute(sql)
            dcols = [d[0] for d in res.description]
            drows = res.fetchall()
        except Exception as e:  # noqa: BLE001
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {e}")
            continue
        errors = [f"{run}{err}" for run, (scols, srows) in runs.items()
                  if (err := compare(scols, srows, dcols, drows))]
        if errors:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(errors))
        else:
            print(f"OK        {name}: rows={len(drows)} {label}({time.time()-t0:.1f}s)")

    print(f"\n{len(qs) - len(failures)}/{len(qs)} green" + (f"; FAILURES: {failures}" if failures else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
