"""Decade-scaling probe: time the HEADLINE queries' PLAN EXECUTION
(noop sink — full computation, zero driver materialization) at one or
more sf directories, and print per-query seconds as one JSON line.

Why not bench.py for this: the bench deliberately times to
``toPandas()`` — the serving contract — but several headline demos
return full-fact-sized results (discount_class is one row per
lineitem), whose driver transfer grows LINEARLY with sf by definition.
At the sf10 decade that transfer dominates and would masquerade as a
superlinear *plan*.  The noop sink executes the identical plan
(scan → shuffle → agg/join) and discards rows executor-side, so the
exponent it measures is the engine's, not the wire's.  bench.py totals
remain the round-over-round comparable artifact; this probe exists to
pin exponents.

Usage:
    python tools/sf_exponent.py /tmp/sf1 /tmp/sf10          # 2 passes each
    SPARK_GRAFT_EXP_PASSES=3 python tools/sf_exponent.py ...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # the fixed 16-query suite


def main() -> None:
    dirs = sys.argv[1:]
    if not dirs:
        raise SystemExit("usage: sf_exponent.py <sf_dir> [<sf_dir> ...]")
    passes = int(os.environ.get("SPARK_GRAFT_EXP_PASSES", "2"))
    import __spark_entry__ as entrymod
    from mini_project_204721_data_engineering_spark import queries as _q
    from mini_project_204721_data_engineering_spark.session import get_spark

    spark = get_spark("sf-exponent")
    qs = {**entrymod.queries(), **_q.all_extra_queries()}
    out: dict = {}
    for sf_dir in dirs:
        # one warm pass compiles codegen for this sf's plans
        for name in HEADLINE:
            fn = qs.get(name)
            if fn is not None:
                try:
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception:
                    pass
        best: dict = {}
        for _ in range(passes):
            for name in HEADLINE:
                fn = qs.get(name)
                if fn is None:
                    continue
                t0 = time.time()
                fn(spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                dt = round(time.time() - t0, 3)
                best[name] = min(best.get(name, dt), dt)
                print(f"# {sf_dir} {name}: {dt:.3f}s", file=sys.stderr)
        out[sf_dir] = {
            "queries": best,
            "total": round(sum(best.values()), 3),
        }
    print(
        json.dumps(
            {
                "metric": "headline_noop_exec",
                "dirs": out,
                "load_avg": [round(v, 2) for v in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()
