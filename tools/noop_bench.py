"""Noop-sink isolation bench (guide §1.4): times each headline query's
COMPUTATION (every column of every row materialized, result discarded)
without the driver-transfer cost that bench.py's toPandas() includes.

Not the driver artifact — bench.py keeps its methodology; this tool exists
to attribute time between the engine and the collect path, and to compare
before/after for plan changes.

Usage: python tools/noop_bench.py [passes] [query ...]
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # the fixed 16-query suite

PASSES = int(sys.argv[1]) if len(sys.argv) > 1 else 5
ONLY = sys.argv[2:]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    import __spark_entry__ as entrymod
    from mini_project_204721_data_engineering_spark import queries as _q
    from mini_project_204721_data_engineering_spark.session import get_spark

    spark = get_spark("noop-bench")
    qs = {**entrymod.queries(), **_q.all_extra_queries()}
    names = ONLY or HEADLINE

    # same warm-up protocol as bench.py, at the warm SF, via the noop sink
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.01")
    if os.path.isdir(warm_dir):
        for name in names:
            fn = qs.get(name)
            if fn is not None:
                try:
                    fn(spark, warm_dir).write.format("noop").mode("overwrite").save()
                except Exception:
                    pass

    best: dict[str, float] = {}
    for i in range(PASSES):
        for name in names:
            fn = qs.get(name)
            if fn is None:
                continue
            spark.sparkContext.setJobDescription(f"noop:{name}")
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            dt = round(time.time() - t0, 3)
            spark.sparkContext.setJobDescription(None)
            best[name] = min(best.get(name, dt), dt)
            print(f"# pass{i} {name}: {dt:.3f}s", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": "noop_sink_headline",
                "value": round(sum(best.values()), 3),
                "unit": "sec",
                "queries": best,
                "passes": PASSES,
                "load_avg": [round(v, 2) for v in os.getloadavg()],
                "sf_dir": sf_dir,
            }
        )
    )


if __name__ == "__main__":
    main()
