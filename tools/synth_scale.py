"""Scale a driver-generated sf directory by an integer factor, for
superlinearity probes (BASELINE.md's sf1 reading): each fact table is
replicated ``factor`` times with key columns shifted per replica so
join fan-outs and group cardinalities scale realistically (referential
integrity preserved: every shifted foreign key points at the matching
shifted dimension replica).  Dimension tables with fixed cardinality
(region, nation) copy unchanged.

Usage:  python tools/synth_scale.py /root/testdata/sf0.1 /tmp/sf1 10

This synthesizes BENCH INPUT ONLY (timing at a larger scale); the
driver's own parquet stays the sole correctness input.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

#: per-table key columns to shift, with the table whose max defines the
#: stride (self unless noted)
_SHIFTS = {
    "customer": {"c_custkey": ("customer", "c_custkey")},
    "supplier": {"s_suppkey": ("supplier", "s_suppkey")},
    "part": {"p_partkey": ("part", "p_partkey")},
    "orders": {
        "o_orderkey": ("orders", "o_orderkey"),
        "o_custkey": ("customer", "c_custkey"),
    },
    "lineitem": {
        "l_orderkey": ("orders", "o_orderkey"),
        "l_partkey": ("part", "p_partkey"),
        "l_suppkey": ("supplier", "s_suppkey"),
    },
    "events": {
        "event_id": ("events", "event_id"),
        "user_id": ("events", "user_id"),
    },
    "documents": {"doc_id": ("documents", "doc_id")},
}
_COPY = ["region", "nation"]


def main() -> None:
    src, dst, factor = sys.argv[1], sys.argv[2], int(sys.argv[3])
    from mini_project_204721_data_engineering_spark.session import get_spark

    spark = get_spark("synth-scale")
    strides: dict[tuple[str, str], int] = {}
    for table, cols in _SHIFTS.items():
        for _, (stab, scol) in cols.items():
            if (stab, scol) not in strides:
                strides[(stab, scol)] = (
                    spark.read.parquet(f"{src}/{stab}.parquet")
                    .agg(F.max(scol))
                    .collect()[0][0]
                    + 1
                )
    for table in _COPY:
        spark.read.parquet(f"{src}/{table}.parquet").write.mode("overwrite").parquet(
            f"{dst}/{table}.parquet"
        )
    for table, cols in _SHIFTS.items():
        df = spark.read.parquet(f"{src}/{table}.parquet")
        reps = []
        for i in range(factor):
            r = df
            for col, key in cols.items():
                r = r.withColumn(col, F.col(col) + F.lit(i * strides[key]))
            reps.append(r)
        out = reps[0]
        for r in reps[1:]:
            out = out.unionByName(r)
        out.write.mode("overwrite").parquet(f"{dst}/{table}.parquet")
        print(table, "->", out.count())


if __name__ == "__main__":
    main()
