"""Hypothesis property tests for the scalar surface (SURVEY §5.3).

Driver-side closures mirror the Column builders exactly; the mirrors are
validated against the engine on a fixed seed corpus, then hypothesis
explores the input space cheaply (no Spark job per example).
"""

from __future__ import annotations

import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.functions.binning import class_to_num, estimate_probability


def _class_to_num_py(x) -> int | None:
    words = {
        "ต่ำ": 1, "ต่ำมาก": 1, "low": 1, "very low": 1,
        "ปานกลาง": 2, "กลาง": 2, "medium": 2,
        "สูง": 3, "สูงมาก": 3, "high": 3, "very high": 3,
    }
    s = str(x).strip().lower()
    try:
        val = float(s)
        if 0 <= val <= 1:
            return 1 if val < 1 / 3 else 2 if val < 2 / 3 else 3
        # Spark bround == Python banker's rounding
        return max(1, min(3, int(round(val))))
    except ValueError:
        return words.get(s)


def _estimate_probability_py(rain, risk, cnt) -> float:
    rain, risk, cnt = rain or 0.0, risk or 0, cnt or 0
    base = rain / 2.0 + risk * 10.0
    if cnt > 0:
        return min(100.0, max(80.0, base + cnt * 5.0))
    return min(100.0, base)


def test_mirrors_match_engine_on_seed_corpus(spark):
    vals = ["ต่ำ", "สูงมาก", "LOW", "0", "0.33", "0.34", "0.66", "0.67", "1",
            "1.5", "2.5", "3.5", "-1", "junk", "  medium  ", "0.999", "1.001"]
    got = [
        r[0]
        for r in spark.createDataFrame([Row(x=v) for v in vals])
        .select(class_to_num(F.col("x")))
        .collect()
    ]
    assert got == [_class_to_num_py(v) for v in vals]

    cases = [(0.0, 0, 0), (40.0, 3, 0), (1000.0, 3, 0), (0.0, 1, 1), (100.0, 3, 5), (None, None, None)]
    df = spark.createDataFrame(
        [Row(rain=r, risk=k, cnt=c) for r, k, c in cases],
        "rain double, risk int, cnt int",
    )
    got_p = [
        r[0]
        for r in df.select(
            estimate_probability(F.col("rain"), F.col("risk"), F.col("cnt"))
        ).collect()
    ]
    assert got_p == [_estimate_probability_py(*c) for c in cases]


@given(st.floats(min_value=-10, max_value=10, allow_nan=False))
@settings(max_examples=200, deadline=None)
def test_class_to_num_total_on_numerics(v):
    out = _class_to_num_py(repr(v))
    assert out in (1, 2, 3)


@given(st.text(max_size=20))
@settings(max_examples=200, deadline=None)
def test_class_to_num_never_out_of_range(s):
    out = _class_to_num_py(s)
    assert out is None or out in (1, 2, 3)


@given(
    st.floats(min_value=0, max_value=10000, allow_nan=False),
    st.integers(min_value=0, max_value=3),
    st.integers(min_value=0, max_value=50),
)
@settings(max_examples=300, deadline=None)
def test_probability_invariants(rain, risk, cnt):
    p = _estimate_probability_py(rain, risk, cnt)
    assert 0.0 <= p <= 100.0
    if cnt > 0:
        assert p >= 80.0
    # monotone in incident count
    assert _estimate_probability_py(rain, risk, cnt + 1) >= p


@settings(deadline=None, max_examples=8)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 20)), min_size=1, max_size=10
    ),
    right=st.lists(
        st.tuples(
            st.integers(0, 2),
            st.integers(0, 20),
            st.floats(min_value=-100, max_value=100, allow_nan=False),
        ),
        max_size=10,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """asof_join (union + window form) must agree with pandas merge_asof
    (direction='backward', inclusive) on arbitrary small inputs — the
    reference implementation for as-of semantics."""
    import pandas as pd

    from mini_project_204721_data_engineering_spark.operators.joins import asof_join

    rd = {}
    for k, t, v in right:
        rd[(k, t)] = v  # unique (key, time) — the operator's contract
    right_rows = [(k, t, v) for (k, t), v in sorted(rd.items())]

    ldf = spark.createDataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], "lid long, k long, t long"
    )
    rdf = spark.createDataFrame(right_rows, "k long, rt long, v double")
    got = {
        r["lid"]: (r["rt"], r["v"])
        for r in asof_join(
            ldf, rdf, on=["k"], left_time="t", right_time="rt", payload=["rt", "v"]
        ).collect()
    }

    lp = pd.DataFrame(
        [(i, k, t) for i, (k, t) in enumerate(left)], columns=["lid", "k", "t"]
    ).sort_values("t", kind="stable")
    if right_rows:
        rp = pd.DataFrame(right_rows, columns=["k", "rt", "v"]).sort_values(
            "rt", kind="stable"
        )
        exp = pd.merge_asof(
            lp, rp, left_on="t", right_on="rt", by="k",
            direction="backward", allow_exact_matches=True,
        )
    else:
        exp = lp.assign(rt=float("nan"), v=float("nan"))
    assert len(got) == len(left)
    for _, row in exp.iterrows():
        want_rt = None if pd.isna(row["rt"]) else int(row["rt"])
        want_v = None if pd.isna(row["v"]) else float(row["v"])
        assert got[int(row["lid"])] == (want_rt, want_v)


# --- round-2 surfaces: binary round-trips + cross-engine rounding --------

@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.lists(
            st.tuples(
                st.floats(min_value=-180, max_value=180, allow_nan=False, width=32),
                st.floats(min_value=-90, max_value=90, allow_nan=False, width=32),
            ),
            min_size=3,
            max_size=8,
        ).map(lambda pts: pts + pts[:1]),  # close the ring
        min_size=1,
        max_size=5,
    )
)
def test_shapefile_roundtrip_property(tmp_path_factory, rings):
    """write_shp → read_shp preserves every polygon ring bit-for-bit."""
    from mini_project_204721_data_engineering_spark.sources.shapefile import read_shp, write_shp

    p = str(tmp_path_factory.mktemp("shp") / "t.shp")
    write_shp([[r] for r in rings], p)
    recs = read_shp(p)
    assert [rec["parts"][0] for rec in recs] == rings


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.floats(min_value=-0.5, max_value=4.5, allow_nan=False),
            st.floats(min_value=-0.5, max_value=4.5, allow_nan=False),
        ),
        min_size=1,
        max_size=64,
    )
)
def test_donut_containment_property(points):
    """VERDICT r3 item #3's property test: for a donut (square outer ring
    with a square hole), even-odd containment over ALL rings must equal
    'inside outer AND NOT inside hole' — points in the hole are OUT."""
    import numpy as np

    from mini_project_204721_data_engineering_spark.sources.geometry import (
        parse_wkt_rings,
        point_in_ring,
        point_in_rings,
    )

    donut = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    rings = parse_wkt_rings(donut)
    xs = np.array([p[0] for p in points])
    ys = np.array([p[1] for p in points])
    got = point_in_rings(xs, ys, rings)
    expect = point_in_ring(xs, ys, rings[0]) & ~point_in_ring(xs, ys, rings[1])
    assert got.tolist() == expect.tolist()


def test_portable_round_spark_duckdb_halfway_corpus(spark):
    """The decisive fixed corpus: exact 4-dp halfway doubles (the values
    that broke dashboard_probability at sf0.1) plus ULP-adjacent
    neighbors — Spark portable_round must equal DuckDB's mirrored
    expression on every one."""
    import duckdb

    from mini_project_204721_data_engineering_spark.functions.parity import portable_round

    vals = [33.88325, 44.86335, 2.00005, -33.88325, 0.00005, 99.99995,
            33.883249999999997, 33.88325000000001, 0.0, 100.0, -0.00015]
    got = [
        r[0]
        for r in spark.createDataFrame([Row(x=float(v)) for v in vals])
        .select(portable_round(F.col("x"), 4))
        .collect()
    ]
    con = duckdb.connect()
    want = [
        con.execute("SELECT round(? * 10000.0) / 10000.0", [float(v)]).fetchone()[0]
        for v in vals
    ]
    assert got == want
