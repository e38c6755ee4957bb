"""PageRank (operators/graph.py) — checked against an independent numpy
power iteration with the same damping/dangling conventions."""

from __future__ import annotations

import pytest

from mini_project_204721_data_engineering_spark.operators.graph import pagerank


def _numpy_pagerank(edge_list, damping=0.85, n_iter=15):
    """Dense model: same |V|-mass convention, uniform dangling spread."""
    verts = sorted({v for e in edge_list for v in e})
    idx = {v: i for i, v in enumerate(verts)}
    n = len(verts)
    out = [0] * n
    for s, _ in edge_list:
        out[idx[s]] += 1
    rank = [1.0] * n
    for _ in range(n_iter):
        incoming = [0.0] * n
        for s, d in edge_list:
            incoming[idx[d]] += rank[idx[s]] / out[idx[s]]
        dangling = sum(rank[i] for i in range(n) if out[i] == 0)
        rank = [
            (1 - damping) + damping * (incoming[i] + dangling / n)
            for i in range(n)
        ]
    return {v: rank[idx[v]] for v in verts}


def _run(spark, edge_list, **kw):
    df = spark.createDataFrame(edge_list, "src long, dst long")
    return {r["id"]: r["rank"] for r in pagerank(df, **kw).collect()}


def test_matches_independent_model_with_dangling_and_cycles(spark):
    # hub, cycle, dangling sink, parallel edge — every correction path
    edges = [
        (1, 2), (1, 3), (2, 3), (3, 1),
        (4, 3), (4, 3),  # parallel edges add weight
        (3, 5),  # 5 is dangling (no out-edges)
    ]
    got = _run(spark, edges, n_iter=20)
    exp = _numpy_pagerank(edges, n_iter=20)
    assert set(got) == set(exp)
    for v in exp:
        assert got[v] == pytest.approx(exp[v], rel=1e-9), v
    # mass conservation on the |V| convention
    assert sum(got.values()) == pytest.approx(len(exp), rel=1e-9)


def test_authority_ordering_star_graph(spark):
    # everyone links to 1 → 1 must dominate; symmetric leaves tie
    edges = [(i, 1) for i in range(2, 8)]
    got = _run(spark, edges)
    assert got[1] == max(got.values())
    leaves = [got[i] for i in range(2, 8)]
    assert max(leaves) - min(leaves) < 1e-12


def test_uniform_cycle_is_fixed_point(spark):
    # a pure cycle: uniform ranks are exactly stationary
    edges = [(1, 2), (2, 3), (3, 1)]
    got = _run(spark, edges, n_iter=5)
    for v in (1, 2, 3):
        assert got[v] == pytest.approx(1.0, rel=1e-12)


def test_bad_args_refused(spark):
    df = spark.createDataFrame([(1, 2)], "src long, dst long")
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.0)
    with pytest.raises(ValueError, match="n_iter"):
        pagerank(df, n_iter=0)
    with pytest.raises(ValueError, match="tol"):
        pagerank(df, tol=0.0)
    with pytest.raises(ValueError, match="check_every"):
        pagerank(df, tol=1e-6, check_every=0)


def test_tol_stops_early_and_matches_fixed_iterations(spark):
    """On a fast-converging graph the tol stop must (a) execute fewer
    iterations than the cap and (b) land within tol·d/(1−d) L1 of the
    full fixed-iteration run — the docstring's geometric bound.  The
    200-iteration reference is the independent model, which matches the
    Spark run to rel 1e-9 (test_matches_independent_model_...)."""
    edges = [(1, 2), (2, 3), (3, 1), (4, 3), (3, 5)]
    tol, damping = 1e-6, 0.85
    stats: dict = {}
    df = spark.createDataFrame(edges, "src long, dst long")
    early = {r["id"]: r["rank"] for r in
             pagerank(df, tol=tol, check_every=5, n_iter=200, stats=stats).collect()}
    assert stats["iterations"] < 200
    assert stats["last_delta"] is not None and stats["last_delta"] < tol
    full = _numpy_pagerank(edges, damping=damping, n_iter=200)
    bound = tol * damping / (1 - damping)
    assert sum(abs(early[v] - full[v]) for v in full) <= bound
    # mass still conserved after an early exit
    assert sum(early.values()) == pytest.approx(len(full), rel=1e-9)


def test_uniform_cycle_converges_at_first_check(spark):
    # uniform ranks are exactly stationary → delta is 0 at the first check
    edges = [(1, 2), (2, 3), (3, 1)]
    stats: dict = {}
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["rank"] for r in
           pagerank(df, tol=1e-12, check_every=3, n_iter=50, stats=stats).collect()}
    assert stats["iterations"] == 3
    for v in (1, 2, 3):
        assert got[v] == pytest.approx(1.0, rel=1e-12)


def test_empty_edges_with_tol_returns_empty_not_crash(spark):
    # the zero-vertex early return must still report stats (vacuous
    # convergence), and the delta path must never compare None < tol
    df = spark.createDataFrame([], "src long, dst long")
    stats: dict = {}
    got = pagerank(df, tol=1e-6, check_every=1, n_iter=5, stats=stats).collect()
    assert got == []
    assert stats == {"iterations": 0, "last_delta": 0.0}


def test_no_tol_reports_iterations_but_no_delta(spark):
    stats: dict = {}
    df = spark.createDataFrame([(1, 2), (2, 1)], "src long, dst long")
    pagerank(df, n_iter=4, stats=stats).collect()
    assert stats == {"iterations": 4, "last_delta": None}
