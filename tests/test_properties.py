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


@settings(max_examples=10, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c", "d"]), min_size=2, max_size=30),
        min_size=1,
        max_size=8,
    )
)
def test_repetition_stats_matches_bruteforce(spark, docs_tokens):
    """repetition_stats == a literal Python recount on arbitrary corpora:
    same top-bigram count/fraction (with the cnt-then-lexicographic-max
    tiebreak) and same distinct-token ratio."""
    from collections import Counter

    from mini_project_204721_data_engineering_spark.llm.quality import repetition_stats

    rows = [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs_tokens)]
    got = {r["doc_id"]: r for r in repetition_stats(spark.createDataFrame(rows)).collect()}
    for i, toks in enumerate(docs_tokens):
        bigrams = [f"{a} {b}" for a, b in zip(toks, toks[1:])]
        cnt = Counter(bigrams)
        best = max(cnt.items(), key=lambda kv: (kv[1], kv[0]))
        r = got[i]
        assert r["n_tokens"] == len(toks)
        assert r["top_bigram"] == best[0]
        assert r["top_bigram_n"] == best[1]
        assert r["top_bigram_frac"] == best[1] / len(bigrams)
        assert r["distinct_frac"] == round(len(set(toks)) / len(toks) * 10000) / 10000


@settings(max_examples=10, deadline=None)
@given(
    st.lists(st.integers(min_value=1, max_value=400), min_size=1, max_size=40),
    st.integers(min_value=64, max_value=512),
)
def test_pack_sequences_invariants(spark, token_counts, window):
    """Packing invariants on arbitrary corpora: offsets in [0, window),
    bin ids non-decreasing in doc order, every token accounted for
    (cum of n_tokens == sum), and bin_id == floor(start/window)."""
    from mini_project_204721_data_engineering_spark.llm.quality import pack_sequences

    rows = [
        Row(doc_id=i, text=" ".join(["w"] * n), lang="xx")
        for i, n in enumerate(token_counts)
    ]
    out = sorted(
        pack_sequences(spark.createDataFrame(rows), window).collect(),
        key=lambda r: r["doc_id"],
    )
    start = 0
    for r, n in zip(out, token_counts):
        assert r["n_tokens"] == n
        assert 0 <= r["bin_offset"] < window
        assert r["bin_id"] == start // window
        assert r["bin_offset"] == start % window
        start += n
    assert len(out) == len(token_counts)


@settings(max_examples=8, deadline=None)
@given(
    st.integers(min_value=1, max_value=200),
    st.integers(min_value=2, max_value=40),
    st.integers(min_value=0, max_value=20),
)
def test_chunk_text_reconstruction_invariant(spark, n_tokens, window, overlap):
    """For any doc length and any valid (window, overlap): chunk 0 plus
    the de-overlapped tails of later chunks reconstructs the document
    exactly, every full chunk has `window` tokens, and consecutive
    chunks share exactly `overlap` tokens (when both are long enough)."""
    from hypothesis import assume

    from mini_project_204721_data_engineering_spark.llm.quality import chunk_text

    assume(overlap < window)
    toks = [f"w{i}" for i in range(n_tokens)]
    df = spark.createDataFrame([Row(doc_id=0, text=" ".join(toks))])
    rows = sorted(chunk_text(df, window, overlap).collect(), key=lambda r: r["chunk_idx"])
    chunks = [r["chunk_text"].split(" ") for r in rows]
    assert [r["chunk_idx"] for r in rows] == list(range(len(rows)))
    assert all(len(c) <= window for c in chunks)
    # every non-final chunk is full; every later chunk carries >= 1 NEW
    # token (no pure-suffix chunk already covered by its predecessor)
    assert all(len(c) == window for c in chunks[:-1])
    assert all(len(c) > overlap for c in chunks[1:])
    rebuilt = list(chunks[0])
    for c in chunks[1:]:
        rebuilt += c[overlap:]
    assert rebuilt == toks


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_contaminated_docs_matches_bruteforce(spark, docs_tokens, n):
    """contaminated_docs == a literal Python n-gram set intersection on
    arbitrary corpora (benchmark = every 3rd doc)."""
    from mini_project_204721_data_engineering_spark.llm.quality import contaminated_docs

    rows = [Row(doc_id=i, text=" ".join(toks)) for i, toks in enumerate(docs_tokens)]
    df = spark.createDataFrame(rows)
    bench_ids = {i for i in range(len(docs_tokens)) if i % 3 == 0}
    bench = df.filter(F.col("doc_id").isin(list(bench_ids)))
    corpus = df.filter(~F.col("doc_id").isin(list(bench_ids)))

    def grams(toks):
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    bench_grams = set().union(*(grams(docs_tokens[i]) for i in bench_ids))
    want = {}
    for i, toks in enumerate(docs_tokens):
        if i in bench_ids:
            continue
        shared = grams(toks) & bench_grams
        if shared:
            want[i] = len(shared)
    got = {
        r["doc_id"]: r["n_shared_grams"]
        for r in contaminated_docs(corpus, bench, n=n).collect()
    }
    assert got == want


@settings(max_examples=15, deadline=None)
@given(
    vecs=st.lists(
        st.lists(
            st.integers(min_value=-50, max_value=50).map(lambda v: v / 10.0),
            min_size=4,
            max_size=4,
        ),
        min_size=2,
        max_size=12,
    ),
    ncells=st.integers(min_value=1, max_value=4),
)
def test_assign_cells_bcast_equals_literal_property(spark, vecs, ncells):
    """Broadcast-argmax assignment ≡ the literal-inlined projection on
    arbitrary small vector sets — incl. zero vectors (the -1.0 guard),
    duplicate vectors, and exact centroid ties (nc tiebreak)."""
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells,
        assign_cells_bcast,
        seeded_centroids,
    )

    ncells = min(ncells, len(vecs))
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], "vec_id long, embedding array<double>"
    )
    cents = seeded_centroids(df, ncells=ncells)
    lit = {r["vec_id"]: r["cell"] for r in assign_cells(df, cents).collect()}
    bc = {r["vec_id"]: r["cell"] for r in assign_cells_bcast(df, cents).collect()}
    assert bc == lit


def test_pit_lookup_boundary_facts_match_duckdb_asof_left(spark):
    """VERDICT r7 #8: the payload_nonnull=True tie rule of pit_lookup
    against a DuckDB ASOF LEFT JOIN, with facts planted EXACTLY at
    interval boundaries — including at the valid_from of each key's
    FIRST interval (the one as-of edge not previously pinned), before
    the first interval, mid-interval, and after the last.  Semantics
    under test: a fact at an exact boundary belongs to the interval
    STARTING there (half-open SCD2), and facts before a key's first
    interval get NULL state."""
    import duckdb

    from mini_project_204721_data_engineering_spark.operators.temporal import (
        pit_lookup,
        state_intervals,
    )

    events = [
        # key 1: runs A(10..20) A(15) B(20..40) B(30) A(40..)
        (1, 10, "A"), (1, 15, "A"), (1, 20, "B"), (1, 30, "B"), (1, 40, "A"),
        # key 2: single open run starting at 100
        (2, 100, "X"),
        # key 3: two runs with adjacent boundaries
        (3, 5, "P"), (3, 6, "Q"), (3, 7, "P"),
    ]
    ev = spark.createDataFrame(events, "k long, ts long, st string")
    iv = state_intervals(ev, "k", "ts", "st")
    facts = [
        (1, 9), (1, 10), (1, 15), (1, 19), (1, 20), (1, 39), (1, 40), (1, 99),
        (2, 99), (2, 100), (2, 101),
        (3, 4), (3, 5), (3, 6), (3, 7), (3, 8),
        (4, 10),  # key with no intervals at all
    ]
    fc = spark.createDataFrame(facts, "k long, fts long")
    got = {
        (r["k"], r["fts"]): r["st"]
        for r in pit_lookup(fc, iv, "k", "fts", "st").collect()
    }

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE iv AS SELECT * FROM (VALUES "
        + ", ".join(
            f"({r['k']}, {r['valid_from']}, '{r['st']}')" for r in iv.collect()
        )
        + ") t(k, valid_from, st)"
    )
    con.execute(
        "CREATE TABLE fc AS SELECT * FROM (VALUES "
        + ", ".join(f"({k}, {t})" for k, t in facts)
        + ") t(k, fts)"
    )
    want = {
        (r[0], r[1]): r[2]
        for r in con.execute(
            "SELECT fc.k, fc.fts, iv.st FROM fc "
            "ASOF LEFT JOIN iv ON fc.k = iv.k AND fc.fts >= iv.valid_from"
        ).fetchall()
    }
    assert set(got) == set(want)  # every fact surfaces exactly once
    assert got == want
    # spot-pin the named edge: a fact exactly at the FIRST interval's
    # valid_from joins that interval (not NULL)
    assert got[(1, 10)] == "A" and got[(2, 100)] == "X" and got[(3, 5)] == "P"
    assert got[(1, 9)] is None and got[(2, 99)] is None and got[(4, 10)] is None
    # and exact later boundaries take the NEWER interval (half-open)
    assert got[(1, 20)] == "B" and got[(1, 40)] == "A" and got[(3, 6)] == "Q"


@settings(deadline=None, max_examples=8)
@given(
    lwords=st.lists(
        st.lists(st.sampled_from(["red", "blue", "widget", "gadget", "flange",
                                  "wx", "ab"]), min_size=1, max_size=3),
        min_size=1, max_size=6,
    ),
    rwords=st.lists(
        st.lists(st.sampled_from(["red", "blu", "widget", "gadgot", "flange",
                                  "wy", "ba"]), min_size=1, max_size=3),
        min_size=1, max_size=6,
    ),
)
def test_fuzzy_join_tokensort_property(spark, lwords, rwords):
    """For ARBITRARY word sequences (duplicated words, repeated strings,
    short strings, any transposition structure), the q-gram-blocked
    token-sort join equals the brute-force normalize+score reference
    computed in Python — the completeness theorem has no untested edge."""
    from mini_project_204721_data_engineering_spark.operators.linkage import (
        fuzzy_join_tokensort,
    )

    def key(words):
        return " ".join(sorted(words))

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[-1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    lstr = sorted({" ".join(w) for w in lwords})
    rstr = sorted({" ".join(w) for w in rwords})
    ldf = spark.createDataFrame([(i, s) for i, s in enumerate(lstr)],
                                "lid long, ls string")
    rdf = spark.createDataFrame([(i, s) for i, s in enumerate(rstr)],
                                "rid long, rs string")
    out = fuzzy_join_tokensort(ldf, rdf, "ls", "rs", min_sim=0.8)
    got = {(r["lid"], r["rid"]) for r in out.collect()}
    want = set()
    for i, a in enumerate(lstr):
        for j, b in enumerate(rstr):
            ka, kb = key(a.split()), key(b.split())
            sim = 1.0 - lev(ka, kb) / max(len(ka), len(kb), 1)
            if sim >= 0.8:
                want.add((i, j))
    assert got == want


@settings(deadline=None, max_examples=6)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from(["aa", "bb", "cc", "dd", "ee", "ff"]),
            min_size=0, max_size=8,
        ),
        min_size=2, max_size=10,
    ),
    threshold=st.sampled_from([0.3, 0.6, 0.9]),
)
def test_sparse_cosine_prefix_complete_and_matches_numpy(spark, docs, threshold):
    """Property: on arbitrary corpora the prefix-filtered all-pairs
    cosine join returns EXACTLY the brute inverted-index join's pairs
    (the completeness theorem), and both agree with an independent
    numpy dense-cosine computation away from the rounding knife-edge."""
    import numpy as np

    from mini_project_204721_data_engineering_spark.llm.sparse_sim import sparse_cosine_join

    df = spark.createDataFrame(
        [(i, " ".join(words)) for i, words in enumerate(docs)],
        "doc_id long, text string",
    )
    got = sorted(map(tuple, sparse_cosine_join(df, threshold).collect()))
    brute = sorted(
        map(tuple, sparse_cosine_join(df, threshold, prefix_filter=False).collect())
    )
    assert got == brute
    # numpy dense reference
    vocab = sorted({w for d in docs for w in d})
    idx = {w: i for i, w in enumerate(vocab)}
    mats = []
    for d in docs:
        v = np.zeros(max(len(vocab), 1))
        for w in d:
            v[idx[w]] += 1.0
        n = np.linalg.norm(v)
        mats.append(v / n if n > 0 else v)
    expected = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            if docs[i] and docs[j]:
                expected[(i, j)] = float(np.dot(mats[i], mats[j]))
    got_pairs = {(a, b): s for a, b, s in got}
    for (i, j), s in expected.items():
        if s >= threshold + 1e-4:
            assert (i, j) in got_pairs, (i, j, s, got_pairs)
        if s <= threshold - 1e-4:
            assert (i, j) not in got_pairs, (i, j, s)
    for (a, b), s in got_pairs.items():
        assert abs(s - expected[(a, b)]) < 1e-3
