"""Tests for the LLM-pipeline operators that the oracle can't fully cover:
ANN recall, dedup cross-checks between variants, and text helpers."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.catalog import load_table
from mini_project_204721_data_engineering_spark.llm.dedup import minhash_lsh_pairs, ngram_jaccard_pairs, simhash
from mini_project_204721_data_engineering_spark.llm.similarity import cosine_topk, ivf_topk

SF = "/root/testdata/sf0.001"


def _docs_df(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog again and again"),
        Row(doc_id=2, text="the quick brown fox jumps over the lazy dog again and again today"),
        Row(doc_id=3, text="completely different words about spark query engines and shuffles"),
    ]
    return spark.createDataFrame(rows)


def test_ngram_jaccard_finds_planted_near_dup(spark):
    pairs = ngram_jaccard_pairs(_docs_df(spark), threshold=0.5).collect()
    assert [(p["doc_a"], p["doc_b"]) for p in pairs] == [(1, 2)]
    assert pairs[0]["jaccard"] > 0.8


def test_minhash_lsh_agrees_with_exact_jaccard(spark):
    got = {(p["doc_a"], p["doc_b"]) for p in minhash_lsh_pairs(_docs_df(spark), threshold=0.5).collect()}
    assert (1, 2) in got
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_near_dups_are_hamming_close(spark):
    fps = {r["doc_id"]: r["simhash"] for r in simhash(_docs_df(spark)).collect()}

    def ham(a, b):
        return sum(x != y for x, y in zip(a, b))

    assert ham(fps[1], fps[2]) <= 6          # near-dups: close fingerprints
    assert ham(fps[1], fps[3]) > ham(fps[1], fps[2])  # unrelated: farther


def test_simhash_hamming_pairs_banded_equals_brute_force(spark):
    """Banded Hamming search ≡ brute-force all-pairs over the same
    fingerprints (pigeonhole completeness: d < bands ⇒ one band
    identical) on real documents, with the parameter guard loud."""
    import pytest as _pytest

    from mini_project_204721_data_engineering_spark.llm.dedup import (
        simhash,
        simhash_hamming_pairs,
    )

    docs = load_table(spark, SF, "documents").filter(F.col("doc_id") < 300)
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(docs, max_hamming=3, bands=4).collect()
    }
    fps = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(fps)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = sum(x != y for x, y in zip(fps[a], fps[b]))
            if h <= 3:
                want[(a, b)] = h
    assert got == want and len(want) > 0
    with _pytest.raises(ValueError, match="pigeonhole"):
        simhash_hamming_pairs(docs, max_hamming=4, bands=4)
    with _pytest.raises(ValueError, match="divisible"):
        simhash_hamming_pairs(docs, max_hamming=3, bands=5, bits=32)


def test_ivf_full_probe_equals_brute_force(spark):
    """With nprobe = #cells, IVF degrades to exact search — results must
    match brute force exactly.  (A recall-at-small-nprobe test would be
    meaningless here: the synthetic `label` column is not geometric
    cluster structure, so cell routing can't concentrate true neighbors.)"""
    emb = load_table(spark, SF, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, qs, k=5).collect()}
    full = {(r["query_id"], r["vec_id"]) for r in ivf_topk(emb, qs, k=5, nprobe=10).collect()}
    assert full == exact


def test_ivf_partial_probe_is_subset_and_sized(spark):
    emb = load_table(spark, SF, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    out = ivf_topk(emb, qs, k=5, nprobe=2).collect()
    n_queries = qs.count()
    # every query still gets k results (cells are big enough at nprobe=2)
    assert len(out) == 5 * n_queries
    # ranks are 1..k per query, similarity non-increasing
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == [1, 2, 3, 4, 5]
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_srp_signatures_bucket_similar_vectors(spark):
    """SRP property: identical vectors share a signature; a sign-flipped
    vector gets the complementary one."""
    from pyspark.sql import Row as R
    from mini_project_204721_data_engineering_spark.llm.dedup import srp_signatures

    base = [float((i * 37 % 13) - 6) for i in range(64)]
    flipped = [-x for x in base]
    df = spark.createDataFrame(
        [R(vec_id=1, embedding=base), R(vec_id=2, embedding=list(base)), R(vec_id=3, embedding=flipped)]
    )
    sigs = {r["vec_id"]: r["srp_sig"] for r in srp_signatures(df, n_bits=16).collect()}
    assert sigs[1] == sigs[2]
    assert sigs[3] == "".join("1" if c == "0" else "0" for c in sigs[1])
    assert len(sigs[1]) == 16


def test_srp_deterministic_across_sessions(spark):
    """Same seed → same planes → same signatures (retry safety)."""
    from mini_project_204721_data_engineering_spark.catalog import load_table
    from mini_project_204721_data_engineering_spark.llm.dedup import srp_signatures

    emb = load_table(spark, SF, "embeddings").limit(20)
    a = {r["vec_id"]: r["srp_sig"] for r in srp_signatures(emb, seed=7).collect()}
    b = {r["vec_id"]: r["srp_sig"] for r in srp_signatures(emb, seed=7).collect()}
    c = {r["vec_id"]: r["srp_sig"] for r in srp_signatures(emb, seed=8).collect()}
    assert a == b
    assert a != c


def test_kmeans_assign_partitions_corpus(spark):
    from mini_project_204721_data_engineering_spark.llm.similarity import kmeans_assign

    emb = load_table(spark, SF, "embeddings")
    cells = kmeans_assign(emb, ncells=4, iters=2)
    n = emb.count()
    # total partition: every vector gets exactly one cell in [0, 4)
    assert cells.count() == n
    ids = [r["cell"] for r in cells.select("cell").distinct().collect()]
    assert all(0 <= c < 4 for c in ids)
    assert len(ids) >= 2  # data actually spreads over cells
    # deterministic: same inputs → same assignment
    again = kmeans_assign(emb, ncells=4, iters=2)
    a = {r["vec_id"]: r["cell"] for r in cells.select("vec_id", "cell").collect()}
    b = {r["vec_id"]: r["cell"] for r in again.select("vec_id", "cell").collect()}
    assert a == b


def test_kmeans_iterations_scan_cache_not_source(spark):
    """The Lloyd loop must hit the persisted (id, vector) projection, not
    re-scan the parquet source each iteration (VERDICT r4 'what's wrong'
    #1): the assignment-step plan shows InMemoryTableScan and NO file
    scan, and the returned DataFrame's lineage (checkpointed assignment)
    re-scans the source exactly once — for the join's corpus side."""
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        _assign_to_centroids,
        as_double,
        kmeans_assign,
    )

    emb = load_table(spark, SF, "embeddings")

    # the iteration shape: persisted projection → assignment step
    c = emb.select(F.col("vec_id").alias("__id"), as_double("embedding").alias("v")).persist()
    try:
        dim = len(c.first()["v"])
        cent = spark.createDataFrame([(0, [0.0] * dim), (1, [1.0] * dim)], ["cell", "cv"])
        plan = _assign_to_centroids(c, cent)._jdf.queryExecution().executedPlan().toString()
        # the corpus side reads the cache; the FileScan text that remains
        # is only the InMemoryRelation describing what it cached
        assert "InMemoryTableScan" in plan
    finally:
        c.unpersist()

    # end-to-end: the returned plan scans the file once (corpus join side),
    # not once per iteration
    cells = kmeans_assign(emb, ncells=4, iters=3)
    final_plan = cells._jdf.queryExecution().executedPlan().toString()
    assert final_plan.count("Scan parquet") == 1


def test_ivf_over_kmeans_full_probe_equals_brute_force(spark):
    from mini_project_204721_data_engineering_spark.llm.similarity import kmeans_assign

    emb = load_table(spark, SF, "embeddings")
    cells = kmeans_assign(emb, ncells=4, iters=2)
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, qs, k=5).collect()}
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(cells, qs, k=5, nprobe=4, cell_col="cell").collect()
    }
    assert full == exact


def test_srp_banded_pairs_subset_of_exact(spark):
    """The LSH-bucketed near-dup result is exactly the verified subset of
    the all-pairs result whose bands collide — never a false positive,
    and at high similarity, recall is near-total."""
    from mini_project_204721_data_engineering_spark.llm.dedup import (
        embedding_neardup_pairs,
        srp_banded_pairs,
    )

    emb = load_table(spark, SF, "embeddings")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in embedding_neardup_pairs(emb, threshold=0.3).collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in srp_banded_pairs(emb, threshold=0.3, n_bits=32, bands=8).collect()
    }
    assert set(banded) <= set(exact)
    for k, v in banded.items():
        assert v == exact[k]  # verify stage computes the same exact cosine


def test_seeded_ivf_full_probe_equals_brute_force(spark):
    """nprobe = ncells over the seeded quantizer scans every cell — the
    ANN result must degenerate to the exact brute-force top-k."""
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells,
        seeded_centroids,
    )

    emb = load_table(spark, SF, "embeddings")
    cents = seeded_centroids(emb, ncells=4)
    cells = assign_cells(emb, cents)
    qs = cells.filter(F.col("vec_id") % 100 == 0)
    exact = {(r["query_id"], r["vec_id"]) for r in cosine_topk(emb, qs, k=5).collect()}
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(
            cells, qs, k=5, nprobe=4, cell_col="cell", centroids=cents, route_round_dp=6
        ).collect()
    }
    assert full == exact


def test_subword_count_gpt2_style_segments(spark):
    from mini_project_204721_data_engineering_spark.llm.text import subword_count

    rows = [
        Row(doc_id=1, text="I'll pay $12.50, don't worry!"),
        Row(doc_id=2, text=""),
    ]
    out = {
        r["doc_id"]: r["n"]
        for r in spark.createDataFrame(rows)
        .select("doc_id", subword_count(F.col("text")).alias("n"))
        .collect()
    }
    # I |'ll| pay| $|12|.|50|,| don|'t| worry|! → 12 segments
    assert out[1] == 12
    assert out[2] == 0


def test_lsh_jaccard_verified_subset_of_exact(spark):
    """The composed LSH→verify pipeline emits a subset of the exact
    all-pairs Jaccard result with identical similarity values (verify is
    exact; only candidate generation is approximate)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import lsh_jaccard_verified

    docs = load_table(spark, SF, "documents")
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    verified = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in lsh_jaccard_verified(docs, threshold=0.5).collect()
    }
    assert set(verified) <= set(exact)
    for pair, j in verified.items():
        assert j == exact[pair]
    # planted near-dups (consecutive doc pairs with high overlap) survive
    assert len(verified) > 0


def test_zero_norm_cosine_matches_duckdb(spark):
    """Zero-norm guard (ADVICE r2): Spark's cosine and assign_cells must
    agree with DuckDB's list_cosine_similarity on degenerate (all-zero)
    vectors — both yield -1.0, so argmax cell routing stays
    engine-portable."""
    import duckdb
    from pyspark.sql import Row

    from mini_project_204721_data_engineering_spark.llm.similarity import (
        as_double,
        assign_cells,
        cosine,
        seeded_centroids,
    )

    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[0.0, 1.0]),
        Row(vec_id=2, embedding=[0.0, 0.0]),  # degenerate
        Row(vec_id=3, embedding=[1.0, 1.0]),
    ]
    df = spark.createDataFrame(rows).select(
        "vec_id", as_double("embedding").alias("v")
    )
    qv = [3.0, 4.0]
    got = {
        r["vec_id"]: r["c"]
        for r in df.withColumn("q", F.expr(f"array({qv[0]}D, {qv[1]}D)"))
        .select("vec_id", F.round(cosine("v", "q"), 6).alias("c"))
        .collect()
    }
    con = duckdb.connect()
    for r in rows:
        want = con.execute(
            "SELECT round(list_cosine_similarity(?::DOUBLE[], ?::DOUBLE[]), 6)",
            [list(map(float, r.embedding)), qv],
        ).fetchone()[0]
        assert got[r.vec_id] == want, (r.vec_id, got[r.vec_id], want)
    assert got[2] == -1.0

    # assign_cells: the zero vector ties every centroid at -1 → the nc
    # tiebreaker deterministically picks the LOWEST cell id
    cents = seeded_centroids(spark.createDataFrame(rows[:2]), ncells=2)
    assigned = {
        r["vec_id"]: r["cell"]
        for r in assign_cells(spark.createDataFrame(rows), cents).collect()
    }
    assert assigned[2] == 0


def _mk_docs(spark, texts):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang="en", source="s", n_chars=len(t)) for i, t in enumerate(texts)]
    )


def test_pii_redact_and_count(spark):
    from mini_project_204721_data_engineering_spark.llm.text import (
        EMAIL_PATTERN,
        PHONE_PATTERN,
        pii_count,
        pii_redact,
    )

    df = _mk_docs(
        spark,
        [
            "reach me at jo.na+x@sub.example.org or 555-123-4567 thanks",
            "no pii here at all",
            "two mails a@b.io c.d@e.fr and 999 888.777 not a phone",
        ],
    )
    got = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            pii_count(F.col("text"), EMAIL_PATTERN).alias("ne"),
            pii_count(F.col("text"), PHONE_PATTERN).alias("np"),
            pii_redact(F.col("text")).alias("red"),
        ).collect()
    }
    assert (got[0]["ne"], got[0]["np"]) == (1, 1)
    assert got[0]["red"] == "reach me at <EMAIL> or <PHONE> thanks"
    assert got[1]["red"] == "no pii here at all"
    assert (got[2]["ne"], got[2]["np"]) == (2, 0)
    assert got[2]["red"] == "two mails <EMAIL> <EMAIL> and 999 888.777 not a phone"


def test_incremental_neardup_probes_index_not_corpus(spark):
    """Incremental ingest: a stored band index catches a new near-dup of
    an OLD doc and a dup pair WITHIN the new batch, passes fresh docs,
    and equals the from-scratch LSH run on the union corpus."""
    from mini_project_204721_data_engineering_spark.llm.dedup import (
        build_band_index,
        incremental_neardup,
        minhash_band_candidates,
        minhash_table,
    )

    corpus = _docs_df(spark)  # docs 1, 2 near-dups; 3 unrelated
    index = build_band_index(corpus)
    batch = spark.createDataFrame(
        [
            # near-dup of corpus doc 1 (one word changed)
            Row(doc_id=10, text="the quick brown fox jumps over the lazy cat again and again"),
            Row(doc_id=11, text="entirely novel content nothing like anything stored before now"),
            # exact dup WITHIN the batch of doc 11
            Row(doc_id=12, text="entirely novel content nothing like anything stored before now"),
        ]
    )
    got = {
        (r["new_id"], r["match_id"])
        for r in incremental_neardup(batch, index).collect()
    }
    assert (10, 1) in got or (10, 2) in got  # historical near-dup caught
    assert (12, 11) in got                   # batch-internal dup caught
    assert all(nid != 11 for nid, _ in got)  # fresh doc not flagged

    # equivalence: incremental == from-scratch on the union, restricted
    # to pairs involving the batch
    union = corpus.unionByName(batch)
    scratch = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_band_candidates(minhash_table(union), k=8, bands=4).collect()
    }
    scratch_batch_pairs = {
        (b, a) for a, b in scratch if b >= 10 and a < 10
    } | {(max(a, b), min(a, b)) for a, b in scratch if a >= 10 and b >= 10}
    assert got == scratch_batch_pairs


def test_duplicate_spans_cross_doc_and_merge(spark):
    """Exact-substring spans: a shared 10-token run marks merged spans
    in BOTH docs (three overlapping 8-gram hits collapse to one
    island), a within-doc repeat marks both occurrences, and a clean
    doc yields nothing."""
    from mini_project_204721_data_engineering_spark.llm.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(10))
    uniq = lambda p, n: " ".join(f"{p}{i}" for i in range(n))  # noqa: E731
    rep8 = " ".join(f"r{i}" for i in range(8))
    docs = spark.createDataFrame(
        [
            (1, f"{uniq('a', 5)} {shared} {uniq('b', 5)}"),
            (2, f"{shared} {uniq('c', 12)}"),
            (3, f"{rep8} {uniq('d', 4)} {rep8}"),  # within-doc repeat
            (4, uniq("e", 30)),  # clean
        ],
        "doc_id long, text string",
    )
    got = {
        (r["doc_id"], r["span_start"], r["span_end"])
        for r in duplicate_spans(docs, k=8).collect()
    }
    # doc 1: shared run at tokens [5, 15) — one merged span
    # doc 2: shared run at [0, 10)
    # doc 3: both copies of the 8-gram: [0, 8) and [12, 20)
    assert got == {(1, 5, 15), (2, 0, 10), (3, 0, 8), (3, 12, 20)}


def test_trim_duplicate_spans_removes_marked_tokens(spark):
    """The trim half: every token inside a marked span is removed, all
    others survive in order, and span-free docs pass through
    byte-identical (including their original whitespace)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import (
        duplicate_spans,
        trim_duplicate_spans,
    )

    shared = " ".join(f"s{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"a0 a1 a2 a3 a4 {shared} b0 b1 b2 b3 b4"),
            (2, f"{shared} c0 c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11"),
            (3, "untouched  doc   with   odd spacing and no duplicate runs"),
        ],
        "doc_id long, text string",
    )
    spans = duplicate_spans(docs, k=8)
    out = {r["doc_id"]: r["text"] for r in trim_duplicate_spans(docs, spans).collect()}
    assert out[1] == "a0 a1 a2 a3 a4 b0 b1 b2 b3 b4"
    assert out[2] == " ".join(f"c{i}" for i in range(12))
    assert out[3] == "untouched  doc   with   odd spacing and no duplicate runs"


def test_dup_clusters_transitive_chain(spark):
    """Cluster resolution: A~B and B~C (no A~C pair) must land in ONE
    cluster labeled min(id); disconnected pairs stay separate; and
    canonical_keep keeps one representative per cluster plus every
    unpaired doc."""
    from mini_project_204721_data_engineering_spark.llm.dedup import (
        canonical_keep,
        dup_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 20)],
        "doc_a long, doc_b long",
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in [1, 2, 3, 4, 10, 11, 20, 21, 99]],
        "doc_id long, text string",
    )
    kept = {r["doc_id"] for r in canonical_keep(docs, pairs).collect()}
    assert kept == {1, 10, 20, 99}  # one per cluster + the singleton


def test_dup_clusters_long_chain_converges(spark):
    """A diameter-8 chain exercises multi-round propagation and the
    convergence check (label must travel the whole chain)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import dup_clusters

    n = 9
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long"
    )
    got = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n)}
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="converge"):
        dup_clusters(pairs, max_iters=2)


def test_incremental_neardup_rejects_mismatched_index_params(spark):
    """Probing a band index with different (k, bands, n, hash_fn) than it
    was built with yields band keys that never match — which would read
    as 'no duplicates' in production.  The params stamp turns that silent
    empty result into a ValueError (ADVICE r4)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import (
        build_band_index,
        incremental_neardup,
    )

    corpus = _docs_df(spark)
    index = build_band_index(corpus, k=8, bands=4, hash_fn="md5")
    batch = corpus.limit(1)
    with pytest.raises(ValueError, match="params"):
        incremental_neardup(batch, index, k=8, bands=2, hash_fn="md5")
    with pytest.raises(ValueError, match="params"):
        incremental_neardup(batch, index, k=8, bands=4, hash_fn="xxhash64")
    # matching params still work
    assert incremental_neardup(batch, index, k=8, bands=4, hash_fn="md5").count() >= 1
    # a mixed index (two builds with different recipes unioned) is also rejected
    mixed = index.unionByName(build_band_index(corpus, k=4, bands=2))
    with pytest.raises(ValueError, match="params"):
        incremental_neardup(batch, mixed, k=8, bands=4)


def test_minhash_xxhash64_path_same_planted_dups(spark):
    """The xxhash64 scale path must find the same planted near-dups as
    the oracle-portable md5 path (identical LSH semantics)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import minhash_lsh_pairs

    md5_pairs = {
        (p["doc_a"], p["doc_b"])
        for p in minhash_lsh_pairs(_docs_df(spark), threshold=0.5).collect()
    }
    xx_pairs = {
        (p["doc_a"], p["doc_b"])
        for p in minhash_lsh_pairs(
            _docs_df(spark), threshold=0.5, hash_fn="xxhash64"
        ).collect()
    }
    assert (1, 2) in xx_pairs
    assert xx_pairs == md5_pairs


def test_minhash_md5_bigint_identical_output_and_hash_aggregates(spark):
    """r16 md5_bigint path: (a) each signature entry IS the 60-bit hex
    prefix of the md5-string entry (the min picked the same shingle —
    order isomorphism realized, not just argued); (b) the LSH pairs
    match the md5 path value-for-value including est_jaccard; (c) the
    signature aggregation hash-aggregates (no SortAggregate — the whole
    point of the truncation)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import (
        minhash_lsh_pairs,
        minhash_signatures,
    )

    s_str = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(_docs_df(spark), hash_fn="md5").collect()
    }
    s_big = {
        r["doc_id"]: r["sig"]
        for r in minhash_signatures(_docs_df(spark), hash_fn="md5_bigint").collect()
    }
    assert set(s_str) == set(s_big)
    for d, sig in s_str.items():
        assert [int(h[:15], 16) for h in sig] == list(s_big[d])

    md5_pairs = sorted(
        map(tuple, minhash_lsh_pairs(_docs_df(spark), threshold=0.5).collect())
    )
    big_pairs_df = minhash_lsh_pairs(
        _docs_df(spark), threshold=0.5, hash_fn="md5_bigint"
    )
    assert sorted(map(tuple, big_pairs_df.collect())) == md5_pairs
    plan = big_pairs_df._jdf.queryExecution().executedPlan().toString()
    assert "SortAggregate" not in plan


def test_band_params_rejected_when_keys_would_diverge(spark):
    """ADVICE r15: k % bands != 0 (legacy remainder band) and k > 100
    (2-digit seed prefix truncation) would silently build band keys that
    never match a persisted index — both must raise."""
    import pytest as _pytest

    from mini_project_204721_data_engineering_spark.llm.dedup import (
        band_rows,
        band_table,
        minhash_signatures,
        minhash_table,
    )

    sig = minhash_signatures(_docs_df(spark), k=8)
    with _pytest.raises(ValueError, match="divisible"):
        band_rows(sig, k=8, bands=3)
    with _pytest.raises(ValueError, match="exceeds 100"):
        band_rows(sig, k=104, bands=4)
    mh = minhash_table(_docs_df(spark), k=8)
    with _pytest.raises(ValueError, match="divisible"):
        band_table(mh, k=8, bands=3)


def test_shingle_pair_hot_bucket_guard(spark, monkeypatch):
    """ADVICE r15 (medium): with max_shingle_df=None a corpus-wide
    shingle would materialize C(m,2) pairs as ONE array; the inverted-
    index path must refuse loudly past _SHINGLE_PAIR_MAX_BUCKET instead
    of OOMing, while an explicit max_shingle_df — under the threshold or
    over it — keeps the guard out of the plan entirely."""
    import pytest as _pytest

    from mini_project_204721_data_engineering_spark.llm import dedup as _d

    docs = spark.createDataFrame(
        [(i, "common shingle text here") for i in range(1, 6)],
        "doc_id long, text string",
    )
    monkeypatch.setattr(_d, "_SHINGLE_PAIR_MAX_BUCKET", 3)
    with _pytest.raises(Exception, match="max_shingle_df"):
        _d.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=None).collect()
    # a cap at/under the refusal threshold bounds every bucket: no guard
    capped = _d.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=3)
    plan = capped._jdf.queryExecution().executedPlan().toString()
    assert "raise_error" not in plan
    assert capped.count() == 0  # the hot shingle was dropped by the cap
    # a cap ABOVE the threshold is the caller's chosen bound: its buckets
    # are paired, not refused
    wide = _d.ngram_jaccard_pairs(docs, threshold=0.1, max_shingle_df=5)
    assert "raise_error" not in wide._jdf.queryExecution().executedPlan().toString()
    assert wide.count() == 10  # every C(5, 2) pair of identical docs


def test_duplicate_spans_hashed_equals_string_grams(spark):
    """The xxhash64 gram compression (8-B shuffle keys instead of
    ~50-100 B gram strings) must produce identical spans to the
    collision-free string path."""
    from mini_project_204721_data_engineering_spark.llm.dedup import duplicate_spans

    shared = " ".join(f"s{i}" for i in range(10))
    uniq = lambda p, n: " ".join(f"{p}{i}" for i in range(n))  # noqa: E731
    docs = spark.createDataFrame(
        [
            (1, f"{uniq('a', 5)} {shared} {uniq('b', 5)}"),
            (2, f"{shared} {uniq('c', 12)}"),
            (3, uniq("e", 30)),
        ],
        "doc_id long, text string",
    )
    hashed = {
        tuple(r) for r in duplicate_spans(docs, k=8, hash_grams=True).collect()
    }
    strings = {
        tuple(r) for r in duplicate_spans(docs, k=8, hash_grams=False).collect()
    }
    assert hashed == strings == {(1, 5, 15, 10), (2, 0, 10, 10)}


def test_duplicate_spans_plan_shuffles_bigint_not_strings(spark):
    """The count shuffle must key on the 8-byte hash: no string gram
    column survives into the exchange when hash_grams=True."""
    from mini_project_204721_data_engineering_spark.llm.dedup import duplicate_spans

    import re

    docs = spark.createDataFrame([(1, "a b c d e f g h i")], "doc_id long, text string")
    plan = duplicate_spans(docs, k=8)._jdf.queryExecution().optimizedPlan().toString()
    assert "xxhash64" in plan
    # every gram attribute is bigint (#NL) — the string form never leaves
    # the map-side Generate, so the count shuffle and join move 8-B keys
    assert re.findall(r"gram#\d+L", plan)
    assert not re.findall(r"gram#\d+(?![\dL])", plan)


def test_srp_provisioning_guard_warns_when_underbanded(spark):
    """4 bits/band at n=1e6 violates the measured SCALE.md rule
    bits/band >= log2(bands*n/2) and must warn; 24 bits/band must not."""
    import warnings

    from mini_project_204721_data_engineering_spark.llm.dedup import srp_banded_pairs

    emb = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8)], "vec_id long, embedding array<double>"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        srp_banded_pairs(emb, n_bits=32, bands=8, dim=8, expected_n=1_000_000)
    assert any("provisioning rule" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        srp_banded_pairs(emb, n_bits=48, bands=2, dim=8, expected_n=1_000_000)
    assert not w


def test_semantic_dedup_drops_planted_semantic_duplicate(spark):
    """An exact-copy vector with a higher id lands in the same cell and is
    dropped; survivors ∪ dropped partition the corpus; no survivor has a
    lower-id within-cell neighbor at/above the threshold (full numpy
    cross-check at this corpus size)."""
    import numpy as np

    from mini_project_204721_data_engineering_spark.llm.dedup import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    emb = emb.select("vec_id", "embedding")
    planted_src = emb.filter(F.col("vec_id") == 123).collect()[0]
    planted = spark.createDataFrame([(9001, list(planted_src["embedding"]))], emb.schema)
    corpus = emb.union(planted)
    kept = semantic_dedup(corpus, threshold=0.40, ncells=8)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert 9001 not in kept_ids  # the exact copy is a semantic dup (cos=1)
    assert 123 in kept_ids  # the lower-id original survives as keeper
    # full verification: recompute cells + pairwise cosine in numpy
    rows = corpus.collect()
    ids = np.array([r["vec_id"] for r in rows])
    V = np.array([r["embedding"] for r in rows], dtype=np.float64)
    seeds = np.argsort(ids)[:8]
    C = V[seeds]
    ncv = np.linalg.norm(C, axis=1)
    nv = np.linalg.norm(V, axis=1)
    sims = np.round((V @ C.T) / np.outer(np.where(nv == 0, 1, nv), ncv), 6)
    sims[nv == 0] = -1.0
    cell_ids = ids[seeds]
    # argmax with (sim desc, cell asc) tiebreak
    cells = np.array([
        cell_ids[min(range(len(cell_ids)), key=lambda c: (-sims[i, c], cell_ids[c]))]
        for i in range(len(ids))
    ])
    norm = np.where(nv == 0, 1, nv)
    cos = np.round((V @ V.T) / np.outer(norm, norm), 6)
    expect_drop = set()
    for i in range(len(ids)):
        for j in range(len(ids)):
            if cells[i] == cells[j] and ids[j] < ids[i] and cos[i, j] >= 0.40:
                expect_drop.add(int(ids[i]))
    assert kept_ids == set(int(i) for i in ids) - expect_drop
    assert len(expect_drop) > 0


def test_semantic_dedup_pairwise_is_cell_equijoin(spark):
    """The pairwise stage must be an equi-join on cell (the corpus is
    never self-crossed): no CartesianProduct/BroadcastNestedLoopJoin in
    the physical plan."""
    from mini_project_204721_data_engineering_spark.llm.dedup import semantic_dedup

    emb = load_table(spark, SF, "embeddings")
    plan = (
        semantic_dedup(emb, threshold=0.40, ncells=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_dedup_hot_cell_cap_bounds_pairs(spark):
    """Hot-cell guard (cap_cells): a planted 50%-hot cell — half the
    corpus collapsed onto one direction so one cell takes ~half the
    vectors — must split into bounded sub-cells: every capped cell stays
    ≤ ~2×max_cell_size (hash-split variance), total pairwise work drops
    by ≥4×, exact duplicates are STILL dropped (the split hashes the
    vector, not the id), and max_cell_size=None keeps the old behavior
    bit-for-bit."""
    import math

    from mini_project_204721_data_engineering_spark.llm.dedup import cap_cells, semantic_dedup
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells,
        seeded_centroids,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    n = emb.count()
    hot_dir = emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    # half the corpus: per-id SCALINGS of one direction — identical
    # cosine to every centroid, so they all land in one cell — plus one
    # EXACT copy (id 8888) of the base vector (ids 3 and 7000 hold it)
    base = [float(x) for x in hot_dir]
    hot_rows = [
        (
            7000 + i,
            [x * (1.0 + 0.001 * ((i * 7919) % 97)) for x in base],
        )
        for i in range(n)
    ]
    hot_rows.append((8888, list(hot_rows[0][1])))
    hot = spark.createDataFrame(hot_rows, "vec_id long, embedding array<double>")
    corpus = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).union(hot)
    cents = seeded_centroids(corpus, ncells=8)
    cells = assign_cells(corpus, cents)

    def pair_work(cdf):
        sizes = [r["c"] for r in cdf.groupBy("cell").agg(F.count("*").alias("c")).collect()]
        return sizes, sum(s * (s - 1) // 2 for s in sizes)

    sizes0, pairs0 = pair_work(cells)
    assert max(sizes0) >= n  # the hot cell really is hot (≥50%)
    cap = 50
    capped = cap_cells(cells, max_cell_size=cap)
    sizes1, pairs1 = pair_work(capped)
    assert max(sizes1) <= 2 * cap  # bounded reducers (hash variance slack)
    assert pairs1 * 4 <= pairs0  # quadratic trap defused
    # exact duplicate still caught: the vector-hash split keeps copies
    # together, so 8888 shares a sub-cell with its lower-id twins (3,
    # 7000) and is dropped
    kept = semantic_dedup(corpus, threshold=0.40, centroids=cents, max_cell_size=cap)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert 8888 not in kept_ids
    # guard off ≡ old behavior
    k_none = {r["vec_id"] for r in semantic_dedup(emb, threshold=0.40, ncells=8).collect()}
    k_old = {
        r["vec_id"]
        for r in semantic_dedup(emb, threshold=0.40, ncells=8, max_cell_size=None).collect()
    }
    assert k_none == k_old
    # sub-cell provisioning: at least ceil(hot/cap) cells exist post-split
    assert len(sizes1) >= math.ceil(max(sizes0) / cap)


def test_assign_cells_bcast_equals_literal_path(spark):
    """The broadcast-argmax assignment (no literal inlining — the
    ncells-scalable form) produces IDENTICAL cells to assign_cells'
    literal-inlined projection: same rounding, same tiebreaks."""
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells,
        assign_cells_bcast,
        seeded_centroids,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    cents = seeded_centroids(emb, ncells=8)
    lit = {r["vec_id"]: r["cell"] for r in assign_cells(emb, cents).collect()}
    bc = {r["vec_id"]: r["cell"] for r in assign_cells_bcast(emb, cents).collect()}
    assert bc == lit


def test_two_level_assignment_and_semantic_dedup(spark):
    """Two-level (IMI-style) assignment: every vector lands in a sub-cell
    of its routed super cell; identical vectors share a cell, so
    semantic_dedup over the two-level cells still drops a planted exact
    duplicate; the plan stays shuffle-free joins (broadcast, no
    CartesianProduct)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import semantic_dedup
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells_bcast,
        assign_cells_two_level,
        seeded_two_level,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    src = emb.filter(F.col("vec_id") == 77).collect()[0]
    planted = spark.createDataFrame([(9009, list(src["embedding"]))], emb.schema)
    corpus = emb.union(planted)
    supers, subs = seeded_two_level(corpus, k1=4, k2=4)
    cells = assign_cells_two_level(corpus, supers, subs)
    # validity: each vector's cell is a sub of its super route
    routed = assign_cells_bcast(corpus, supers, cell_col="super_check")
    sub_of = {
        (r["super_cell"], r["cell"]) for r in subs.collect()
    }
    both = (
        cells.select("vec_id", "cell")
        .join(routed.select("vec_id", "super_check"), "vec_id")
        .collect()
    )
    assert all((r["super_check"], r["cell"]) in sub_of for r in both)
    # identical vectors share a cell → the planted copy is dropped
    kept = semantic_dedup(corpus, threshold=0.40, cells_df=cells)
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert 9009 not in kept_ids and 77 in kept_ids
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_two_level_unseeded_super_falls_back_not_dropped(spark):
    """A vector routed to a super cell with NO sub-centroids (possible
    on the incremental path: new vectors after seeding) must fall back
    to the super cell id — never silently vanish from the output."""
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells_two_level,
    )

    supers = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell long, cv array<double>"
    )
    subs = spark.createDataFrame(  # super 1 deliberately unseeded
        [(0, 10, [1.0, 0.1]), (0, 11, [0.9, -0.1])],
        "super_cell long, cell long, cv array<double>",
    )
    vecs = spark.createDataFrame(
        [(100, [0.95, 0.05]), (101, [0.1, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r["cell"] for r in assign_cells_two_level(vecs, supers, subs).collect()}
    assert len(out) == 2  # nothing dropped
    assert out[100] in (10, 11)  # seeded super: real sub-cell
    assert out[101] == 1  # unseeded super: falls back to the super id


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a long one: containment flags it
    (contained = the short side) while symmetric Jaccard at the same
    threshold does not."""
    from mini_project_204721_data_engineering_spark.llm.dedup import (
        ngram_containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    docs = spark.createDataFrame(
        [(1, short), (2, filler + " " + short + " " + filler.upper())],
        "doc_id long, text string",
    )
    cont = ngram_containment_pairs(docs, threshold=0.9).collect()
    assert len(cont) == 1
    assert cont[0]["contained"] == 1 and cont[0]["containment"] >= 0.9
    assert ngram_jaccard_pairs(docs, threshold=0.9).count() == 0


def test_strip_html_recovers_inner_text(spark):
    """strip_html drops script/style bodies, comments and tags, decodes
    entities and collapses whitespace — malformed fragments degrade to
    whitespace, never an error."""
    from mini_project_204721_data_engineering_spark.llm.text import strip_html

    rows = [
        (1, "<html><script>ignore<me</script><p>Keep &amp; hold</p></html>"),
        (2, "no markup at all"),
        (3, "<div><broken <unclosed"),
        (4, "<STYLE>p{}</STYLE>UPPER<B>case</B>&nbsp;tags"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["t"] for r in df.select("doc_id", strip_html(F.col("text")).alias("t")).collect()}
    assert got[1] == "Keep & hold"
    assert got[2] == "no markup at all"
    assert "broken" in got[3]  # degraded, not raised
    assert got[4] == "UPPER case tags"


def test_url_parts_and_canonical_dedup_composition(spark):
    """URL decomposition + canonicalization over crawl URLs: parts
    extract correctly (scheme/host/domain/path/query, userinfo and
    ports stripped from host), canonical forms collapse trivial
    variants, and the canonical-URL frontier dedup keeps one record per
    canonical URL."""
    from mini_project_204721_data_engineering_spark.llm.text import (
        canonical_url,
        url_parts,
    )

    urls = [
        "https://News.Example.co.uk:443/a/b?q=1#frag",
        "http://user:pw@sub.site.org/path/",
        "https://news.example.co.uk/a/b?q=1",
        "ftp://files.example.com",
        "not a url at all",
    ]
    df = spark.createDataFrame([(i, u) for i, u in enumerate(urls)], "i long, url string")
    out = {r["i"]: r["p"] for r in df.select("i", url_parts(F.col("url")).alias("p")).collect()}
    assert out[0]["scheme"] == "https"
    assert out[0]["host"] == "news.example.co.uk"  # lowercased, port stripped
    # last-two-labels heuristic: multi-label public suffixes under-split
    # (documented trade) — co.uk, not example.co.uk
    assert out[0]["registered_domain"] == "co.uk"
    assert out[0]["path"] == "/a/b" and out[0]["query"] == "q=1"
    assert out[1]["host"] == "sub.site.org"  # userinfo stripped
    assert out[1]["registered_domain"] == "site.org"
    assert out[3]["scheme"] == "ftp" and out[3]["path"] == ""
    assert out[4]["scheme"] == "" and out[4]["host"] == ""
    canon = {r["i"]: r["c"] for r in df.select("i", canonical_url(F.col("url")).alias("c")).collect()}
    assert canon[0] == canon[2] == "https://news.example.co.uk/a/b?q=1"
    assert canon[1] == "http://sub.site.org/path"
    # frontier dedup: one row per canonical URL
    kept = (
        df.withColumn("c", canonical_url(F.col("url")))
        .groupBy("c").agg(F.min("i").alias("first_i"))
    )
    assert kept.count() == 4


def test_cap_cells_frozen_splits_agree_across_datasets(spark):
    """The incremental contract: capping two different frames with the
    SAME frozen (cell, nsplit) table puts identical vectors in
    identical sub-cells — while per-frame derived factors need not
    agree.  Also composes with the two-level quantizer path (cells_df
    from assign_cells_two_level feeds semantic_dedup with a cap)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import cap_cells, semantic_dedup
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells_two_level,
        seeded_two_level,
    )

    emb = load_table(spark, SF, "embeddings").select("vec_id", "embedding")
    # a "batch": one duplicated vector + a handful of others
    src = emb.filter(F.col("vec_id") == 42).collect()[0]
    batch = spark.createDataFrame(
        [(5042, list(src["embedding"]))], emb.schema
    ).union(emb.filter(F.col("vec_id") > 480))
    supers, subs = seeded_two_level(emb, k1=4, k2=4)
    corpus_cells = assign_cells_two_level(emb, supers, subs)
    splits = corpus_cells.groupBy("cell").agg(
        F.ceil(F.count(F.lit(1)) / F.lit(20)).cast("long").alias("nsplit")
    )
    capped_corpus = cap_cells(corpus_cells, 20, splits_df=splits)
    batch_cells = assign_cells_two_level(batch, supers, subs)
    capped_batch = cap_cells(batch_cells, 20, splits_df=splits)
    cc = {r["vec_id"]: r["cell"] for r in capped_corpus.collect()}
    cb = {r["vec_id"]: r["cell"] for r in capped_batch.collect()}
    assert cb[5042] == cc[42]  # identical vector → identical sub-cell
    for vid in cb:
        if vid in cc:
            assert cb[vid] == cc[vid]
    # the capped two-level cells still drive semantic_dedup end-to-end
    kept = semantic_dedup(
        emb.union(spark.createDataFrame([(5042, list(src["embedding"]))], emb.schema)),
        threshold=0.40,
        cells_df=cap_cells(
            assign_cells_two_level(
                emb.union(
                    spark.createDataFrame([(5042, list(src["embedding"]))], emb.schema)
                ),
                supers,
                subs,
            ),
            20,
        ),
    )
    kept_ids = {r["vec_id"] for r in kept.select("vec_id").collect()}
    assert 5042 not in kept_ids and 42 in kept_ids
