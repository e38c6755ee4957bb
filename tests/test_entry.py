"""Smoke tests for the driver contract (__spark_entry__.py)."""

from __future__ import annotations

import __spark_entry__ as entrymod


def test_entry_returns_rows(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    cols = set(df.columns)
    assert {"district_id", "probability", "risk_level", "prob_color"} <= cols


#: driver queries retired with no counterpart in the platform's data model
RETIRED = {
    "corpus_prep",
    "dedup_exact",
    "doc_fingerprint",
    "embedding_neardup",
    "minhash_lsh_dups",
    "multimodal_meta",
    "ngram_jaccard_dups",
    "simhash_fingerprints",
    "similarity_ivf",
    "similarity_topk",
    "token_stats",
}


def test_queries_and_oracles_align(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert qs, "queries() must not be empty"
    # every oracle key must have a query; queries without oracle are the
    # documented rows-only exceptions
    assert set(oracles) <= set(qs)
    # the text-corpus queries were retired by name: they read a
    # documents/embeddings corpus the platform's data model has no
    # counterpart for
    assert len(qs) == len(oracles) == 39
    assert not RETIRED & (set(qs) | set(oracles))


def test_probability_bounds(spark):
    """C16 semantics: probability always within [0, 100]; incidents floor 80."""
    from pyspark.sql import functions as F

    df = entrymod.entry(spark)
    bad = df.filter((F.col("probability") < 0) | (F.col("probability") > 100)).count()
    assert bad == 0
    floored = df.filter((F.col("count_of_disasters") > 0) & (F.col("probability") < 80)).count()
    assert floored == 0


def test_extra_queries_and_oracles_align(spark):
    """EXTRA demos follow the same contract as the driver set: every
    EXTRA oracle has an EXTRA query, and EXTRA names never shadow
    driver-facing names (the driver merges by name)."""
    from mini_project_204721_data_engineering_spark import queries as _q

    qs = entrymod.queries()
    extras = _q.all_extra_queries()
    extra_oracles = _q.all_extra_oracles()
    assert set(extra_oracles) <= set(extras)
    assert not (set(extras) & set(qs))
