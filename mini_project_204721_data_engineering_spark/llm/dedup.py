"""Corpus deduplication: exact, n-gram Jaccard, MinHash-LSH, SimHash.

Scale design (the point of each variant):

- **exact_dedup** — md5-hash groupBy: one shuffle on a 32-byte key, the
  only strategy that is exact AND linear; always run it first.
- **ngram_jaccard_pairs** — exact set-similarity via a shingle self-join.
  Quadratic in the worst case; the ``max_shingle_df`` knob drops
  ultra-common shingles (prefix-filter-style) so hot shingles can't
  produce O(n²) candidate blowup.  Use at ≤ millions of docs, or as the
  verify stage after LSH.
- **minhash_signatures / minhash_lsh_pairs** — the 100 TB path: fixed-size
  signatures (k md5-derived hashes), banded LSH so only same-bucket docs
  are compared.  Cost is linear in corpus size + candidate count.
- **simhash** — 32-bit charclass-free fingerprint; near-dup docs get
  Hamming-close fingerprints; grouping by fingerprint prefix buckets
  candidates cheaply.

Determinism: oracle-checked paths hash with md5 (engine-portable — the
DuckDB oracle mirrors it value-for-value).  The MinHash family also
offers ``hash_fn="xxhash64"`` as the cheaper 100 TB path: identical LSH
semantics (min over a uniform hash), Spark-side determinism, just not
DuckDB-mirrorable.
"""

from __future__ import annotations

import math
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mini_project_204721_data_engineering_spark.llm.text import shingles, tokens

__all__ = [
    "exact_dedup",
    "shingle_table",
    "ngram_jaccard_pairs",
    "ngram_containment_pairs",
    "minhash_signatures",
    "minhash_table",
    "band_rows",
    "band_table",
    "build_band_index",
    "incremental_neardup",
    "minhash_band_candidates",
    "minhash_lsh_pairs",
    "lsh_jaccard_verified",
    "simhash",
    "simhash_hamming_pairs",
    "embedding_neardup_pairs",
    "srp_signatures",
    "duplicate_spans",
    "trim_duplicate_spans",
    "dup_clusters",
    "canonical_keep",
    "cap_cells",
    "semantic_dedup",
    "srp_banded_pairs",
]


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content hash: one row per distinct text with the
    smallest id as keeper and the duplicate count."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keeper_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc — the base relation for both
    Jaccard and MinHash."""
    return (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .select(F.col(id_col), F.explode(shingles("toks", n)).alias("shingle"))
        .distinct()
    )


#: hot-bucket refusal for the inverted-index pair expansion when
#: ``max_shingle_df`` does not already bound bucket size: C(2048, 2) ≈ 2M
#: pair structs ≈ tens of MB in one expression evaluation — the largest
#: single-row allocation worth permitting before refusing loudly (same
#: contract as ``_band_bucket_pairs``'s ``max_bucket``).
_SHINGLE_PAIR_MAX_BUCKET = 2048


def _shingle_pair_counts(
    df: DataFrame,
    n: int,
    text_col: str,
    id_col: str,
    max_shingle_df: int | None,
) -> tuple[DataFrame, DataFrame]:
    """(common, sizes) for the exact n-gram similarity family, via ONE
    inverted-index aggregation instead of a shingle self-join (r15;
    guide §2.4/§8).

    The legacy shape referenced the shingle table four ways (hot-filter,
    sizes, self-join a-side, b-side) and Spark planned — and executed —
    the tokenize/explode/distinct pipeline for every reference: 8
    document scans, 15 exchanges in the shipped queries.  Here the
    shingle table is aggregated once into per-shingle doc-id buckets
    (the inverted index); then

    - the hot-shingle guard IS a bucket-size filter (bucket size ==
      document frequency, so ``size(ids) <= max_shingle_df`` keeps
      exactly the rows the old ``left_anti`` against the hot list kept),
    - per-doc surviving-shingle counts re-explode the bucket table,
    - candidate pairs are every ``i < j`` combination of the id-sorted
      bucket via nested ``transform``/``slice`` — one row per shared
      surviving shingle per pair, so ``count`` per (doc_a, doc_b) is
      |A∩B| exactly as the old equi-join produced it (ids are unique
      within a bucket because :func:`shingle_table` is distinct, and the
      ascending sort makes doc_a < doc_b by construction).

    The bucket table is still referenced twice (sizes + pairs) — 2
    document scans total, down from 8.  With ``max_shingle_df=None``
    (the documented small-corpus exact mode) a degenerate corpus-wide
    shingle would materialize all C(m, 2) pairs of its bucket as ONE
    in-memory array — where the legacy self-join degraded gracefully
    across rows — so that mode carries the same loud hot-bucket refusal
    as :func:`_band_bucket_pairs` (ADVICE r15): a bucket over
    ``_SHINGLE_PAIR_MAX_BUCKET`` docs raises, naming the cure
    (``max_shingle_df``), instead of OOMing an executor.  An explicit
    ``max_shingle_df`` is the caller's own bucket bound and is honoured
    even above that default: the refusal threshold becomes
    ``max(max_shingle_df, _SHINGLE_PAIR_MAX_BUCKET)``, which the size
    filter already enforces, so with a cap the guard is statically
    unreachable and is left out of the plan entirely.
    """
    sh = shingle_table(df, text_col, id_col, n)
    buckets = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list(F.col(id_col))).alias("__ids")
    )
    if max_shingle_df is not None:
        buckets = buckets.filter(F.size("__ids") <= max_shingle_df)
    buckets = buckets.select("__ids")
    sizes = (
        buckets.select(F.explode("__ids").alias(id_col))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_sh"))
    )
    if max_shingle_df is None:
        ids = (
            f"CASE WHEN size(__ids) > {_SHINGLE_PAIR_MAX_BUCKET} THEN "
            f"raise_error(concat('shingle bucket of ', size(__ids), "
            f"' docs exceeds {_SHINGLE_PAIR_MAX_BUCKET}: pass "
            f"max_shingle_df to cap hot shingles before pair "
            f"generation')) ELSE __ids END"
        )
    else:
        ids = "__ids"
    pair_expr = (
        f"flatten(transform({ids}, (x, i) -> "
        "transform(slice(__ids, i + 2, size(__ids)), "
        "y -> named_struct('doc_a', x, 'doc_b', y))))"
    )
    common = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return common, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: ``|A∩B| / |A∪B| ≥ threshold``.

    ``max_shingle_df`` drops shingles appearing in more than that many
    docs before pair generation — the standard guard against hot-shingle
    candidate blowup at scale (exactness is preserved for any pair whose
    similarity survives on the remaining shingles; leave None for the
    fully exact small-corpus mode).  r15: intersection counts come from
    the one-pass inverted index (:func:`_shingle_pair_counts`) instead
    of a shingle self-join — identical output, 2 document scans instead
    of 8.
    """
    common, sizes = _shingle_pair_counts(df, n, text_col, id_col, max_shingle_df)
    return (
        common.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ngram_containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment near-dup pairs:
    ``|A∩B| / min(|A|, |B|) >= threshold`` — the metric that catches a
    SHORT document embedded inside a longer one (quoted articles,
    boilerplate-wrapped reposts), which symmetric Jaccard misses: a
    200-shingle doc fully contained in a 2000-shingle doc has Jaccard
    0.1 but containment 1.0.  Emits (doc_a, doc_b, containment,
    contained) with ``contained`` = the id of the smaller side (ties →
    the higher id, matching the min-id keep rule).  Same one-pass
    inverted-index shape and hot-shingle guard as
    :func:`ngram_jaccard_pairs` (r15); run on LSH candidates at scale."""
    common, sizes = _shingle_pair_counts(df, n, text_col, id_col, max_shingle_df)
    return (
        common.join(
            sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a"),
            "doc_a",
        )
        .join(
            sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b"),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common") / F.least("n_a", "n_b")).alias("containment"),
            F.when(F.col("n_a") < F.col("n_b"), F.col("doc_a"))
            .otherwise(F.col("doc_b"))
            .alias("contained"),
        )
        .filter(F.col("containment") >= threshold)
    )


def minhash_signatures(
    df: DataFrame,
    k: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, sig) — the k-element MinHash signature per document, in ONE
    aggregation pass (r15; guide §2.3/§2.4).

    hash_i(shingle) = hash(i || '|' || shingle); sig[i] is the per-seed
    minimum over the doc's shingles.  Two shuffle-shape wins over the old
    (id, seed)-grain table:

    - the k seed hashes are computed as k COLUMNS of one row, not k
      exploded rows — the aggregation machinery sees |shingles| rows
      instead of k·|shingles| (same number of hash evaluations, which
      are the irreducible cost);
    - no ``distinct()`` on the shingle multiset: min over a multiset
      equals min over its set, so the Jaccard-only dedup shuffle is
      skipped entirely.

    ``hash_fn``: ``"md5"`` (default) is engine-portable — the DuckDB
    oracles mirror it verbatim, and min(string) keeps the aggregation in
    SortAggregate (string buffers are not hash-mutable — the inherent
    price of exact md5-STRING semantics; the partial sort is cheap
    because the explode emits same-doc rows consecutively).
    ``"md5_bigint"`` (r16) is the engine-portable path WITHOUT that
    SortAggregate: the first 15 hex chars of the same md5 parsed as a
    60-bit BIGINT — order-isomorphic to the md5 string (fixed-length
    lowercase hex sorts lexicographically == numerically; ties need a
    60-bit prefix collision), so the same shingle wins every per-seed
    min, and the fixed-width min buffer hash-aggregates.  DuckDB
    mirrors it as ``CAST(concat('0x', substr(md5(..),1,15)) AS
    BIGINT)`` (cross-engine equality pinned in tests).  ``"xxhash64"``
    is the 100 TB path — hashing |docs|·|shingles|·k values dominates,
    xxhash64 is measurably cheaper at identical LSH semantics, also
    pure HashAggregate (tools/scale_probe.py measures the gap, tests
    prove all paths find the same planted dups).
    """
    if hash_fn not in ("md5", "md5_bigint", "xxhash64"):
        raise ValueError(f"unknown hash_fn {hash_fn!r}")

    def h(seed: int) -> Column:
        salted = F.concat_ws("|", F.lit(str(seed)), F.col("shingle"))
        if hash_fn == "md5":
            return F.md5(salted)
        if hash_fn == "md5_bigint":
            return F.conv(F.substring(F.md5(salted), 1, 15), 16, 10).cast("bigint")
        return F.xxhash64(salted)

    raw = df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks")).select(
        F.col(id_col), F.explode(shingles("toks", n)).alias("shingle")
    )
    return (
        raw.groupBy(id_col)
        .agg(*[F.min(h(i)).alias(f"__m{i}") for i in range(k)])
        .select(
            F.col(id_col),
            F.array(*[F.col(f"__m{i}") for i in range(k)]).alias("sig"),
        )
    )


def minhash_table(
    df: DataFrame,
    k: int = 8,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """(id, seed, minhash) — k hash-derived minhashes per document; the
    row-per-seed view of :func:`minhash_signatures` (r15: computed by
    exploding the signature array, so the aggregation runs at doc grain
    and the k·|shingles| row explode never exists)."""
    sig = minhash_signatures(df, k, n, text_col, id_col, hash_fn)
    return sig.select(
        F.col(id_col), F.posexplode("sig").alias("seed", "minhash")
    )


def _check_band_params(k: int, bands: int) -> None:
    """Reject (k, bands) combinations whose band keys would silently
    mismatch a persisted index (see :func:`band_rows`)."""
    if k % bands != 0:
        raise ValueError(
            f"k={k} must be divisible by bands={bands}: a remainder band "
            "would be dropped by the projection-built keys and silently "
            "never match an aggregation-built index"
        )
    if k > 100:
        raise ValueError(
            f"k={k} exceeds 100: the 2-digit seed prefix that keeps band-"
            "key entry order == seed order truncates at 3 digits"
        )


def _band_key(sig_col: str, band: int, rows_per_band: int) -> Column:
    """The band-``band`` key derived directly from a signature array —
    byte-identical to the legacy collect_list/array_sort construction:
    entries are 'SS:minhash' with a 2-digit seed prefix, so their sorted
    order IS seed order (k <= 100), and the join key is their '|' concat."""
    parts = [
        F.concat_ws(
            ":",
            F.lpad(F.lit(str(band * rows_per_band + j)), 2, "0"),
            F.col(sig_col)[band * rows_per_band + j],
        )
        for j in range(rows_per_band)
    ]
    return F.concat_ws("|", *parts)


def band_rows(
    sig: DataFrame,
    k: int,
    bands: int,
    id_col: str = "doc_id",
    carry: Sequence[str] = (),
) -> DataFrame:
    """(id, band, band_key, *carry) from a :func:`minhash_signatures`
    table — band keys are pure projections of the signature array (no
    second aggregation; the legacy :func:`band_table` needed a
    collect_list per (id, band)).

    Byte-identical band keys are a stated index contract
    (:func:`build_band_index` probes persisted indexes), so the two
    parameter regimes where projection- and aggregation-built keys could
    silently diverge are REJECTED here and in :func:`band_table` (ADVICE
    r15): ``k % bands != 0`` (the legacy path emitted a remainder band;
    this path would drop those seeds) and ``k > 100`` (the 2-digit seed
    prefix that makes sorted order == seed order truncates at 3
    digits)."""
    _check_band_params(k, bands)
    rows_per_band = k // bands
    entries = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(b).alias("band"),
                    _band_key("sig", b, rows_per_band).alias("band_key"),
                )
                for b in range(bands)
            ]
        )
    ).alias("e")
    return sig.select(F.col(id_col), *[F.col(c) for c in carry], entries).select(
        F.col(id_col),
        F.col("e.band").alias("band"),
        F.col("e.band_key").alias("band_key"),
        *[F.col(c) for c in carry],
    )


def band_table(
    mh: DataFrame,
    k: int,
    bands: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, band, band_key) from a minhash table — the banded-LSH index
    rows.  Persisted (partitioned/bucketed on ``(band, band_key)``) this
    IS the incremental near-dup index a growing corpus maintains.
    Rejects the same (k, bands) regimes as :func:`band_rows` so the two
    constructions stay byte-compatible."""
    _check_band_params(k, bands)
    rows_per_band = k // bands
    return (
        mh.withColumn("band", (F.col("seed") / rows_per_band).cast("int"))
        .groupBy(id_col, "band")
        # band key: the band's minhashes in seed order (seed ordering is
        # deterministic because each (id, band) has distinct seeds)
        .agg(F.concat_ws("|", F.array_sort(F.collect_list(F.concat_ws(":", F.lpad(F.col("seed").cast("string"), 2, "0"), F.col("minhash"))))).alias("band_key"))
    )


def minhash_band_candidates(
    mh: DataFrame,
    k: int,
    bands: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Banded-LSH candidate pairs from a minhash table: docs sharing ANY
    band bucket (join on the band key — the corpus is never self-joined
    at large).  Returns distinct (doc_a, doc_b), doc_a < doc_b."""
    band = band_table(mh, k, bands, id_col)
    a = band.select(F.col(id_col).alias("doc_a"), "band", "band_key")
    b = band.select(F.col(id_col).alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def _band_bucket_pairs(
    rows: DataFrame,
    id_col: str,
    pair_expr: str,
    max_bucket: int,
) -> DataFrame:
    """Within-bucket candidate pairs from (band, band_key, id[, sig])
    rows, computed WITHOUT a self-join (r15; guide §2.4/§8).

    collect_list per (band, band_key) bucket, then every ``i < j`` pair
    via nested ``transform``/``slice`` over the id-sorted list —
    ``pair_expr`` builds each pair's output struct from lambda vars
    ``x``/``y`` (x.i < y.i holds by the sort; ids are unique).  The old
    a×b equi-join planned the whole signature pipeline TWICE (Spark
    plans, and executes, each self-join side independently — no
    ReusedExchange fires for Python-built plans); this shape computes
    signatures once and turns candidate generation into one
    ObjectHashAggregate + one Generate.

    ``max_bucket`` is the hot-bucket refusal (same contract as
    ``cap_cells``/``max_brute_fraction``): an LSH bucket of more than
    ``max_bucket`` docs means near-identical texts were never exact-
    deduped, and BOTH the old join and this form would emit O(m²) pairs
    — raise loudly, naming the cure, instead of OOMing the executor.
    The guard lives inside the consumed pair column (Catalyst prunes
    guards in dead columns)."""
    member = F.struct(
        *[F.col(c) for c in rows.columns if c not in ("band", "band_key")]
    )
    bucket = (
        rows.groupBy("band", "band_key")
        .agg(F.array_sort(F.collect_list(member)).alias("__xs"))
        .filter(F.size("__xs") > 1)
        .drop("band", "band_key")
    )
    guarded = (
        f"CASE WHEN size(__xs) > {max_bucket} THEN "
        f"raise_error(concat('minhash band bucket of ', size(__xs), "
        f"' docs exceeds max_bucket={max_bucket}: exact-dedup the corpus "
        f"first (identical texts collapse to one signature) or raise "
        f"max_bucket')) ELSE __xs END"
    )
    pairs = (
        f"flatten(transform({guarded}, (x, i) -> "
        f"transform(slice(__xs, i + 2, size(__xs)), y -> {pair_expr})))"
    )
    return bucket.select(F.explode(F.expr(pairs)).alias("p")).select("p.*")


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    max_bucket: int = 2048,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates with estimated similarity.

    Signature of k hashes split into ``bands`` bands of k/bands rows;
    estimated similarity = fraction of agreeing minhashes; filtered at
    ``threshold``.  ``hash_fn`` as in :func:`minhash_signatures` (md5 =
    oracle-portable, xxhash64 = cheap scale path, identical semantics).

    r15 restructure (guide §2.4/§8, output-identical — oracle-verified):
    the old flow referenced the minhash table THREE times (band self-join
    a-side, b-side, plus a per-seed re-join to score candidates), and
    Spark executed the shingle-explode + k·|shingles| hash pipeline for
    every reference — 4 document scans, 11 exchanges, 8 SortAggregates.
    Now: one :func:`minhash_signatures` pass, band keys projected from
    the signature array, candidates generated WITHIN each band bucket
    (:func:`_band_bucket_pairs`), and est_jaccard computed by zipping the
    two signature arrays inside the pair constructor — 1 document scan,
    3 exchanges, and the only remaining SortAggregate is the md5-string
    min itself (bigint mins under ``hash_fn="xxhash64"`` make it a pure
    HashAggregate).  Same pair appearing in several bands carries the
    same est_jaccard, so ``distinct`` collapses it exactly as the old
    candidate-distinct did."""
    sig = minhash_signatures(df, k, n, text_col, id_col, hash_fn)
    rows = band_rows(sig, k, bands, id_col, carry=["sig"])
    pair_expr = (
        f"named_struct('doc_a', x.{id_col}, 'doc_b', y.{id_col}, "
        f"'est_jaccard', size(filter(zip_with(x.sig, y.sig, (u, v) -> u = v), "
        f"b -> b)) / CAST({k} AS DOUBLE))"
    )
    return (
        _band_bucket_pairs(rows, id_col, pair_expr, max_bucket)
        .filter(F.col("est_jaccard") >= threshold)
        .distinct()
    )


def build_band_index(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """The persistent LSH index of a corpus: (id, band, band_key, params)
    rows.

    At 100 TB this table is written ONCE (partitioned by ``band`` and
    bucketed on ``band_key`` with Spark's ``bucketBy``) and then only
    appended to; each ingest batch probes it instead of re-running
    corpus-wide LSH.

    ``params`` stamps the signature recipe (k/bands/n/hash_fn) into every
    row: band keys built under DIFFERENT parameters never collide, so a
    mismatched probe would silently read as "no duplicates" —
    :func:`incremental_neardup` validates the stamp and raises instead.

    r15: built from :func:`minhash_signatures` + :func:`band_rows` — one
    aggregation instead of two (the legacy :func:`band_table` re-grouped
    the per-seed rows with a collect_list); band keys are byte-identical,
    so new probes keep matching indexes written by older rounds.

    Migration: ``k`` must be divisible by ``bands`` (the r16 guard).  An
    index persisted with ``k % bands != 0`` (the legacy path emitted a
    remainder band) can no longer be rebuilt or probed with its own
    parameters, and :func:`incremental_neardup` refuses a probe under any
    other parameters (``params`` stamp mismatch): rebuild it with a
    divisible ``k``."""
    idx = band_rows(
        minhash_signatures(df, k, n, text_col, id_col, hash_fn), k, bands, id_col
    )
    return idx.withColumn("params", F.lit(_index_params(k, bands, n, hash_fn)))


def _index_params(k: int, bands: int, n: int, hash_fn: str) -> str:
    return f"k={k};bands={bands};n={n};hash={hash_fn}"


def incremental_neardup(
    new_docs: DataFrame,
    band_index: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
) -> DataFrame:
    """Incremental near-dup check: candidates between a NEW batch and the
    stored corpus :func:`build_band_index` — the production ingest shape.

    Per batch the work is |batch| signatures plus an equi-join of the
    batch's band keys against the index; the historical corpus is never
    re-signatured and never self-joined.  A batch-internal self-check
    (new×new) is included so duplicates arriving together are caught too.
    Returns distinct (new_id, match_id) — match_id from the index or an
    earlier id in the same batch.  Append the batch's band rows to the
    index afterwards to keep it current.

    INVARIANT: the probe's (k, bands, n, hash_fn) must equal the ones the
    index was built with — mismatched band keys never match and would
    read as "no duplicates".  Indexes from :func:`build_band_index` carry
    a ``params`` stamp; a mismatch raises ``ValueError`` here rather than
    returning an empty, plausible-looking result.  (An index without the
    stamp column — e.g. hand-built — skips the check.)"""
    if "params" in band_index.columns:
        expected = _index_params(k, bands, n, hash_fn)
        # one distinct over a metadata column of identical literals —
        # parquet dictionary-encodes it, so this probe is footer-cheap
        stored = [r[0] for r in band_index.select("params").distinct().limit(2).collect()]
        if stored and (len(stored) > 1 or stored[0] != expected):
            raise ValueError(
                f"band index params {stored} != probe params {expected!r}: "
                "rebuild the index or probe with the index's k/bands/n/hash_fn"
            )
    nb = build_band_index(new_docs, k, bands, n, text_col, id_col, hash_fn)
    probe = nb.select(F.col(id_col).alias("new_id"), "band", "band_key")
    vs_index = probe.join(
        band_index.select(F.col(id_col).alias("match_id"), "band", "band_key"),
        ["band", "band_key"],
    ).filter(F.col("new_id") != F.col("match_id"))
    within = probe.join(
        nb.select(F.col(id_col).alias("match_id"), "band", "band_key"),
        ["band", "band_key"],
    ).filter(F.col("match_id") < F.col("new_id"))
    return vs_index.unionByName(within).select("new_id", "match_id").distinct()


def lsh_jaccard_verified(
    df: DataFrame,
    k: int = 8,
    bands: int = 4,
    n: int = 3,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "md5",
    max_bucket: int = 2048,
) -> DataFrame:
    """The canonical two-stage near-dup pipeline at corpus scale:
    MinHash-banded-LSH candidate generation → EXACT Jaccard verify at
    ``threshold``, computed only on candidate pairs.

    Cost shape: linear signature build + within-bucket candidate pairs +
    a verify join proportional to |candidates|, never |docs|² — the
    composition to run when exact-threshold semantics are required but an
    uncapped shingle self-join cannot be afforded.

    r15: candidates come from the one-pass signature/bucket path
    (:func:`minhash_signatures` + :func:`_band_bucket_pairs`) instead of
    a band-table self-join that executed the signature pipeline twice —
    same distinct (doc_a < doc_b) candidate set, one document scan.
    ``hash_fn`` as in :func:`minhash_signatures` (it only shapes the
    candidate set; the exact verify is hash-agnostic); ``max_bucket``
    is the hot-bucket refusal threshold, parameterized here exactly as
    in :func:`minhash_lsh_pairs` (ADVICE r15) so callers with a
    legitimately hot corpus can raise it without editing library
    code."""
    sig = minhash_signatures(df, k, n, text_col, id_col, hash_fn)
    rows = band_rows(sig, k, bands, id_col)
    pair_expr = f"named_struct('doc_a', x.{id_col}, 'doc_b', y.{id_col})"
    cands = _band_bucket_pairs(rows, id_col, pair_expr, max_bucket).distinct()
    # r16 (guide §3.3): the verify stage consumes the shingle table three
    # ways (per-doc sizes, join a-side, join b-side) and re-planned the
    # tokenize+explode+distinct pipeline per reference (3 of this
    # pipeline's 5 document scans).  Materialize it once.  The explicit
    # fixed-width repartition by id pins the checkpoint's layout: AQE
    # would coalesce the distinct's exchange to ~1 partition at demo
    # scale (it sizes by input bytes), serializing the checkpoint build
    # and every consumer's map side; id-hashing also lets the per-doc
    # sizes aggregate reuse the partitioning (no exchange), and N =
    # spark.sql.shuffle.partitions is the operator-owned scale knob,
    # not a local constant.
    n_shuffle = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    sh = (
        shingle_table(df, text_col, id_col, n)
        .repartition(n_shuffle, id_col)
        .localCheckpoint(eager=False)
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    sa = sh.select(F.col(id_col).alias("doc_a"), "shingle")
    sb = sh.select(F.col(id_col).alias("doc_b"), "shingle")
    common = (
        cands.join(sa, "doc_a")
        .join(sb, ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    return (
        common.join(sizes.withColumnRenamed(id_col, "doc_a").withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed(id_col, "doc_b").withColumnRenamed("n_sh", "n_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(
    df: DataFrame, bits: int = 32, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """SimHash fingerprint as a ``bits``-length '0'/'1' string per doc.

    Per token: md5 hex; bit j of the token hash is extracted from hex
    digit j/4 (value via position in the hex alphabet — engine-portable,
    no integer-parse of hex needed).  Fingerprint bit j = sign of the
    ±1 sum over all tokens (term frequency included).  Near-duplicate
    docs get Hamming-close fingerprints.
    """
    tok = (
        df.select(F.col(id_col), tokens(F.col(text_col)).alias("toks"))
        .select(F.col(id_col), F.explode("toks").alias("tok"))
        .select(F.col(id_col), F.md5(F.col("tok")).alias("h"))
    )
    # weight exprs: ((instr('0123..f', substr(h, p, 1)) - 1) >> k) & 1, ±1
    sums = []
    for j in range(bits):
        p = j // 4 + 1  # 1-based hex char position
        kk = j % 4
        bit = (
            f"shiftright(instr('0123456789abcdef', substring(h, {p}, 1)) - 1, {kk}) & 1"
        )
        sums.append(F.sum(F.expr(f"({bit}) * 2 - 1")).alias(f"s{j}"))
    agg = tok.groupBy(id_col).agg(*sums)
    fp = F.concat(*[F.when(F.col(f"s{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(bits)])
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash_hamming_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    bands: int = 4,
    bits: int = 32,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """All ``id_a < id_b`` pairs whose SimHash fingerprints lie within
    ``max_hamming`` bits — the SEARCH side of :func:`simhash` (the
    fingerprint alone only helps if you can find its near neighbors
    without comparing every pair).

    Banded by pigeonhole: the fingerprint splits into ``bands`` equal
    substrings, and ``max_hamming`` differing bits can touch at most
    ``max_hamming`` bands — so any pair within the distance shares at
    least one band VERBATIM whenever ``bands > max_hamming`` (enforced;
    the candidate equi-join on (band index, band substring) is provably
    COMPLETE, brute-force-pinned in pytest and by the EXTRA oracle).
    Exact Hamming verify is a pure-codegen positional mismatch count
    (``aggregate`` over character positions — engine-portable, mirrored
    verbatim in DuckDB).  Candidates are bounded by per-band bucket
    density, never all-pairs — the same scale shape as the MinHash-LSH
    band join; hot buckets (constant-region fingerprints) follow the
    same max-df capping recipe if a corpus needs it."""
    if bands <= max_hamming:
        raise ValueError(
            f"simhash_hamming_pairs: bands={bands} must exceed "
            f"max_hamming={max_hamming} — pigeonhole completeness needs "
            "at least one untouched band"
        )
    if bits % bands:
        raise ValueError(f"bits={bits} not divisible by bands={bands}")
    blen = bits // bands
    fps = simhash(df, bits=bits, text_col=text_col, id_col=id_col)
    banded = fps.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(F.array(*[F.lit(b) for b in range(bands)])).alias("band"),
    ).select(
        id_col,
        "simhash",
        "band",
        F.expr(f"substring(simhash, band * {blen} + 1, {blen})").alias("bkey"),
    )
    a = banded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sh_a"),
        "band", "bkey",
    )
    b = banded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sh_b"),
        "band", "bkey",
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sh_a", "sh_b")
        .distinct()
    )
    hamming = F.expr(
        "aggregate(sequence(1, length(sh_a)), 0, (acc, i) -> "
        "acc + IF(substring(sh_a, i, 1) <> substring(sh_b, i, 1), 1, 0))"
    )
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (exact): all id<id pairs with
    cosine ≥ threshold.

    Exact-and-quadratic by design — at corpus scale run
    :func:`srp_signatures` bucketing first and use this as the verify
    stage on candidates (same shape as MinHash→Jaccard)."""
    from mini_project_204721_data_engineering_spark.llm.similarity import as_double, cosine

    a = emb.select(F.col(id_col).alias("id_a"), as_double(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("id_b"), as_double(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def duplicate_spans(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_gram_df: int | None = None,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact-substring duplication spans (the Lee et al. "Deduplicating
    Training Data" primitive): per document, the merged token spans
    whose ``k``-gram occurs MORE THAN ONCE in the corpus (any repeat —
    cross-document or within-document).  Returns
    ``(doc_id, span_start, span_end, n_tokens)`` with token-index spans
    ``[span_start, span_end)`` ready for trimming.

    Shape: tokenize → per-position k-grams (array math, no self-join) →
    one gram-count shuffle → re-join hot grams to positions → per-doc
    island merge (adjacent/overlapping spans collapse when consecutive
    hit positions are ≤ k apart — fixed-length spans make the island
    rule a lag diff).  Cost is one shuffle on the gram hash plus a
    per-doc window — linear in corpus tokens, the property that lets
    the real version run on full training sets.  ``max_gram_df`` caps
    pathological grams (boilerplate that appears everywhere) the same
    way the Jaccard path caps hot shingles — positions of a gram above
    the cap are STILL marked (they are duplicated text par excellence)
    but the cap bounds the join fan-out by sampling one exemplar count,
    so leave it None unless profiling shows a mega-gram.

    Shuffle compression: grams are ``xxhash64``-ed to 8-byte bigints
    BEFORE the count shuffle and the hot-gram join, so neither stage
    moves the ~50-100 B gram strings — **measured 2.7× fewer shuffle
    bytes** (88.8 vs 238.5 MB at 8.6M grams; LZ4 narrows the naive 8×)
    at the |tokens|-row positional-gram table, the traffic that
    dominates on a cluster where shuffle crosses the network.  (In
    local mode the hash CPU makes this path ~15-30% slower wall-clock —
    SCALE.md records both numbers.)  Output is position spans only, so
    the hash is invisible in results; a 64-bit collision falsely marks
    one position pair (birthday bound ~5e9 grams — the standard,
    accepted error of hashed exact-substring dedup à la Lee et al.;
    pass ``hash_grams=False`` for the collision-free audit path)."""
    toks = df.select(
        F.col(id_col),
        tokens(F.col(text_col)).alias("toks"),
    ).filter(F.size("toks") >= k)
    gram_str = f"concat_ws(' ', slice(toks, i + 1, {k}))"
    gram_expr = f"xxhash64({gram_str})" if hash_grams else gram_str
    grams = toks.select(
        id_col,
        F.posexplode(
            F.expr(f"transform(sequence(0, size(toks) - {k}), i -> {gram_expr})")
        ).alias("pos", "gram"),
    )
    counts = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("n"))
    hot = counts.filter(F.col("n") > 1)
    if max_gram_df is not None:
        hot = hot.filter(F.col("n") <= max_gram_df)
    marked = grams.join(hot.select("gram"), "gram").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    islands = (
        marked.withColumn("prev", F.lag("pos").over(w))
        .withColumn(
            "brk", F.when(F.col("prev").isNull() | (F.col("pos") - F.col("prev") > k), 1).otherwise(0)
        )
        .withColumn("island", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    )
    return (
        islands.groupBy(id_col, "island")
        .agg(F.min("pos").alias("span_start"), (F.max("pos") + k).alias("span_end"))
        .select(
            id_col,
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start")).alias("n_tokens"),
        )
    )


def trim_duplicate_spans(
    docs: DataFrame,
    spans: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply :func:`duplicate_spans`: remove every token inside a marked
    span and reassemble the text (the "trim" half of exact-substring
    dedup).  Docs without spans pass through byte-identical.  Pure
    codegen array expressions — the spans list per doc is small (merged
    islands), so the per-token ``exists`` probe is a tiny constant.

    Whitespace contract: a doc WITH at least one span is re-assembled
    from its token stream with single spaces, so newlines/tabs and
    repeated-space runs OUTSIDE the trimmed spans are normalized too —
    the same normalization ``duplicate_spans``' tokenizer already
    applied when matching, and the standard output shape of token-level
    exact-substring dedup (spans are token indices, not byte offsets).
    If byte fidelity outside spans matters, map spans back to character
    offsets against the original text and splice — at the cost of
    carrying the untokenized text through the join."""
    sp = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    kept_text = F.expr(
        "concat_ws(' ', transform("
        "  filter(transform(__toks, (t, i) -> struct(t AS t, i AS i)),"
        "         s -> NOT exists(__spans, p -> s.i >= p.span_start AND s.i < p.span_end)),"
        "  s -> s.t))"
    )
    return (
        docs.join(sp, id_col, "left")
        .withColumn("__toks", tokens(F.col(text_col)))
        .withColumn(
            text_col,
            F.when(F.col("__spans").isNull(), F.col(text_col)).otherwise(kept_text),
        )
        .drop("__spans", "__toks")
    )


def dup_clusters(
    pairs: DataFrame,
    id_a: str = "doc_a",
    id_b: str = "doc_b",
    max_iters: int = 25,
) -> DataFrame:
    """Connected components over near-dup PAIRS → (doc_id, cluster_id):
    the cluster-resolution step real corpus dedup needs — dropping the
    second element of every pair over-deletes when A~B and B~C but the
    A~C pair was never emitted (each doc of a transitive chain must map
    to ONE cluster, keep ONE representative).

    Min-label propagation: every vertex starts labeled with its own id;
    each round takes the min of its label and its neighbors' labels.
    Converges in O(cluster diameter) rounds — near-dup clusters are
    shallow (a chain of k edits has diameter k, and k is small by the
    similarity threshold), so this is a handful of self-terminating
    rounds, each one broadcast-free equi-join + min-agg.  Labels are
    ``localCheckpoint``-ed per round so the plan doesn't nest.  At 100 TB
    the pairs table is LSH output — already ∝ duplicates, not corpus² —
    and each round shuffles only (vertex, label) pairs.  cluster_id =
    min doc id of the component (deterministic on any layout).
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = edges.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    ).localCheckpoint(eager=True)
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.src == labels.id)
            .groupBy(F.col("dst").alias("id"))
            .agg(F.min("label").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, "id", "left")
            .select("id", F.least("label", F.coalesce("nmin", "label")).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"dup_clusters did not converge in {max_iters} rounds — "
            "pathologically deep component; raise max_iters"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def canonical_keep(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "doc_a",
    id_b: str = "doc_b",
) -> DataFrame:
    """Cluster-aware dedup: keep every doc not in any near-dup pair,
    plus ONE canonical representative (min id) per duplicate cluster —
    the delete set a production dedup actually applies."""
    clusters = dup_clusters(pairs, id_a, id_b)
    return (
        docs.join(clusters.withColumnRenamed("doc_id", id_col), id_col, "left")
        .filter(F.col("cluster_id").isNull() | (F.col(id_col) == F.col("cluster_id")))
        .drop("cluster_id")
    )


def cap_cells(
    cells: DataFrame,
    max_cell_size: int,
    vec_col: str = "embedding",
    cell_col: str = "cell",
    splits_df: DataFrame | None = None,
) -> DataFrame:
    """Hot-cell guard for cell-confined pairwise operators: any cell
    whose member count exceeds ``max_cell_size`` is split into
    ``ceil(count / max_cell_size)`` sub-cells by a hash of the VECTOR
    (``cell_col`` becomes a string ``"<cell>#<bucket>"``; unsplit cells
    keep ``"<cell>"``).  Hashing the vector — not the id — keeps the
    exact-duplicate guarantee: identical embeddings always share a
    sub-cell, so :func:`semantic_dedup` still drops them.  NEAR-dup
    pairs inside a split cell may land in different sub-cells — the
    same accepted recall trade quantization already makes at the cell
    boundary, here applied only where the alternative is a quadratic
    reducer (one 1e7-member hot cell is 1e14 pairs; capped at 1e5 it is
    ≤ 1e10 spread over 100 reducers).

    Cost: one cells-sized aggregate broadcast back — no extra shuffle
    of the corpus (the counts table is |cells| rows by construction).

    ``splits_df`` (``(cell, nsplit)``) FREEZES the split factors: the
    sub-cell then depends only on (cell, vector, nsplit), so two
    datasets capped with the same table land identical vectors in
    identical sub-cells — required on the incremental path, where the
    batch and the persisted index must agree (derive the table once
    from the seed corpus: ``cells.groupBy("cell").count()`` →
    ``ceil(count / max_cell_size)``).  Without it, factors derive from
    THIS dataframe's counts — correct for one-shot dedup only."""
    from mini_project_204721_data_engineering_spark.llm.similarity import as_double

    if splits_df is not None:
        splits = splits_df.select(
            cell_col, F.col("nsplit").cast("long").alias("__nsplit")
        )
    else:
        splits = (
            cells.groupBy(cell_col)
            .agg(F.count(F.lit(1)).alias("__cnt"))
            .select(
                cell_col,
                F.ceil(F.col("__cnt") / F.lit(max_cell_size)).cast("long").alias(
                    "__nsplit"
                ),
            )
        )
    bucket = F.pmod(F.xxhash64(as_double(vec_col)), F.col("__nsplit"))
    return (
        cells.join(F.broadcast(splits), cell_col, "left")
        .withColumn(
            cell_col,
            F.when(
                F.coalesce(F.col("__nsplit"), F.lit(1)) > 1,
                F.concat(
                    F.col(cell_col).cast("string"), F.lit("#"), bucket.cast("string")
                ),
            ).otherwise(F.col(cell_col).cast("string")),
        )
        .drop("__nsplit")
    )


def semantic_dedup(
    corpus: DataFrame,
    threshold: float = 0.40,
    ncells: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
    cells_df: DataFrame | None = None,
    max_cell_size: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space with a coarse
    quantizer, compute pairwise cosine only WITHIN each cluster, and
    drop every vector that is ``>= threshold``-similar to a lower-id
    vector in its cluster.  Returns the surviving corpus rows with
    their ``cell`` assignment attached.

    Keep rule: deterministic min-id — a vector is dropped iff some
    lower-id vector in the SAME cell is cosine-similar at or above the
    threshold (the paper keeps the member least similar to the
    centroid; min-id gives identical dedup power, is total-ordered,
    and is engine-portable so the whole operator is oracle-checkable
    in ANSI SQL).  Like the paper, cross-cluster near-dups are the
    accepted recall trade: quantization makes the O(n²) pairwise step
    O(sum of cell² ) ≈ n²/ncells for balanced cells.

    Scale shape: assignment is a shuffle-free codegen projection
    (:func:`~..similarity.assign_cells` inlines the driver-sized
    centroid matrix as literals); the pairwise step is an equi-join on
    ``cell`` — the corpus is never self-crossed.  Provision
    ``ncells ~ n / target_cell_size`` (the paper uses ~11k clusters at
    LAION scale); a skewed hot cell is the failure mode to watch —
    pass ``max_cell_size`` to cap-and-subcluster it (:func:`cap_cells`:
    over-full cells split by a vector hash, bounding any reducer's
    pairwise work at ~``max_cell_size²`` while identical vectors still
    share a sub-cell; the ``cell`` column becomes a string when the
    guard is on) rather than letting one reducer take a quadratic
    cell.  By default the quantizer is
    :func:`~..similarity.seeded_centroids` (deterministic, oracle-able);
    pass ``centroids`` from ``kmeans_assign`` when cluster quality
    matters more than engine portability, or ``cells_df`` (the corpus
    WITH a precomputed ``cell`` column — e.g. from
    :func:`~..similarity.assign_cells_two_level`, the linear-assignment
    path beyond ~1e7 vectors) to skip assignment entirely."""
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        as_double,
        assign_cells,
        cosine,
        seeded_centroids,
    )

    if cells_df is not None:
        cells = cells_df
    else:
        cents = (
            centroids
            if centroids is not None
            else seeded_centroids(corpus, ncells=ncells, id_col=id_col, vec_col=vec_col)
        )
        cells = assign_cells(corpus, cents, id_col=id_col, vec_col=vec_col)
    if max_cell_size is not None:
        cells = cap_cells(cells, max_cell_size, vec_col=vec_col)
    a = cells.select(F.col(id_col).alias("__id_a"), "cell", as_double(vec_col).alias("va"))
    b = cells.select(F.col(id_col).alias("__id_b"), "cell", as_double(vec_col).alias("vb"))
    dropped = (
        a.join(b, "cell")
        .filter(F.col("__id_b") < F.col("__id_a"))
        .filter(F.round(cosine("va", "vb"), 6) >= threshold)
        .select(F.col("__id_a").alias(id_col))
        .distinct()
    )
    return cells.join(dropped, id_col, "left_anti")


def srp_banded_pairs(
    emb: DataFrame,
    threshold: float = 0.45,
    n_bits: int = 32,
    bands: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
    expected_n: int | None = None,
) -> DataFrame:
    """Embedding near-dup pairs via SRP-LSH bucketing — the scale path:
    signature bands bucket candidates (equi-join on the band key, the
    corpus is NEVER self-crossed), then candidates are verified with the
    exact cosine at ``threshold``.

    Banding trade (standard LSH OR-amplification): a pair is a candidate
    iff ANY of ``bands`` bands of ``n_bits/bands`` sign bits agree.  Bits
    per band sets bucket selectivity (P[random collision] = 2^-bits/band
    per band); band count sets recall (P[candidate] = 1-(1-p^bits)^bands,
    p = 1 - angle/pi).  The 8×4 default favors recall at demo thresholds;
    at production near-dup thresholds (cos >= 0.8) use >= 6 bits/band,
    where buckets are sharply selective.  Pairs whose every band differs
    are not emitted — that's the LSH recall trade, made explicit here
    rather than hidden behind an exact all-pairs crossJoin that cannot
    run at corpus scale.

    Provisioning guard (SCALE.md, measured): random-collision candidate
    volume is ~bands * n^2 / 2^(bits/band) — super-linear (effectively
    quadratic) once bits/band < log2(bands * n / 2).  The r5 probes
    measured exactly this: 4-bit bands went 12.6x for 5x vectors at n=1e6
    while 24-bit bands stayed linear.  Pass ``expected_n`` (the rough
    corpus vector count) and this function warns loudly when the chosen
    geometry is below the measured rule, instead of silently melting."""
    from mini_project_204721_data_engineering_spark.llm.similarity import as_double, cosine

    if n_bits % bands:
        raise ValueError(f"n_bits={n_bits} not divisible by bands={bands}")
    bpb = n_bits // bands
    if expected_n is not None and expected_n > 1:
        need = math.log2(bands * expected_n / 2)
        if bpb < need:
            import warnings

            warnings.warn(
                f"srp_banded_pairs: {bpb} bits/band with bands={bands} at "
                f"n~{expected_n:.0e} is below the measured provisioning rule "
                f"bits/band >= log2(bands*n/2) = {need:.1f}; random-collision "
                f"candidates go super-linear (SCALE.md r5: 12.6x work for 5x "
                f"vectors at 4 bits/band, n=1e6). Raise n_bits (e.g. "
                f"n_bits={bands * math.ceil(need)}, bands={bands}).",
                RuntimeWarning,
                stacklevel=2,
            )
    sigs = srp_signatures(emb, n_bits=n_bits, id_col=id_col, vec_col=vec_col, dim=dim, seed=seed)
    bt = (
        sigs.select(
            F.col(id_col),
            "srp_sig",
            F.explode(F.array(*[F.lit(b) for b in range(bands)])).alias("band"),
        )
        .select(
            F.col(id_col),
            "band",
            F.expr(f"substring(srp_sig, band * {bpb} + 1, {bpb})").alias("bkey"),
        )
    )
    a = bt.select(F.col(id_col).alias("id_a"), "band", "bkey")
    b = bt.select(F.col(id_col).alias("id_b"), "band", "bkey")
    cands = (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    va = emb.select(F.col(id_col).alias("id_a"), as_double(vec_col).alias("va"))
    vb = emb.select(F.col(id_col).alias("id_b"), as_double(vec_col).alias("vb"))
    return (
        cands.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(cosine("va", "vb"), 6).alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def srp_planes(n_bits: int = 32, dim: int = 64, seed: int = 7):
    """The deterministic ±1 hyperplane matrix shared by the Spark
    signature expression and the DuckDB oracle mirror."""
    import numpy as np

    rng = np.random.RandomState(seed)
    return rng.choice([-1.0, 1.0], size=(n_bits, dim))


def srp_signatures(
    emb: DataFrame,
    n_bits: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 7,
) -> DataFrame:
    """Signed-random-projection (hyperplane) LSH signature per vector —
    the scale path for embedding near-dup: group by signature prefix to
    bucket candidates (P[bit match] = 1 - angle/pi).

    Hyperplanes are deterministic pseudo-random ±1 vectors derived from
    a seeded hash (retry-safe, reproducible across runs/engines)."""
    planes = srp_planes(n_bits=n_bits, dim=dim, seed=seed)
    planes_lit = F.array(
        *[F.array(*[F.lit(float(v)) for v in row]) for row in planes]
    )
    from mini_project_204721_data_engineering_spark.llm.similarity import as_double

    v = emb.select(F.col(id_col), as_double(vec_col).alias("v"), planes_lit.alias("planes"))
    sig = F.expr(
        "concat_ws('', transform(planes, p -> "
        "CASE WHEN aggregate(zip_with(v, p, (x, y) -> x * y), cast(0 AS double), (a, b) -> a + b) > 0 "
        "THEN '1' ELSE '0' END))"
    )
    return v.select(F.col(id_col), sig.alias("srp_sig"))
