"""LLM-pipeline operator corpus: dedup, similarity, text analysis,
multimodal metadata — each with a DuckDB oracle where SQL-expressible.

All hashing is md5-based so Spark and DuckDB produce identical values;
single-division ratios need no rounding (identical IEEE ops), aggregated
floats are rounded on both sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mini_project_204721_data_engineering_spark.catalog import load_table
from mini_project_204721_data_engineering_spark.llm.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    shingle_table,
    simhash,
)
from mini_project_204721_data_engineering_spark.llm.similarity import cosine_topk, ivf_topk
from mini_project_204721_data_engineering_spark.llm.text import (
    STOPWORDS,
    SUBWORD_PATTERN,
    lang_id,
    quality_score,
    stopword_ratio,
    subword_count,
    token_count,
)

__all__ = ["QUERIES", "ORACLES"]

# shared DuckDB CTE: distinct (doc_id, shingle) pairs, 3-gram
_DUCK_SHINGLES = r"""
toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents
), sh AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, greatest(len(t) - 1, 1)),
                               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS shingle
  FROM toks
)"""


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: content-hash groupBy (linear, one shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs)


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash,
       min(doc_id) AS keeper_id,
       count(*) AS n_copies
FROM documents
GROUP BY md5(text)
"""


#: hot-shingle guard for the shipped Jaccard query: shingles appearing in
#: more than this many docs are dropped before the self-join (prefix-filter
#: style) — without it one stopword-like shingle across a large corpus
#: explodes the candidate join quadratically.  Mirrored in the oracle.
JACCARD_MAX_SHINGLE_DF = 25


def ngram_jaccard_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs at threshold 0.8 with the
    hot-shingle cap ACTIVE (llm/dedup.py::ngram_jaccard_pairs
    ``max_shingle_df`` — the guard that keeps the shingle self-join
    linear-ish at corpus scale); the oracle mirrors the same drop."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.8, max_shingle_df=JACCARD_MAX_SHINGLE_DF)


NGRAM_JACCARD_DUPS_SQL = f"""
WITH {_DUCK_SHINGLES},
hot AS (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) > {JACCARD_MAX_SHINGLE_DF}),
shc AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM shc GROUP BY doc_id),
common AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
  FROM shc a JOIN shc b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       n_common * 1.0 / (x.n_sh + y.n_sh - n_common) AS jaccard
FROM common
JOIN sizes x ON doc_a = x.doc_id
JOIN sizes y ON doc_b = y.doc_id
WHERE n_common * 1.0 / (x.n_sh + y.n_sh - n_common) >= 0.8
"""


def minhash_lsh_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(k=8) + 4-band LSH candidates with estimated similarity.

    r16: ``hash_fn="md5_bigint"`` — the same md5, min-ed as its 60-bit
    hex-prefix BIGINT (order-isomorphic to the string min; see
    llm/dedup.py::minhash_signatures), which turns the signature
    aggregation from SortAggregate into HashAggregate.  The oracle
    mirrors the truncation bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, k=8, bands=4, threshold=0.5, hash_fn="md5_bigint")


MINHASH_LSH_DUPS_SQL = f"""
WITH {_DUCK_SHINGLES},
mh AS (
  SELECT doc_id, seed,
         min(CAST(concat('0x', substr(md5(seed::VARCHAR || '|' || shingle), 1, 15)) AS BIGINT)) AS minhash
  FROM sh CROSS JOIN (SELECT * FROM range(8) t(seed))
  GROUP BY doc_id, seed
),
band AS (
  SELECT doc_id, CAST(seed // 2 AS INT) AS band,
         string_agg(lpad(seed::VARCHAR, 2, '0') || ':' || minhash::VARCHAR, '|'
                    ORDER BY lpad(seed::VARCHAR, 2, '0') || ':' || minhash::VARCHAR) AS band_key
  FROM mh GROUP BY 1, 2
),
cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band a JOIN band b
    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / 8.0 AS est_jaccard
FROM cands
JOIN mh ma ON ma.doc_id = doc_a
JOIN mh mb ON mb.doc_id = doc_b AND mb.seed = ma.seed
GROUP BY doc_a, doc_b
HAVING sum(CASE WHEN ma.minhash = mb.minhash THEN 1 ELSE 0 END) / 8.0 >= 0.5
"""


def simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprint per document ('0'/'1' string)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash(docs, bits=32)


def _simhash_duck_sql(bits: int = 32) -> str:
    sums, cases = [], []
    for j in range(bits):
        p = j // 4 + 1
        k = j % 4
        d = f"(instr('0123456789abcdef', substring(h, {p}, 1)) - 1)"
        sums.append(f"sum((({d} >> {k}) & 1) * 2 - 1) AS s{j}")
        cases.append(f"CASE WHEN s{j} > 0 THEN '1' ELSE '0' END")
    return rf"""
WITH tok AS (
  SELECT doc_id, md5(unnest(regexp_split_to_array(trim(text), '\s+'))) AS h
  FROM documents
),
agg AS (SELECT doc_id, {', '.join(sums)} FROM tok GROUP BY doc_id)
SELECT doc_id, {' || '.join(cases)} AS simhash FROM agg
"""


def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing-style fingerprint: the 3 smallest shingle hashes, joined.
    Two docs sharing a fingerprint are near-certain duplicates; grouping
    by it is a linear-cost near-dup bucketing."""
    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_table(docs)
    h = sh.select("doc_id", F.md5("shingle").alias("h"))
    w = Window.partitionBy("doc_id").orderBy("h")
    return (
        h.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .groupBy("doc_id")
        .agg(F.concat_ws("|", F.array_sort(F.collect_list("h"))).alias("fingerprint"))
    )


DOC_FINGERPRINT_SQL = f"""
WITH {_DUCK_SHINGLES},
h AS (SELECT doc_id, md5(shingle) AS h FROM sh),
r AS (SELECT doc_id, h,
             row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
      FROM h)
SELECT doc_id, string_agg(h, '|' ORDER BY h) AS fingerprint
FROM r WHERE rn <= 3 GROUP BY doc_id
"""


def token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc text analysis: whitespace token count, BPE-ish subword
    count (GPT-2-style pre-tokenizer segments), stopword ratio, quality
    score, charclass language ID."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        subword_count(F.col("text")).alias("n_subwords"),
        F.round(stopword_ratio(F.col("text")), 4).alias("sw_ratio"),
        F.round(quality_score(F.col("text")), 4).alias("quality"),
        lang_id(F.col("text")).alias("lang_guess"),
    )


_SW = ", ".join(f"'{w}'" for w in STOPWORDS)
_SUBWORD_SQL = SUBWORD_PATTERN.replace("'", "''")
TOKEN_STATS_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, text,
         len(toks) AS n_tokens,
         len(regexp_extract_all(text, '{_SUBWORD_SQL}')) AS n_subwords,
         len(list_filter(toks, x -> x IN ({_SW}))) * 1.0 / len(toks) AS swr
  FROM t
)
SELECT doc_id,
       CAST(n_tokens AS INT) AS n_tokens,
       CAST(n_subwords AS INT) AS n_subwords,
       round(swr, 4) AS sw_ratio,
       round(least(1.0, n_tokens / 100.0) * 0.5 + (1.0 - swr) * 0.5, 4) AS quality,
       CASE WHEN length(text) = 0 THEN 'unknown'
            WHEN len(regexp_extract_all(text, '[฀-๿]')) > length(text) * 0.3 THEN 'th'
            WHEN len(regexp_extract_all(text, '[一-鿿]')) > length(text) * 0.3 THEN 'zh'
            WHEN len(regexp_extract_all(text, '[A-Za-z]')) > length(text) * 0.5 THEN 'latin'
            ELSE 'unknown' END AS lang_guess
FROM m
"""


def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 for every 100th vector as query."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    return cosine_topk(emb, qs, k=10)


SIMILARITY_TOPK_SQL = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id % 100 = 0
), c AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), scored AS (
  SELECT query_id, vec_id,
         round(list_cosine_similarity(qv, v), 6) AS cos_sim
  FROM c CROSS JOIN q
  WHERE vec_id <> query_id
), r AS (
  SELECT *, CAST(row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rank FROM r WHERE rank <= 10
"""


def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-10, nprobe=2 of 4 cells — a REAL approximate query with
    a full value oracle: the coarse quantizer is deterministic
    (seeded_centroids: the 4 lowest-id vectors are the centroids), so the
    cell assignment, the nprobe routing, and the within-cell exact scoring
    are all ANSI-SQL-expressible and DuckDB verifies the ANN result
    value-for-value.  The k-means quantizer variant (distributed Lloyd's)
    stays pytest-proven in tests/test_llm.py, incl. nprobe=ncells ≡ exact."""
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells,
        seeded_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    cents = seeded_centroids(emb, ncells=4)
    cells = assign_cells(emb, cents)
    qs = cells.filter(F.col("vec_id") % 100 == 0)
    return ivf_topk(
        cells, qs, k=10, nprobe=2, cell_col="cell", centroids=cents, route_round_dp=6
    )


SIMILARITY_IVF_SQL = """
WITH corpus AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), centroids AS (
  SELECT vec_id AS cell, v AS cv FROM corpus ORDER BY vec_id LIMIT 4
), assigned AS (
  SELECT vec_id, cell FROM (
    SELECT c.vec_id, ct.cell,
           row_number() OVER (
             PARTITION BY c.vec_id
             ORDER BY round(list_cosine_similarity(c.v, ct.cv), 6) DESC,
                      ct.cell ASC) AS rn
    FROM corpus c CROSS JOIN centroids ct
  ) WHERE rn = 1
), routed AS (
  SELECT query_id, cell FROM (
    SELECT q.vec_id AS query_id, ct.cell,
           row_number() OVER (
             PARTITION BY q.vec_id
             ORDER BY round(list_cosine_similarity(q.v, ct.cv), 6) DESC,
                      ct.cell ASC) AS rn
    FROM corpus q CROSS JOIN centroids ct
    WHERE q.vec_id % 100 = 0
  ) WHERE rn <= 2
), scored AS (
  SELECT r.query_id, a.vec_id,
         round(list_cosine_similarity(qc.v, c.v), 6) AS cos_sim
  FROM routed r
  JOIN assigned a ON a.cell = r.cell
  JOIN corpus c ON c.vec_id = a.vec_id
  JOIN corpus qc ON qc.vec_id = r.query_id
  WHERE a.vec_id <> r.query_id
), ranked AS (
  SELECT query_id, vec_id, cos_sim,
         CAST(row_number() OVER (
           PARTITION BY query_id ORDER BY cos_sim DESC, vec_id ASC) AS INT) AS rank
  FROM scored
)
SELECT query_id, vec_id, cos_sim, rank FROM ranked WHERE rank <= 10
"""


def embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, SRP-LSH-bucketed (the scale path):
    band-key equi-join candidates → exact cosine verify — no corpus×corpus
    crossJoin anywhere in the plan (asserted in tests/test_plans.py).  The
    DuckDB oracle mirrors the same hyperplanes/banding, so the LSH result
    is value-checked, not just the exact fallback
    (llm/dedup.py::embedding_neardup_pairs keeps the exact all-pairs form
    for small corpora)."""
    from mini_project_204721_data_engineering_spark.llm.dedup import srp_banded_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return srp_banded_pairs(emb, threshold=0.45, n_bits=32, bands=8)


def _srp_neardup_duck_sql(
    threshold: float = 0.45, n_bits: int = 32, bands: int = 8, dim: int = 64, seed: int = 7
) -> str:
    """DuckDB mirror of srp_banded_pairs: identical hyperplanes (same
    seeded generator), identical band keys, identical verify stage."""
    from mini_project_204721_data_engineering_spark.llm.dedup import srp_planes

    planes = srp_planes(n_bits=n_bits, dim=dim, seed=seed)
    plit = ", ".join(
        "[" + ",".join(f"{v:.1f}" for v in row) + "]::DOUBLE[]" for row in planes
    )
    bits = " || ".join(
        f"(CASE WHEN list_dot_product(v, p[{i + 1}]) > 0 THEN '1' ELSE '0' END)"
        for i in range(n_bits)
    )
    bpb = n_bits // bands
    band_sel = " UNION ALL ".join(
        f"SELECT vec_id, {b} AS band, substring(sig, {b * bpb + 1}, {bpb}) AS bkey FROM sig"
        for b in range(bands)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v, [{plit}] AS p FROM embeddings),
sig AS (SELECT vec_id, {bits} AS sig FROM e),
bandtab AS ({band_sel}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bandtab a JOIN bandtab b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, round(list_cosine_similarity(x.v, y.v), 6) AS cos_sim
FROM cand
JOIN e x ON x.vec_id = id_a
JOIN e y ON y.vec_id = id_b
WHERE round(list_cosine_similarity(x.v, y.v), 6) >= {threshold}
"""


EMBEDDING_NEARDUP_SQL = _srp_neardup_duck_sql(threshold=0.45, n_bits=32, bands=8)


def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text→binary payload with typed metadata and
    chunk count (the frame-sampling shape), all engine-side."""
    docs = load_table(spark, sf_dir, "documents")
    payload = F.encode(F.col("text"), "UTF-8")
    return docs.select(
        "doc_id",
        F.length(payload).alias("byte_len"),
        F.md5(payload).alias("content_hash"),
        F.ceil(F.length(payload) / F.lit(256.0)).cast("int").alias("n_chunks"),
    )


MULTIMODAL_META_SQL = """
SELECT doc_id,
       CAST(octet_length(encode(text)) AS INT) AS byte_len,
       md5(text) AS content_hash,
       CAST(ceil(octet_length(encode(text)) / 256.0) AS INT) AS n_chunks
FROM documents
"""


def corpus_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed training-data pipeline, end-to-end in one plan:
    quality-score → gate (>= 0.5) → exact dedup (md5) → per-language
    corpus stats.  Everything stays in whole-stage codegen.

    r15 optimization (guide §2.3/§4.4), result-identical by construction:

    - The gate used to be a Filter on a column the Project also computed;
      predicate pushdown duplicated the whole-token-split expression tree
      below the filter, so every row paid the ``split(trim(text))`` regex
      ~5× (filter ~3 + project ~2).  The gate projection now carries a
      ``+ rand(42) * 0.0`` term — numerically exact zero (0·x = +0.0 for
      rand's finite non-negative output, q + 0.0 == q), but the
      non-determinism pins the projection: the filter consumes the
      materialized column, codegen subexpression elimination shares ONE
      split per row, and md5/lang regexes run only on gate survivors.
    - Rows sharing content_hash share the full text, so every carried
      column is group-constant: dedup is a plain ``distinct`` on
      (hash, n_tokens, q, lang_code) — pure HashAggregate (the previous
      ``min(struct(...))`` fell back to SortAggregate, a full map-side
      sort).  The language label travels as a TINYINT code through both
      aggregates and is decoded at |groups| rows.

    Shuffles (3, unchanged): dedup distinct, language rollup, final
    4-row orderBy.  At 100 TB the dedup shuffle is the only wide stage
    and still map-side-combines to one row per hash per partition."""
    from mini_project_204721_data_engineering_spark.llm.text import (
        lang_from_code,
        lang_id_code,
        quality_score,
        token_count,
    )

    docs = load_table(spark, sf_dir, "documents")
    gate = docs.select(
        "text",
        token_count(F.col("text")).alias("n_tokens"),
        (quality_score(F.col("text")) + F.rand(42) * F.lit(0.0)).alias("q"),
    ).filter(F.col("q") >= 0.5)
    kept = gate.select(
        F.md5("text").alias("content_hash"),
        "n_tokens",
        "q",
        lang_id_code(F.col("text")).alias("lang_code"),
    ).distinct()
    return (
        kept.groupBy("lang_code")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            # long cast: DuckDB widens integer sums to HUGEINT (r1 hash mismatch)
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(F.avg("q"), 4).alias("avg_quality"),
        )
        .select(
            lang_from_code(F.col("lang_code")).alias("lang_guess"),
            "n_docs",
            "total_tokens",
            "avg_quality",
        )
        .orderBy("lang_guess")
    )


CORPUS_PREP_SQL = rf"""
WITH t AS (
  SELECT doc_id, text, md5(text) AS content_hash,
         regexp_split_to_array(trim(text), '\s+') AS toks
  FROM documents
), m AS (
  SELECT doc_id, text, content_hash,
         len(toks) AS n_tokens,
         least(1.0, len(toks) / 100.0) * 0.5
           + (1.0 - len(list_filter(toks, x -> x IN ({_SW}))) * 1.0 / len(toks)) * 0.5 AS q
  FROM t
), gated AS (
  SELECT *,
         CASE WHEN length(text) = 0 THEN 'unknown'
              WHEN len(regexp_extract_all(text, '[฀-๿]')) > length(text) * 0.3 THEN 'th'
              WHEN len(regexp_extract_all(text, '[一-鿿]')) > length(text) * 0.3 THEN 'zh'
              WHEN len(regexp_extract_all(text, '[A-Za-z]')) > length(text) * 0.5 THEN 'latin'
              ELSE 'unknown' END AS lang_guess,
         row_number() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
  FROM m WHERE q >= 0.5
)
SELECT lang_guess,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       round(avg(q), 4) AS avg_quality
FROM gated WHERE rn = 1
GROUP BY lang_guess
ORDER BY lang_guess
"""


QUERIES = {
    "dedup_exact": dedup_exact,
    "corpus_prep": corpus_prep,
    "ngram_jaccard_dups": ngram_jaccard_dups,
    "minhash_lsh_dups": minhash_lsh_dups,
    "simhash_fingerprints": simhash_fingerprints,
    "doc_fingerprint": doc_fingerprint,
    "token_stats": token_stats,
    "similarity_topk": similarity_topk,
    "similarity_ivf": similarity_ivf,
    "embedding_neardup": embedding_neardup,
    "multimodal_meta": multimodal_meta,
}


ORACLES = {
    "dedup_exact": DEDUP_EXACT_SQL,
    "corpus_prep": CORPUS_PREP_SQL,
    "ngram_jaccard_dups": NGRAM_JACCARD_DUPS_SQL,
    "minhash_lsh_dups": MINHASH_LSH_DUPS_SQL,
    "simhash_fingerprints": _simhash_duck_sql(32),
    "doc_fingerprint": DOC_FINGERPRINT_SQL,
    "token_stats": TOKEN_STATS_SQL,
    "similarity_topk": SIMILARITY_TOPK_SQL,
    "similarity_ivf": SIMILARITY_IVF_SQL,
    "embedding_neardup": EMBEDDING_NEARDUP_SQL,
    "multimodal_meta": MULTIMODAL_META_SQL,
}
