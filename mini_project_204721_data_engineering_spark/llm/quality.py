"""Corpus-quality operators a training-data pipeline runs between raw
crawl and tokenization: repetition metrics (Gopher-style), benchmark
decontamination, token-window chunking, vocabulary induction, and
sequence packing (PII scrubbing lives with the other pure Column
expressions in :mod:`..llm.text`).

The reference has no corpus surface at all — these extend the engine per
the LLM-pipeline brief, alongside the dedup family in :mod:`.dedup`.

Scale shapes
------------
- :func:`repetition_stats`: per-document array expressions (no shuffle)
  plus one explode → (doc, bigram) count → per-doc argmax.  Both
  aggregations are map-side combinable; cost is linear in corpus tokens.
- :func:`contaminated_docs`: the benchmark side of the gram join is
  DISTINCT'd and **broadcast** — benchmark suites are small by nature
  (thousands of docs), so at 100 TB the corpus side streams through a
  map-side hash join; the only corpus-wide shuffle is the per-doc hit
  count, which is partial-aggregated.  Per-doc gram dedup happens with
  ``array_distinct`` BEFORE the explode, so no corpus-scale distinct
  shuffle exists anywhere in the plan (plan-asserted in
  tests/test_plans.py).
- :func:`chunk_text`: pure array math per doc, zero shuffle.
- :func:`build_vocab`: only the distinct-word table is sorted.
- :func:`pack_sequences`: keyed window prefix-sum, one shuffle,
  parallel across strata (plan-asserted never single-partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.llm.text import shingles, tokens

__all__ = [
    "repetition_stats",
    "contaminated_docs",
    "pack_sequences",
    "build_vocab",
    "chunk_text",
    "unigram_lm",
    "bigram_lm",
    "doc_bigram_logprob",
    "length_outliers",
    "doc_logprob",
    "tfidf_topk",
]


def repetition_stats(
    docs: DataFrame,
    top_bigram_flag: float = 0.18,
    distinct_flag: float = 0.2,
) -> DataFrame:
    """Per-document repetition metrics in the Gopher-rule family
    (Rae et al. 2021, "Scaling Language Models: ... Gopher", table A1):

    - ``distinct_frac``: distinct tokens / total tokens (type-token
      ratio) — a pure array expression, rounded portably to 4 dp;
    - ``top_bigram`` / ``top_bigram_n`` / ``top_bigram_frac``: the most
      frequent word bigram and the fraction of the document's bigrams it
      accounts for (tie-broken to the lexicographically greatest bigram,
      deterministic on both engines);
    - ``repetitive``: the filter verdict —
      ``top_bigram_frac > top_bigram_flag OR distinct_frac < distinct_flag``.

    Documents with fewer than two tokens have no bigram and are excluded
    (same as the DuckDB oracle's empty ``unnest``).
    """
    base = docs.select("doc_id", tokens(F.col("text")).alias("toks")).select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        (F.size(F.array_distinct("toks")) / F.size("toks")).alias("distinct_frac"),
        shingles("toks", 2).alias("bgs"),
    )
    bg = base.select(
        "doc_id", "n_tokens", "distinct_frac", F.explode("bgs").alias("bigram")
    )
    counts = bg.groupBy("doc_id", "n_tokens", "distinct_frac", "bigram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    top = counts.groupBy("doc_id", "n_tokens", "distinct_frac").agg(
        F.max(F.struct(F.col("cnt"), F.col("bigram"))).alias("top"),
        F.sum("cnt").alias("n_bigrams"),
    )
    frac = F.col("top.cnt") / F.col("n_bigrams")
    return top.select(
        "doc_id",
        "n_tokens",
        # single divisions are bit-identical cross-engine; only the ROUNDED
        # copy needs portable_round semantics (round(x*1e4)/1e4 mirrored)
        (F.round(F.col("distinct_frac") * 10000.0) / 10000.0).alias("distinct_frac"),
        F.col("top.bigram").alias("top_bigram"),
        F.col("top.cnt").alias("top_bigram_n"),
        frac.alias("top_bigram_frac"),
        (
            (frac > F.lit(top_bigram_flag))
            | (F.col("distinct_frac") < F.lit(distinct_flag))
        ).alias("repetitive"),
    )


def semantic_contaminated(
    corpus: DataFrame,
    benchmark: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-space decontamination — the semantic counterpart to the
    n-gram sweep above: corpus vectors within ``threshold`` cosine of
    ANY benchmark vector (paraphrased eval leakage that shares no
    13-gram).  Returns ``(vec_id, max_cos, n_hits)`` for flagged
    vectors only.

    Scale shape: the benchmark side BROADCASTS (eval sets are small by
    nature) and the corpus streams through one scan — same posture as
    ``contaminated_docs``; only flagged ids reach the (map-side
    combined) aggregate.  A benchmark beyond broadcast routes through
    the IVF cells of ``llm/similarity.ivf_topk`` instead, trading the
    guarantee for nprobe recall (same trade the ANN family documents).
    """
    from mini_project_204721_data_engineering_spark.llm.similarity import as_double, cosine

    if not 0 < threshold <= 1:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    c = corpus.select(F.col(id_col).alias("vec_id"), as_double(vec_col).alias("v"))
    b = benchmark.select(as_double(vec_col).alias("bv"))
    # threshold on the ROUNDED similarity: two engines' float folds can
    # differ by an ulp, and a vector straddling the raw threshold inside
    # that noise must land on the same side everywhere (the same
    # round-before-compare discipline as the sparse-cosine oracles)
    sim = F.round(cosine("v", "bv"), 6)
    return (
        c.crossJoin(F.broadcast(b))
        .select("vec_id", sim.alias("__s"))
        .filter(F.col("__s") >= threshold)
        .groupBy("vec_id")
        .agg(
            F.max("__s").alias("max_cos"),
            F.count(F.lit(1)).alias("n_hits"),
        )
    )


def contaminated_docs(
    docs: DataFrame, benchmark: DataFrame, n: int = 8,
    bloom_fpp: float | None = None,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing at least one
    word ``n``-gram with any benchmark document, with the count of
    distinct shared grams — the standard eval-leakage sweep (the GPT-3
    paper's 13-gram dedup, Brown et al. 2020 §4; n is a parameter here
    because the synthetic corpus' docs are short).

    Both inputs need ``doc_id`` and ``text``.  Returns
    ``(doc_id, n_shared_grams)`` for contaminated corpus docs only.

    ``bloom_fpp=None`` (default): the benchmark gram set is DISTINCT'd
    and broadcast — right whenever the eval suite fits an executor.
    ``bloom_fpp=0.01``-style: the scale path for a benchmark set whose
    raw gram strings outgrow broadcast — a SPLIT-BLOCK Bloom filter
    (the parquet SBBF idea: one 64-bit word per block, 8 bits set per
    gram from its second hash) is built as a tiny (word_idx, bits)
    DataFrame via ``bit_or`` aggregation — pure codegen, nothing ever
    collected to the driver — and broadcast-joined against the corpus
    gram stream on the 8-byte word index as a pre-filter.  The bloom
    table is n_bits/8 bytes (~25-50× smaller than the gram strings it
    stands for), so broadcastability extends by that factor; only the
    ~fpp-sized survivor set reaches the exact verify join, which then
    runs as an ordinary shuffle join.  Output is IDENTICAL either way —
    the bloom only prunes, the exact join decides."""
    def grams(df: DataFrame) -> DataFrame:
        # array_distinct BEFORE explode = per-doc gram dedup with no shuffle
        return df.select(
            "doc_id", tokens(F.col("text")).alias("toks")
        ).select("doc_id", F.explode(F.array_distinct(shingles("toks", n))).alias("g"))

    bench_grams = grams(benchmark).select("g").distinct()
    if bloom_fpp is None:
        return (
            grams(docs)
            .join(F.broadcast(bench_grams), "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_shared_grams"))
        )
    from mini_project_204721_data_engineering_spark.operators.bloom import bloom_filter, build_bloom

    # the generalized split-block Bloom operator (operators/bloom.py);
    # the construction commentary lives there
    bloom = build_bloom(bench_grams, ["g"], fpp=bloom_fpp)
    candidates = bloom_filter(grams(docs), bloom, ["g"]).select("doc_id", "g")
    return (
        candidates.join(bench_grams, "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_shared_grams"))
    )


def chunk_text(docs: DataFrame, window: int = 64, overlap: int = 16) -> DataFrame:
    """Overlapping token-window chunking — the retrieval/embedding prep
    step (each chunk embeds separately; overlap preserves cross-boundary
    context).  Chunk starts stride by ``window − overlap``; the last
    chunk may be short.

    All array expressions (``sequence`` → ``transform`` → ``slice``)
    until one explode — per-document work, embarrassingly parallel, no
    shuffle at any corpus size.  Returns
    (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    if not 0 <= overlap < window:
        raise ValueError("need 0 <= overlap < window")
    stride = window - overlap
    # starts stop once a chunk would carry no NEW token (a start within
    # `overlap` of the end is a pure suffix of the previous window —
    # caught by the reconstruction property test)
    chunks = F.expr(
        f"transform(sequence(0, greatest(size(toks) - {overlap} - 1, 0), {stride}), "
        f"s -> struct(cast(s / {stride} as int) as chunk_idx, "
        f"slice(toks, s + 1, {window}) as chunk))"
    )
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .select("doc_id", F.explode(chunks).alias("c"))
        .select(
            "doc_id",
            F.col("c.chunk_idx").alias("chunk_idx"),
            F.size("c.chunk").alias("n_tokens"),
            F.concat_ws(" ", F.col("c.chunk")).alias("chunk_text"),
        )
    )


def _ranked_token_counts(counts: DataFrame, rank_partitions: int) -> DataFrame:
    """Phase 1 of the two-phase rank: range-partition on the unique sort
    key and row_number WITHIN each range bucket — a keyed window, never
    a partition-less (single-partition) one.  Split out so tests can
    assert the pre-checkpoint plan shape."""
    from pyspark.sql.window import Window

    sort_cols = [F.col("n_occurrences").desc(), F.col("token").asc()]
    ranged = counts.repartitionByRange(rank_partitions, *sort_cols).withColumn(
        "__pid", F.spark_partition_id()
    )
    w = Window.partitionBy("__pid").orderBy(*sort_cols)
    return ranged.withColumn("__lrank", F.row_number().over(w))


def build_vocab(
    docs: DataFrame, top_n: int = 1000, rank_partitions: int = 32
) -> DataFrame:
    """Vocabulary induction: corpus word counts → the ``top_n`` words
    with contiguous ids (0-based, by count desc then word asc — the
    deterministic tie-break a reproducible tokenizer needs).

    One explode → map-side-combined count → TWO-PHASE rank of the
    distinct-word table: range-partition on the sort key, per-partition
    ``row_number`` (a keyed window over ``rank_partitions`` range
    buckets — NO single-partition global window), then add each range
    bucket's cumulative offset, looked up from a broadcast literal map.
    The sort key (count desc, token asc) is UNIQUE, so bucket boundaries
    never split ties and the two-phase rank is exactly the global rank.
    A 100 TB corpus has 10⁷-10⁸ distinct tokens; a single-partition sort
    of that table is a real straggler — this shape sorts each range
    bucket in parallel.  The per-bucket row counts are collected to the
    driver to build the offsets — ``rank_partitions`` rows by contract,
    never data-sized.  The ranked table is ``localCheckpoint``-ed so the
    offset job and the id assignment see the SAME partition layout
    (range boundaries are sampled; two independent recomputations could
    legally disagree).  Returns (token, n_occurrences, token_id)."""
    from pyspark.sql.window import Window

    counts = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    local = _ranked_token_counts(counts, rank_partitions).localCheckpoint(eager=True)
    sizes = {
        r["__pid"]: r["__n"]
        for r in local.groupBy("__pid").agg(F.count(F.lit(1)).alias("__n")).collect()
    }
    if not sizes:
        return local.select(
            "token", "n_occurrences", F.lit(0).cast("int").alias("token_id")
        )
    off_items: list = []
    acc = 0
    for pid in sorted(sizes):  # range partition order == global sort order
        off_items += [F.lit(pid), F.lit(acc)]
        acc += sizes[pid]
    off_map = F.create_map(*off_items)
    return (
        local.withColumn(
            "token_id",
            (F.col("__lrank") - 1 + off_map[F.col("__pid")]).cast("int"),
        )
        .filter(F.col("token_id") < top_n)
        .select("token", "n_occurrences", "token_id")
    )


def pack_sequences(
    docs: DataFrame, window_tokens: int, strata: str = "lang"
) -> DataFrame:
    """Sequence packing: assign documents to fixed-token training bins.

    Next-fit packing in deterministic ``doc_id`` order WITHIN each
    stratum: running token total → ``bin_id = (cum − n_tokens) div
    window_tokens`` (a doc starting inside bin b belongs to b; a doc
    straddling a boundary overflows its bin rather than splitting —
    the standard cheap packer; loss is bounded by max_doc/window).

    The window is PARTITIONED by ``strata`` — per-stratum packing is
    what training mixtures want anyway, and it keeps the prefix-sum a
    keyed window (one shuffle, parallel across strata) instead of a
    single-partition global sort that would serialize at 100 TB.
    Returns (strata, doc_id, n_tokens, bin_id, bin_offset).
    """
    from mini_project_204721_data_engineering_spark.llm.text import token_count
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(strata)
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = docs.select(strata, "doc_id", token_count(F.col("text")).alias("n_tokens"))
    cum = base.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    return cum.select(
        strata,
        "doc_id",
        "n_tokens",
        (start / window_tokens).cast("long").alias("bin_id"),
        (start % window_tokens).cast("long").alias("bin_offset"),
    )


def unigram_lm(
    ref_docs: DataFrame, text_col: str = "text", alpha: float = 0.5
) -> tuple[DataFrame, float]:
    """Add-alpha-smoothed unigram language model from an in-domain
    reference corpus → ((token, logp) table, OOV floor logprob).

    The CCNet-style quality filter shape: train a cheap LM on trusted
    in-domain text, score candidate documents by mean token
    log-probability, keep the head of the distribution.  The LM table
    is VOCAB-sized (broadcastable at any corpus size); ``alpha``
    reserves unseen-token mass so the floor is a proper probability,
    not an arbitrary penalty.  One aggregate row (total count + vocab
    size) reaches the driver to close the formula — dimension-sized by
    contract."""
    import math

    counts = (
        ref_docs.select(F.explode(tokens(F.col(text_col))).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    tot = counts.agg(
        F.sum("c").alias("total"), F.count(F.lit(1)).alias("vocab")
    ).collect()[0]
    if tot["total"] is None:
        raise ValueError("unigram_lm: reference corpus has no tokens")
    denom = float(tot["total"]) + alpha * (float(tot["vocab"]) + 1.0)
    lm = counts.select(
        "token", F.log((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("logp")
    )
    return lm, math.log(alpha / denom)


def doc_logprob(
    docs: DataFrame,
    lm: DataFrame,
    floor: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document mean token log-probability under a unigram LM:
    explode tokens, broadcast-join the vocab-sized LM (OOV → the
    smoothed floor), one per-doc aggregate.  Returns (id, n_tokens,
    sum_logp, mean_logp) — filter on ``mean_logp`` to keep in-domain
    documents (higher = closer to the reference corpus).

    ``broadcast_lm=False`` falls back to a shuffle hash join for LMs
    whose vocabulary outgrows executor memory (≳1e8 tokens ≈ several
    GB); a practical middle ground is truncating the LM to the top-k
    tokens first — tail tokens sit near the floor anyway."""
    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("token")
    ).filter(F.col("token") != "")
    lm_side = F.broadcast(lm) if broadcast_lm else lm
    scored = toks.join(lm_side, "token", "left").select(
        id_col, F.coalesce(F.col("logp"), F.lit(floor)).alias("logp")
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.sum("logp").alias("sum_logp"),
        (F.sum("logp") / F.count(F.lit(1))).alias("mean_logp"),
    )


def length_outliers(
    docs: DataFrame,
    group_col: str = "source",
    z: float = 3.0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-group length-outlier gate: flag documents whose token count
    sits more than ``z`` population standard deviations from their
    group's mean — the cheap tail-trim (truncated pages, concatenation
    accidents, boilerplate floods) a corpus pass runs per source, since
    length distributions differ wildly across sources.

    One grouped aggregate (map-side combinable, groups-sized result)
    broadcast back onto the corpus — no window over the corpus, so no
    corpus-wide sort/shuffle beyond the tiny stats join.  Degenerate
    groups (a single doc, or zero variance) have stddev 0 and flag
    nothing.  Returns (id, group, n_tokens, z_score, is_outlier)."""
    from mini_project_204721_data_engineering_spark.llm.text import token_count

    base = docs.select(
        F.col(id_col),
        F.col(group_col).alias("grp"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    stats = base.groupBy("grp").agg(
        F.avg("n_tokens").alias("__mu"),
        F.stddev_pop("n_tokens").alias("__sigma"),
    )
    return (
        base.join(F.broadcast(stats), "grp")
        .select(
            id_col,
            F.col("grp").alias(group_col),
            "n_tokens",
            F.when(F.col("__sigma") == 0.0, F.lit(0.0))
            .otherwise((F.col("n_tokens") - F.col("__mu")) / F.col("__sigma"))
            .alias("z_score"),
        )
        .withColumn("is_outlier", F.abs(F.col("z_score")) > z)
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 4,
    persist_tf: bool = False,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document — the classic keyword /
    document-signature extractor (smoothed idf: ``ln((N+1)/(df+1))+1``,
    so a term in every document still scores positive and the log never
    sees zero).  Returns ``(id, term, tf, score, rank)`` with the
    deterministic (score desc, term asc) tie-break.

    Scale shape: explode → (doc, term) count and the vocab-sized
    document-frequency aggregate are both map-side combinable; idf
    joins back on ``term`` (one keyed shuffle — the df table is
    vocab-sized, NOT broadcast: web-scale vocabularies exceed broadcast
    limits); N is a broadcast 1-row aggregate (no driver collect); the
    ranking window partitions by document, so per-reducer work is one
    document's vocabulary.  No global sort, no corpus-sized window.
    The (doc, term) count table feeds both the score join and the
    document-frequency aggregate — ``persist_tf=True`` caches that
    stage (MEMORY_AND_DISK) so both branches share ONE tokenize+count
    pass, the mandatory setting at corpus scale where the double scan
    is two full passes over 100 TB of text; the default False skips the
    cache at demo scale where the double scan is cheaper.  The cache
    belongs to this plan only — call ``.unpersist()`` on the returned
    frame's ``tf`` lineage via ``spark.catalog.clearCache()`` or let it
    age out; it is tf-table-sized (doc×term counts), not corpus-sized.
    ``ln`` is bit-identical across engines (libm); scores round
    portably (``round(x·10^dp)/10^dp``) at the output edge only."""
    from pyspark.sql.window import Window

    from mini_project_204721_data_engineering_spark.functions.parity import portable_round

    toks = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    if persist_tf:
        from pyspark import StorageLevel

        tf = tf.persist(StorageLevel.MEMORY_AND_DISK)
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).cast("double").alias("__n"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "score",
            portable_round("tf * (ln((__n + 1.0D) / (df + 1.0D)) + 1.0D)", round_dp),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "score", "rank")
    )


def _pair_expr(text_col: str, bos: str) -> str:
    """Codegen expression: BOS-prepended token array → array of
    (prev, token) structs — the shared tokenization of the bigram LM
    trainer and scorer (no window, no per-row Python).

    An empty/whitespace-only document tokenizes to just the BOS token,
    making ``sequence(1, size-1)`` = ``sequence(1, 0)`` — which Spark
    evaluates as the DESCENDING ``[1, 0]`` (out-of-bounds indexing:
    ANSI crash / phantom null pairs).  Guarded to an empty pair array,
    matching the SQL oracle which emits zero pairs for such docs."""
    toks = (
        f"concat(array('{bos}'), "
        f"filter(split(trim({text_col}), '\\\\s+'), x -> x != ''))"
    )
    pair_t = "array<struct<prev:string,token:string>>"
    return (
        f"CASE WHEN size({toks}) <= 1 THEN cast(array() as {pair_t}) "
        f"ELSE transform(sequence(1, size({toks}) - 1), "
        f"i -> named_struct('prev', {toks}[i - 1], 'token', {toks}[i])) END"
    )


def bigram_lm(
    ref_docs: DataFrame,
    text_col: str = "text",
    alpha: float = 0.5,
    bos: str = "<s>",
) -> tuple[DataFrame, DataFrame, float]:
    """Add-alpha bigram language model from an in-domain reference
    corpus — the context-sensitive upgrade of :func:`unigram_lm`
    (a unigram LM scores word-salad as fluently as prose; bigrams see
    word ORDER, the thing quality filtering actually wants).

    ``p(w | h) = (c(h,w) + α) / (c(h) + α·(V+1))`` with per-history
    normalization; returns ``(bigram_table(prev, token, logp),
    history_floor(prev, floor_lp), global_floor)`` — an unseen (h, w)
    with a SEEN history backs off to that history's smoothed floor,
    an unseen history to the global ``ln(1/(V+1))``.  Both tables are
    vocab-sized (broadcastable); one 1-row aggregate (V) reaches the
    driver to close the formula.  Documents are BOS-prepended so the
    first real token is conditioned too."""
    import math

    pairs = (
        ref_docs.select(F.explode(F.expr(_pair_expr(text_col, bos))).alias("p"))
        .select(F.col("p.prev").alias("prev"), F.col("p.token").alias("token"))
    )
    counts = pairs.groupBy("prev", "token").agg(F.count(F.lit(1)).alias("c"))
    vrow = counts.select("token").distinct().agg(F.count(F.lit(1))).collect()
    v = float(vrow[0][0])
    if v == 0:
        raise ValueError("bigram_lm: reference corpus has no tokens")
    hist = counts.groupBy("prev").agg(F.sum("c").alias("ch"))
    denom = F.col("ch") + F.lit(alpha) * F.lit(v + 1.0)
    bi = counts.join(hist, "prev").select(
        "prev", "token", F.log((F.col("c") + F.lit(alpha)) / denom).alias("logp")
    )
    floors = hist.select(
        "prev", F.log(F.lit(alpha) / denom).alias("floor_lp")
    )
    return bi, floors, math.log(1.0 / (v + 1.0))


def doc_bigram_logprob(
    docs: DataFrame,
    bi: DataFrame,
    floors: DataFrame,
    global_floor: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    bos: str = "<s>",
    broadcast_lm: bool = True,
) -> DataFrame:
    """Per-document mean bigram log-probability: explode (prev, token)
    pairs, join the vocab-sized bigram table (miss → the history's
    smoothed floor → the global floor), one per-doc aggregate.
    Returns (id, n_bigrams, sum_logp, mean_logp); ``exp(-mean_logp)``
    is the document perplexity.  Same broadcast/shuffle switch as
    :func:`doc_logprob`."""
    prs = docs.select(
        F.col(id_col), F.explode(F.expr(_pair_expr(text_col, bos))).alias("p")
    ).select(id_col, F.col("p.prev").alias("prev"), F.col("p.token").alias("token"))
    b = (F.broadcast(bi), F.broadcast(floors)) if broadcast_lm else (bi, floors)
    scored = (
        prs.join(b[0], ["prev", "token"], "left")
        .join(b[1], "prev", "left")
        .select(
            id_col,
            F.coalesce(
                F.col("logp"), F.col("floor_lp"), F.lit(global_floor)
            ).alias("lp"),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp").alias("sum_logp"),
        (F.sum("lp") / F.count(F.lit(1))).alias("mean_logp"),
    )
