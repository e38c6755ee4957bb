"""Embedding similarity search over an ``array<float>`` column.

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small)
  query side, score every corpus vector with a codegen'd array-fold
  (``aggregate``/``zip_with`` — JVM-side, no Python), distributed top-k
  via ``row_number`` over per-query windows.  Exact; linear per query —
  the right baseline and the verify stage for ANN.
- :func:`kmeans_assign` — distributed Lloyd's k-means coarse quantizer
  producing the IVF cell assignment (only the ncells×dim centroid matrix
  touches the driver).
- :func:`ivf_topk` — IVF scale path: per-cell centroids are ranked per
  query and only the top ``nprobe`` cells are scanned.  Search cost drops
  by ~ncells/nprobe at a small recall cost; ``nprobe == ncells``
  degenerates to the exact result (asserted in tests/test_llm.py).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "as_double",
    "cosine",
    "cosine_topk",
    "ivf_topk",
    "kmeans_assign",
    "seeded_centroids",
    "assign_cells",
    "assign_cells_bcast",
    "seeded_two_level",
    "assign_cells_two_level",
]


def as_double(col: str) -> Column:
    """array<float> → array<double> (score in double for parity/stability)."""
    return F.expr(f"transform({col}, x -> cast(x AS double))")


def cosine(a: str, b: str) -> Column:
    """Cosine similarity of two array<double> columns (by name) as a single
    codegen'd expression: sequential folds, no UDF, no explode.

    Zero-norm guard (ADVICE r2): a zero vector yields -1.0 — exactly what
    DuckDB's ``list_cosine_similarity`` returns for degenerate inputs —
    instead of a NULL that would make downstream argmax/top-k ordering
    engine-dependent.  Non-degenerate vectors take the plain division
    path, bit-identical to before."""
    dot = F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), cast(0 AS double), (acc, v) -> acc + v)"
    )
    na = F.sqrt(F.expr(f"aggregate({a}, cast(0 AS double), (acc, v) -> acc + v * v)"))
    nb = F.sqrt(F.expr(f"aggregate({b}, cast(0 AS double), (acc, v) -> acc + v * v)"))
    denom = na * nb
    return F.when(denom == 0.0, F.lit(-1.0)).otherwise(dot / denom)


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int | None = 6,
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the ``k``
    nearest corpus vectors (self-matches excluded).

    Output: (query_id, vec_id, cos_sim, rank).  Ranking uses the rounded
    similarity with the corpus id as tiebreaker so ordering is total and
    engine-independent.
    """
    c = corpus.select(
        F.col(id_col).alias("vec_id"), as_double(vec_col).alias("v")
    )
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv")
    )
    sim = cosine("qv", "v")
    if round_dp is not None:
        sim = F.round(sim, round_dp)
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", sim.alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def seeded_centroids(
    corpus: DataFrame,
    ncells: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic coarse quantizer: the ``ncells`` lowest-id vectors ARE
    the centroids (cell id = seed's vec id, no Lloyd iterations).  Unlike
    k-means this is closed-form — reproducible across engines, so the IVF
    cell assignment and nprobe routing become ANSI-SQL-expressible and the
    whole ANN query is oracle-checkable.  Centroid quality is data-order
    dependent; use :func:`kmeans_assign` when recall matters more than
    engine-portable determinism."""
    return (
        corpus.orderBy(F.col(id_col).asc())
        .limit(ncells)
        .select(F.col(id_col).alias("cell"), as_double(vec_col).alias("cv"))
    )


def assign_cells(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Attach a ``cell`` column: argmax cosine against the centroid set,
    similarity rounded to ``round_dp`` with the cell id as tiebreaker so
    the assignment is total-ordered and engine-portable.

    SHUFFLE-FREE: the argmax over ncells centroids is row-local, so the
    centroid matrix (ncells×dim — always driver-sized, the same contract
    as k-means) is inlined as literals and the whole assignment is one
    codegen'd projection: ``array_max`` over (sim, -cell, cell) structs.
    No crossJoin, no window, no exchange — at 100 TB the corpus is only
    ever SCANNED for assignment."""
    cents = sorted(
        ((r["cell"], list(r["cv"])) for r in centroids.collect()), key=lambda t: t[0]
    )
    vexpr = f"transform({vec_col}, x -> cast(x AS double))"
    nv = f"sqrt(aggregate({vexpr}, cast(0 AS double), (a, v) -> a + v * v))"
    entries = []
    for cell, cv in cents:
        lit = "array(" + ", ".join(f"{v!r}D" for v in cv) + ")"
        dot = (
            f"aggregate(zip_with({vexpr}, {lit}, (x, y) -> x * y), "
            "cast(0 AS double), (a, v) -> a + v)"
        )
        ncv = math.sqrt(sum(v * v for v in cv))
        # zero-norm guard, mirroring DuckDB list_cosine_similarity's -1.0
        # on degenerate vectors (ADVICE r2) — a zero corpus vector ties
        # every centroid at -1 and the nc tiebreaker deterministically
        # picks the lowest cell, identically in both engines
        if ncv == 0.0:
            sim = "-1.0D"
        else:
            sim = (
                f"round(CASE WHEN {nv} = 0.0D THEN -1.0D "
                f"ELSE {dot} / ({nv} * {ncv!r}D) END, {round_dp})"
            )
        entries.append(
            f"named_struct('s', {sim}, 'nc', {-cell}, 'cell', {cell})"
        )
    best = f"array_max(array({', '.join(entries)})).cell"
    return corpus.withColumn("cell", F.expr(best))


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "label",
    centroids: DataFrame | None = None,
    route_round_dp: int | None = None,
) -> DataFrame:
    """Approximate top-k scanning only the ``nprobe`` most promising cells.

    By default cell centroids are computed per dimension with posexplode +
    groupBy (distributed; never collected); pass ``centroids`` (cell, cv)
    to route against a fixed quantizer instead (see
    :func:`seeded_centroids`).  A query is routed to the cells whose
    centroid it is most cosine-similar to (rounded to ``route_round_dp``
    when set, for engine-portable tie behavior), then scored exactly
    within those cells only — the IVF trade: recall for a ~ncells/nprobe
    scan cut.
    """
    if centroids is None:
        dims = (
            corpus.select(F.col(cell_col).alias("cell"), F.posexplode(as_double(vec_col)).alias("pos", "x"))
            .groupBy("cell", "pos")
            .agg(F.avg("x").alias("cx"))
        )
        centroids = (
            dims.groupBy("cell")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
            .select("cell", F.expr("transform(pc, s -> s.cx)").alias("cv"))
        )
    q = queries.select(F.col(id_col).alias("query_id"), as_double(vec_col).alias("qv"))
    route_sim = cosine("qv", "cv")
    if route_round_dp is not None:
        route_sim = F.round(route_sim, route_round_dp)
    route_w = Window.partitionBy("query_id").orderBy(
        F.col("cell_sim").desc(), F.col("cell").asc()
    )
    routed = (
        q.crossJoin(F.broadcast(centroids))
        .select("query_id", "qv", "cell", route_sim.alias("cell_sim"))
        .withColumn("cell_rank", F.row_number().over(route_w))
        .filter(F.col("cell_rank") <= nprobe)
        .select("query_id", "qv", "cell")
    )
    c = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(cell_col).alias("cell"),
        as_double(vec_col).alias("v"),
    )
    scored = (
        c.join(routed, "cell")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", F.round(cosine("qv", "v"), 6).alias("cos_sim"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos_sim", "rank")
    )


def _norm_expr(col: str) -> str:
    return f"sqrt(aggregate({col}, cast(0 AS double), (a, x) -> a + x * x))"


def _nested_centroids(centroids: DataFrame) -> DataFrame:
    """(cell, cv) → one row holding array<struct(cell, cv, n)> with the
    centroid norms precomputed (so the per-row argmax never re-folds a
    centroid's norm)."""
    return (
        centroids.select("cell", "cv", F.expr(_norm_expr("cv")).alias("n"))
        .agg(F.array_sort(F.collect_list(F.struct("cell", "cv", "n"))).alias("__cents"))
    )


def _argmax_cell(round_dp: int) -> str:
    """Argmax-cosine over the joined ``__cents`` array against the row's
    ``__v``/``__nv`` — the same (sim desc, cell asc) total order as
    :func:`assign_cells`, as one codegen expression."""
    dot = (
        "aggregate(zip_with(__v, c.cv, (x, y) -> x * y), "
        "cast(0 AS double), (a, b) -> a + b)"
    )
    sim = (
        f"CASE WHEN __nv = 0D OR c.n = 0D THEN -1.0D "
        f"ELSE round({dot} / (__nv * c.n), {round_dp}) END"
    )
    return (
        f"array_max(transform(__cents, c -> "
        f"named_struct('s', {sim}, 'nc', -c.cell, 'cell', c.cell))).cell"
    )


def assign_cells_bcast(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
    cell_col: str = "cell",
) -> DataFrame:
    """:func:`assign_cells` without literal inlining: the centroid table
    is collapsed to ONE nested row and broadcast, and the argmax runs
    over the array column — so ncells scales to 10⁴+ without blowing up
    the generated code (the literal path materializes every centroid in
    the expression tree).  Identical assignment to :func:`assign_cells`
    (same rounding, same (sim desc, cell asc) tiebreak — asserted in
    tests/test_llm.py); still shuffle-free: a broadcast of one nested
    row plus a per-row fold of ncells·dim multiplies."""
    c2 = corpus.withColumn("__v", as_double(vec_col)).withColumn(
        "__nv", F.expr(_norm_expr("__v"))
    )
    joined = c2.crossJoin(F.broadcast(_nested_centroids(centroids)))
    return (
        joined.withColumn(cell_col, F.expr(_argmax_cell(round_dp)))
        .drop("__v", "__nv", "__cents")
    )


def seeded_two_level(
    corpus: DataFrame,
    k1: int = 8,
    k2: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> tuple[DataFrame, DataFrame]:
    """Deterministic two-level quantizer seeds: the k1 lowest-id vectors
    are the SUPER centroids; within each super cell the k2 lowest-id
    members are its SUB centroids.  Returns (supers(cell, cv),
    subs(super_cell, cell, cv)) for :func:`assign_cells_two_level`.

    Precondition: ``id_col`` is unique in ``corpus``.  The winning seed
    vectors are fetched back by an id join, so an id carried by several
    rows emits one sub-centroid per row, all with the same cell id.

    Cost note (r16, guide §8 — decide with small rows): sub-seed
    selection windows over ``(id, super)`` PROXY rows only — the
    min-id-per-super decision never needs the vectors, so the keyed
    shuffle carries ~16 bytes/row instead of the full embedding — and
    the ≤ k1·k2 winning seed vectors are fetched back with a broadcast
    semi-join against the corpus (no shuffle of the corpus).  A
    one-time seeding cost, not per-query.  At extreme corpus sizes,
    seed from a deterministic hash-sampled slice instead — seeds only
    need to span the distribution."""
    supers = seeded_centroids(corpus, ncells=k1, id_col=id_col, vec_col=vec_col)
    s1 = assign_cells_bcast(corpus, supers, id_col, vec_col, cell_col="__super")
    w = Window.partitionBy("__super").orderBy(F.col(id_col).asc())
    sub_ids = (
        s1.select(id_col, "__super")
        .withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k2)
        .select(F.col("__super").alias("super_cell"), F.col(id_col).alias("__sid"))
    )
    subs = corpus.join(
        F.broadcast(sub_ids), F.col(id_col) == F.col("__sid")
    ).select(
        "super_cell",
        F.col(id_col).alias("cell"),
        as_double(vec_col).alias("cv"),
    )
    return supers, subs


def assign_cells_two_level(
    corpus: DataFrame,
    supers: DataFrame,
    subs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Two-level (IMI-style) cell assignment — the linear scale path
    SCALE.md derives for semantic dedup beyond ~1e7 vectors: route each
    vector to its super cell (n·k1 dot products), then argmax only that
    super's k2 sub-centroids (n·k2) — n·(k1+k2) total instead of the
    flat quantizer's n·(k1·k2) for the same effective cell count.  The
    ``cell`` ids are the sub-centroid ids (globally unique: they are
    vector ids); identical vectors always land in the same cell, so the
    dedup guarantee of :func:`~..dedup.semantic_dedup` is preserved.
    Both routing steps are broadcast joins + codegen argmax — no
    shuffle, no literal blowup.

    A vector routed to a super cell with NO sub-centroids (possible on
    the incremental path: new vectors arriving after seeding can land
    in a super the seed corpus never populated) falls back to the super
    cell id itself rather than being dropped — the super seed's own
    sub-cell shares that id, so such vectors pool with the super seed's
    neighborhood, which only ADDS comparisons (dedup stays sound)."""
    s1 = assign_cells_bcast(corpus, supers, id_col, vec_col, cell_col="__super")
    nested = (
        subs.select(
            "super_cell", "cell", "cv", F.expr(_norm_expr("cv")).alias("n")
        )
        .groupBy("super_cell")
        .agg(F.array_sort(F.collect_list(F.struct("cell", "cv", "n"))).alias("__cents"))
    )
    c2 = s1.withColumn("__v", as_double(vec_col)).withColumn(
        "__nv", F.expr(_norm_expr("__v"))
    )
    joined = c2.join(
        F.broadcast(nested), c2["__super"] == nested["super_cell"], "left"
    )
    return (
        joined.withColumn(
            "cell",
            F.coalesce(F.expr(_argmax_cell(round_dp)), F.col("__super")),
        )
        .drop("__v", "__nv", "__cents", "__super", "super_cell")
    )


def kmeans_assign(
    corpus: DataFrame,
    ncells: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Distributed Lloyd's k-means over the embedding column → corpus with
    a ``cell`` assignment (the real IVF coarse quantizer; replaces any
    label stand-in).

    Scale shape per iteration: assignment is a broadcast cross join against
    the ncells centroids (argmax cosine via one keyed window), the centroid
    update is posexplode + groupBy — both fully distributed.  Only the
    ncells×dim centroid matrix ever reaches the driver (same contract as
    Spark MLlib's KMeans).  Deterministic: seeds are the ``ncells`` lowest
    ids, ties broken by id everywhere.

    The (id, vector) projection is persisted for the duration of the loop
    — without it iteration *i* re-reads the source AND replays the i−1
    prior assignment plans, tripling the scan cost of a 3-iter fit at
    100 TB (MLlib caches at the same point).  The final assignment is
    ``localCheckpoint``-ed (ids+cells only — small) so the returned
    DataFrame's lineage is severed from the loop and the cache can be
    released before returning.
    """
    c = (
        corpus.select(F.col(id_col).alias("__id"), as_double(vec_col).alias("v"))
        .persist()
    )
    try:
        seeds = c.orderBy("__id").limit(ncells).collect()  # materializes the cache
        centroids = [list(r["v"]) for r in seeds]
        spark = corpus.sparkSession
        assigned = None
        for _ in range(max(1, iters)):
            cent_df = spark.createDataFrame(
                [(i, vec) for i, vec in enumerate(centroids)], ["cell", "cv"]
            ).select("cell", F.expr("transform(cv, x -> cast(x AS double))").alias("cv"))
            assigned = _assign_to_centroids(c, cent_df)
            new_cent = (
                assigned.select("cell", F.posexplode("v").alias("pos", "x"))
                .groupBy("cell", "pos")
                .agg(F.avg("x").alias("cx"))
                .groupBy("cell")
                .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
                .select("cell", F.expr("transform(pc, s -> s.cx)").alias("cv"))
                .collect()
            )
            for r in new_cent:  # empty cells keep their previous centroid
                centroids[r["cell"]] = list(r["cv"])
        final = assigned.select("__id", "cell").localCheckpoint(eager=True)
    finally:
        c.unpersist()
    return corpus.join(final.withColumnRenamed("__id", id_col), id_col)


def _assign_to_centroids(c: DataFrame, cent_df: DataFrame) -> DataFrame:
    """One Lloyd assignment step: nearest (max-cosine) centroid per row.
    ``c`` is the persisted (__id, v) projection; ``cent_df`` the tiny
    (cell, cv) centroid table — broadcast, so the step is shuffle-free up
    to the per-id argmax window."""
    w = Window.partitionBy("__id").orderBy(F.col("sim").desc(), F.col("cell").asc())
    return (
        c.crossJoin(F.broadcast(cent_df))
        .select("__id", "v", "cell", cosine("v", "cv").alias("sim"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("__id", "v", "cell")
    )
