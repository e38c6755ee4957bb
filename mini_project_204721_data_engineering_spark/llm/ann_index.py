"""ANN index as a MAINTAINED snapshot table — IVF-PQ that rides ingest.

:func:`~.pq.ivfpq_build` rebuilds codebooks+postings per call; at corpus
scale the index must persist and follow appends.  Here the index IS a
lakehouse object:

- ``<index_dir>/postings`` — a snapshot table ``(id, cell, codes)``
  with ``stats_cols=["cell", id]`` (cell-range file pruning for
  probes, id-range pruning for takedown refreshes;
  ``snapshot_compact(zorder_by=["cell"])`` is the layout-maintenance
  pass that makes the cell pruning sharp after many append eras);
- ``<index_dir>/model.json`` — the FROZEN quantizer: coarse centroids +
  PQ codebooks + geometry, written once at :func:`ann_index_create`
  (training data = the corpus at creation; an index whose corpus has
  drifted far from the training distribution should be re-created —
  the FAISS operational contract).

Incremental maintenance is EXACTLY-ONCE by construction: the refresh
tails the source snapshot table with the incremental cursor
(:func:`~..sources.snapshots.snapshot_incremental_read`) and lands the
encoded postings through :func:`~..sources.snapshots.snapshot_txn_append`
with the SOURCE VERSION as the batch id — the cursor lives in the
postings table's own txn watermark, so a crashed or replayed refresh
can never double-encode a window (the Delta txn appId/version idea,
already race-pinned in the snapshot suite).

Because the quantizer is frozen and encoding is deterministic
(:func:`ann_encode`: rounded-cosine argmax cell with id tiebreak,
argmin-by-index PQ codes), the postings after ANY sequence of
incremental refreshes are IDENTICAL to a from-scratch encode of the
whole corpus under the same model — pytest-pinned, and the property
that makes staleness the ONLY recall variable.  That identity now
includes TAKEDOWNS (r15): a source window containing deletes (CoW,
predicate-lazy, or deletion-vector), merges, or replaces refreshes
through the file-confined row delta — tombstoned ids leave the
postings, changed ids re-encode — in one atomic commit, so the
incremental index equals a re-created one after any op mix and a
compliance removal propagates at rewritten-file cost instead of a
full rebuild.

Staleness-bounded search: :func:`ann_index_search` answers from the
index (probed ADC + exact rerank) and, with ``fresh=True``, UNIONS an
exact brute-force pass over just the NOT-YET-INDEXED tail (incremental
window behind the source tip) — so recall never degrades below the
indexed-corpus recall no matter how stale the index is, at tail-sized
extra cost.  :func:`ann_index_info` prices that decision
(``lag_versions``/``lag_rows``)."""

from __future__ import annotations

import json
import os
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_project_204721_data_engineering_spark.sources.snapshots import (
    _AlreadyApplied,
    _canon_file,
    _commit,
    _compose_stats,
    _filtered_read,
    _list_versions,
    _prune_files,
    _read_manifest,
    _rewrite_guard,
    _write_data_files,
    read_snapshot,
    snapshot_file_changes,
    snapshot_incremental_read,
    snapshot_txn_append,
)

__all__ = [
    "ann_index_create",
    "ann_index_refresh",
    "ann_index_search",
    "ann_index_info",
    "ann_encode",
]

_APP_ID = "ann-index"


def _postings_dir(index_dir: str) -> str:
    return os.path.join(str(index_dir), "postings")


def _model_path(index_dir: str) -> str:
    return os.path.join(str(index_dir), "model.json")


def _load_model(index_dir: str) -> dict:
    with open(_model_path(index_dir), "rb") as f:
        return json.loads(f.read().decode("utf-8"))


def ann_encode(
    df: DataFrame,
    model: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors under a FROZEN model → ``(id, codes, cell)``.
    Deterministic (rounded-cosine cell argmax with cell-id tiebreak;
    PQ argmin ties break on centroid index), so incremental and
    from-scratch encodes agree code-for-code."""
    from mini_project_204721_data_engineering_spark.llm.pq import pq_encode
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells_bcast,
    )

    spark = df.sparkSession
    cent_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(model["centroids"])], ["cell", "cv"]
    ).select(
        "cell", F.expr("transform(cv, x -> cast(x AS double))").alias("cv")
    )
    assigned = assign_cells_bcast(df, cent_df, id_col=id_col, vec_col=vec_col)
    resid = assigned.join(F.broadcast(cent_df), "cell").select(
        id_col,
        "cell",
        F.expr(
            f"zip_with(transform({vec_col}, x -> cast(x as double)), cv, "
            "(a, b) -> a - b)"
        ).alias("__resid"),
    )
    codes = pq_encode(
        resid.select(id_col, "cell", "__resid"),
        model["codebooks"],
        id_col=id_col,
        vec_col="__resid",
    )
    return codes.join(resid.select(id_col, "cell"), id_col)


def ann_index_create(
    spark: SparkSession,
    source_dir: str,
    index_dir: str,
    ncells: int = 16,
    m: int = 8,
    k: int = 256,
    kmeans_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 65536,
    pq_iters: int = 10,
) -> dict:
    """Train the quantizer on the source snapshot table's CURRENT
    content, freeze it to ``model.json``, and commit the initial
    postings with the source version as the txn watermark."""
    from mini_project_204721_data_engineering_spark.llm.pq import (
        ivfpq_build,
        pq_train,
    )
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        kmeans_assign,
    )

    if os.path.exists(_model_path(index_dir)):
        # refuse BEFORE training: the quantizer fit is corpus-scale work
        raise ValueError(f"index already exists at {index_dir}")
    versions = _list_versions(spark, source_dir)
    if not versions:
        raise ValueError(f"no snapshots at {source_dir}")
    src_version = versions[-1]
    emb = read_snapshot(spark, source_dir, version=src_version)
    # train the model exactly as ivfpq_build does, but ENCODE through
    # ann_encode so create/refresh/from-scratch share one deterministic
    # code path (ivfpq_build's own codes come from the last Lloyd
    # assignment, whose means moved after it — not re-derivable from
    # the frozen centroids)
    assigned = kmeans_assign(
        emb, ncells=ncells, iters=kmeans_iters, id_col=id_col, vec_col=vec_col
    )
    cent_rows = (
        assigned.select("cell", F.posexplode(vec_col).alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.avg("x").alias("cx"))
        .groupBy("cell")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "cx"))).alias("pc"))
        .select("cell", F.expr("transform(pc, s -> s.cx)").alias("cv"))
        .collect()
    )
    cents = {r["cell"]: [float(v) for v in r["cv"]] for r in cent_rows}
    centroids = [cents[c] for c in sorted(cents)]
    cent_df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(centroids)], ["cell", "cv"]
    ).select(
        "cell", F.expr("transform(cv, x -> cast(x AS double))").alias("cv")
    )
    from mini_project_204721_data_engineering_spark.llm.similarity import (
        assign_cells_bcast,
    )

    resid = (
        assign_cells_bcast(emb, cent_df, id_col=id_col, vec_col=vec_col)
        .join(F.broadcast(cent_df), "cell")
        .select(
            id_col,
            F.expr(
                f"zip_with(transform({vec_col}, x -> cast(x as double)), cv, "
                "(a, b) -> a - b)"
            ).alias("__resid"),
        )
    )
    codebooks = pq_train(
        resid, m=m, k=k, id_col=id_col, vec_col="__resid",
        sample=sample, iters=pq_iters,
    )
    model = {
        "centroids": centroids,
        "codebooks": codebooks,
        "ncells": ncells,
        "m": m,
        "k": k,
        "id_col": id_col,
        "vec_col": vec_col,
        "source_dir": str(source_dir),
        # the source LOG's identity: a dropped-and-recreated table at
        # the same path can reach the same version numbers, making a
        # stale cursor look current — refresh verifies this id and
        # refuses to follow an impostor log
        "source_table_id": _read_manifest(
            spark, source_dir, src_version
        ).get("table_id"),
    }
    os.makedirs(str(index_dir), exist_ok=True)
    with open(_model_path(index_dir), "w") as f:
        json.dump(model, f)
    codes = ann_encode(emb, model, id_col=id_col, vec_col=vec_col)
    snapshot_txn_append(
        # range-cluster by cell so the manifest's cell stats actually
        # PRUNE at search time: an nprobe-cell probe plans ~nprobe/ncells
        # of the postings files instead of all of them (appends that
        # mixed every cell into every file would make the stats vacuous)
        codes.select(id_col, "cell", "codes").repartitionByRange(
            max(2, int(ncells) // 2), "cell"
        ),
        _postings_dir(index_dir),
        _APP_ID,
        src_version,
        # cell: probe-set file pruning at search; id: takedown hit-file
        # pruning at refresh (per-era appends keep id ranges tight, so
        # a recent-rows takedown scans only recent postings files).
        # Sticky for refreshes.
        stats_cols=["cell", id_col],
    )
    return ann_index_info(spark, index_dir)


def ann_index_refresh(spark: SparkSession, index_dir: str) -> dict:
    """Fold everything the source did since the last refresh into the
    postings — exactly-once (source version as txn batch id), no-op
    when the index is current.

    Append-shaped windows take the fast path: encode the new rows,
    transactional-append.  A REWRITTEN window (delete — CoW, lazy
    predicate, or deletion-vector — merge, replace, compaction) routes
    through :func:`snapshot_file_changes`'s file-confined row delta
    instead of refusing (r15; through r14 this raised and the only cure
    was a full ``ann_index_create`` rebuild — a DV takedown on the
    embeddings table blocked index maintenance entirely): tombstoned
    ids leave the postings and changed/new rows are re-encoded under
    the frozen model, all in ONE atomic commit that removes the hit
    postings files, adds survivor+fresh encodes, and advances the txn
    watermark — so a crash or replay anywhere re-runs idempotently and
    a takedown can never outlive its refresh.  Cost: the source-side
    delta is confined to the files the window actually rewrote; the
    postings side rewrites only hit files, located by ONE column-pruned
    probe over the postings files whose recorded id range intersects
    the tombstone set (per-era appends keep those ranges tight —
    id stats are recorded at create; a pre-r15 index without them
    conservatively probes every postings file).
    A compaction-only window is data-identical and just advances the
    watermark.  Only an unreconstructible window (cursor expired from
    the log, log recreated) still requires ``ann_index_create`` — the
    quantizer-drift rebuild advice stands independently: heavy churn is
    exactly when retraining is due."""
    model = _load_model(index_dir)
    pdir = _postings_dir(index_dir)
    versions = _list_versions(spark, pdir)
    tip = _read_manifest(spark, pdir, versions[-1])
    cursor = int(tip.get("txn", {}).get(_APP_ID, -1))
    if cursor < 0:
        raise ValueError(f"postings at {pdir} carry no {_APP_ID} watermark")
    _check_source_identity(spark, model)
    try:
        df, new_version = snapshot_incremental_read(
            spark, model["source_dir"], cursor
        )
    except ValueError:
        # non-append window (or terminal log state — _refresh_rewritten
        # re-raises those with re-create guidance)
        return _refresh_rewritten(spark, index_dir, model, cursor)
    if df is None:
        return ann_index_info(spark, index_dir)
    codes = ann_encode(
        df, model, id_col=model["id_col"], vec_col=model["vec_col"]
    )
    snapshot_txn_append(
        # cell-cluster each refresh batch too (fewer ranges — batches
        # are small; zorder/compact converges layout across eras)
        codes.select(model["id_col"], "cell", "codes").repartitionByRange(
            2, "cell"
        ),
        pdir,
        _APP_ID,
        new_version,
    )
    return ann_index_info(spark, index_dir)


def _check_source_identity(spark: SparkSession, model: dict) -> None:
    """Refuse to follow a RECREATED source log: a drop-and-recreate at
    the same path restarts version numbering, so a cursor can look
    current (or merely behind) while pointing into a different table's
    history — versions alone cannot detect it.  The model records the
    log's ``table_id`` at create; a mismatch here is terminal for the
    index (none of its postings describe the new log's rows)."""
    src_dir = model["source_dir"]
    want = model.get("source_table_id")
    if want is None:
        return  # pre-r15 model: no identity recorded
    versions = _list_versions(spark, src_dir)
    if not versions:
        raise ValueError(
            f"ann_index_refresh: source {src_dir} has no snapshots (log "
            "deleted?) — re-baseline with ann_index_create"
        )
    got = _read_manifest(spark, src_dir, versions[-1]).get("table_id")
    if got != want:
        raise ValueError(
            f"ann_index_refresh: the log at {src_dir} is not the table "
            f"this index was built on (table_id {got} != {want}) — the "
            "source was dropped and recreated; re-baseline with "
            "ann_index_create on a fresh index_dir"
        )


def _advance_watermark(
    spark: SparkSession, pdir: str, batch_id: int, note: str
) -> None:
    """Commit a postings version that changes NO files, only the txn
    watermark — the exactly-once acknowledgement of a data-identical
    source window (compaction-only)."""

    def files_fn(parent):
        if parent is None:
            raise ValueError(f"no postings at {pdir}")
        if int(parent.get("txn", {}).get(_APP_ID, -1)) >= batch_id:
            raise _AlreadyApplied()
        return list(parent["files"])

    tip = _read_manifest(spark, pdir, _list_versions(spark, pdir)[-1])
    try:
        _commit(
            spark, pdir, "append", files_fn, tip["schema"],
            meta={"app_id": _APP_ID, "batch_id": batch_id,
                  "added_files": 0, "note": note},
            txn_update={_APP_ID: batch_id},
            stats_fn=_compose_stats(spark, [], None),
        )
    except _AlreadyApplied:
        pass


def _refresh_rewritten(
    spark: SparkSession, index_dir: str, model: dict, cursor: int
) -> dict:
    """Refresh across a source window containing rewrites: derive the
    per-id delta from the file-confined CoW diff (old-visible vs
    new-visible rows of exactly the rewritten/refiltered files — DV and
    predicate-shaped lazy deletes both read correctly through their own
    version's filters here, unlike the position-only streaming feed),
    then rewrite the postings in ONE commit:

    - ids present only on the OLD side → tombstoned (hit postings files
      rewritten without them);
    - ids present only on the NEW side → encoded and appended;
    - ids on both sides with a DIFFERENT vector → both (re-encode);
    - ids on both sides unchanged (survivors of a partial file rewrite,
      or a pure compaction) → untouched in the postings — deterministic
      encoding makes re-encoding them a no-op, so we skip the bytes.

    The commit removes hit files, adds survivor+fresh files, and
    advances the watermark atomically; a replay after ANY crash point
    recomputes the same delta from the same immutable manifests and the
    txn gate makes the landed case a no-op."""
    src_dir = model["source_dir"]
    id_col, vec_col = model["id_col"], model["vec_col"]
    pdir = _postings_dir(index_dir)
    src_versions = _list_versions(spark, src_dir)
    src_tip = src_versions[-1] if src_versions else None
    try:
        if src_tip is None:
            raise ValueError(f"no snapshots at {src_dir}")
        removed, added, info = snapshot_file_changes(
            spark, src_dir, cursor, src_tip
        )
    except ValueError as exc:
        raise ValueError(
            f"ann_index_refresh: the source window v{cursor}→v{src_tip} "
            f"of {src_dir} is not reconstructible ({exc}) — re-baseline "
            "with ann_index_create on a fresh index_dir (quantizer "
            "retraining is due after log truncation/recreation anyway)"
        ) from exc
    if info["all_compact"] or (removed is None and added is None):
        _advance_watermark(
            spark, pdir, src_tip, note="data-identical source window"
        )
        return ann_index_info(spark, index_dir)
    rem = (
        removed.select(id_col, vec_col)
        if removed is not None
        else added.select(id_col, vec_col).limit(0)
    )
    add = (
        added.select(id_col, vec_col)
        if added is not None
        else removed.select(id_col, vec_col).limit(0)
    )
    deleted_ids = rem.join(add, [id_col], "left_anti").select(id_col)
    changed = (
        add.alias("n")
        .join(rem.alias("o"), [id_col])
        # exact array inequality is the right test: survivor rows are
        # byte-identical copies under CoW, so <=> holds for them and
        # only genuinely updated vectors re-encode
        .where(~F.expr(f"n.{vec_col} <=> o.{vec_col}"))
        .select(id_col, f"n.{vec_col}")
    )
    fresh_rows = add.join(rem, [id_col], "left_anti")
    to_encode = fresh_rows.unionByName(changed)
    tombstone = deleted_ids.unionByName(changed.select(id_col)).distinct()
    tombstone.persist()
    try:
        n_tomb = tombstone.count()
        p_tip = _read_manifest(spark, pdir, _list_versions(spark, pdir)[-1])
        if int(p_tip.get("txn", {}).get(_APP_ID, -1)) >= src_tip:
            return ann_index_info(spark, index_dir)  # replayed: landed
        base_files = list(p_tip["files"])
        hit_files: list[str] = []
        if n_tomb and base_files:
            # bound the hit scan by the tombstone id RANGE: postings
            # files whose recorded id [min,max] is disjoint never open
            # (per-era appends keep those ranges tight, so a takedown
            # confined to recent rows scans only recent postings files;
            # a scattered id set degrades to the full probe scan —
            # still one column-pruned pass, and files without id stats
            # are conservatively kept)
            lo, hi = tombstone.agg(
                F.min(id_col), F.max(id_col)
            ).collect()[0]
            cand = _prune_files(p_tip, {id_col: (lo, hi)})
            jvm = spark._jvm
            target = _filtered_read(
                spark, p_tip, cand, with_position=True
            )
            hit_files = sorted(
                _canon_file(jvm, r["f"])
                for r in target.join(tombstone, [id_col], "left_semi")
                .select(F.col("__dv_file").alias("f"))
                .distinct()
                .collect()
            )
        new_data = ann_encode(
            to_encode, model, id_col=id_col, vec_col=vec_col
        ).select(id_col, "cell", "codes")
        if hit_files:
            survivors = _filtered_read(spark, p_tip, hit_files).join(
                tombstone, [id_col], "left_anti"
            )
            new_data = survivors.unionByName(new_data)
        new_files, written = _write_data_files(
            new_data.repartitionByRange(2, "cell"), pdir
        )
        guard = _rewrite_guard(p_tip, "ann_index_refresh")
        hit = set(hit_files)

        def files_fn(parent):
            if parent is not None and int(
                parent.get("txn", {}).get(_APP_ID, -1)
            ) >= src_tip:
                raise _AlreadyApplied()
            guard(parent)
            return [f for f in base_files if f not in hit] + new_files

        try:
            _commit(
                spark, pdir, "merge", files_fn, p_tip["schema"],
                meta={"app_id": _APP_ID, "batch_id": src_tip,
                      "rewritten_files": len(hit_files),
                      "tombstoned_ids": n_tomb},
                txn_update={_APP_ID: src_tip},
                stats_fn=_compose_stats(spark, new_files, None, written),
            )
        except _AlreadyApplied:
            pass
    finally:
        tombstone.unpersist()
    return ann_index_info(spark, index_dir)


def ann_index_info(spark: SparkSession, index_dir: str) -> dict:
    """Staleness report: how far the index trails its source, in
    versions AND rows (the price of ``fresh=True`` at the next
    search)."""
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_count,
    )

    model = _load_model(index_dir)
    pdir = _postings_dir(index_dir)
    tip = _read_manifest(spark, pdir, _list_versions(spark, pdir)[-1])
    cursor = int(tip.get("txn", {}).get(_APP_ID, -1))
    src_tip = _list_versions(spark, model["source_dir"])[-1]
    indexed_rows = snapshot_count(spark, pdir)
    src_rows = snapshot_count(spark, model["source_dir"])
    return {
        "indexed_source_version": cursor,
        "source_version": src_tip,
        "lag_versions": src_tip - cursor,
        "indexed_rows": indexed_rows,
        "source_rows": src_rows,
        "lag_rows": src_rows - indexed_rows,
    }


def ann_index_search(
    spark: SparkSession,
    index_dir: str,
    query: list,
    topk: int = 10,
    nprobe: int = 4,
    shortlist: int = 100,
    fresh: bool = False,
    max_tail_rows: int | None = 100_000,
) -> DataFrame:
    """Search the maintained index: probed ADC over the postings
    snapshot (cell-set file pruning via the manifest before the scan
    plan exists) → exact rerank of the shortlist against the source
    embeddings.  ``fresh=True`` additionally brute-forces the
    NOT-YET-INDEXED source tail exactly, so index staleness can only
    add candidates, never lose them.  Returns ``(id, dist)`` ascending
    L2, id tiebreak.

    ``max_tail_rows`` is the STALENESS BUDGET on that fresh tail: the
    unindexed rows are brute-force scanned per query, so a refresh
    loop that falls far behind would silently turn every "fresh"
    search into a near-full-corpus exact scan.  When the tail (counted
    from manifests — no job) exceeds the budget, the search REFUSES
    and names :func:`ann_index_refresh` instead of degrading; pass
    ``max_tail_rows=None`` to accept any tail knowingly."""
    import numpy as np

    from mini_project_204721_data_engineering_spark.llm.pq import (
        _exact_rerank,
        ivfpq_search,
    )

    model = _load_model(index_dir)
    pdir = _postings_dir(index_dir)
    id_col, vec_col = model["id_col"], model["vec_col"]
    q = np.asarray(query, dtype=np.float64)
    cents = np.asarray(model["centroids"], dtype=np.float64)
    d2 = ((cents - q[None, :]) ** 2).sum(axis=1)
    order = np.lexsort((np.arange(len(d2)), d2))
    probed = {int(c) for c in order[: max(1, int(nprobe))]}
    # resolve the postings tip ONCE and pin both the probe scan and the
    # freshness cursor to it: reading the cursor from a LATER tip (a
    # concurrent refresh landed in between) would drop that refresh's
    # rows from the probe set AND from the fresh tail — a silent recall
    # hole the staleness bound exists to prevent
    tip_version = _list_versions(spark, pdir)[-1]
    tip_manifest = _read_manifest(spark, pdir, tip_version)
    cursor = int(tip_manifest.get("txn", {}).get(_APP_ID, -1))
    codes_df = read_snapshot(
        spark, pdir, version=tip_version, prune={"cell": probed}
    )
    cand = ivfpq_search(
        codes_df, query, model["centroids"], model["codebooks"],
        topk=int(shortlist), nprobe=nprobe, id_col=id_col,
    ).select(id_col)
    emb = read_snapshot(spark, model["source_dir"])
    if fresh:
        if max_tail_rows is not None:
            lag = _tail_rows(spark, model["source_dir"], cursor)
            if lag > max_tail_rows:
                raise ValueError(
                    f"ann_index_search(fresh=True): the unindexed source "
                    f"tail is {lag} rows (> max_tail_rows={max_tail_rows}) "
                    "— a brute-force scan that size per query is no "
                    "longer an index; run ann_index_refresh(spark, "
                    "index_dir) to fold the tail into the postings, or "
                    "pass max_tail_rows=None to accept the cost knowingly"
                )
        try:
            tail = snapshot_incremental_read(
                spark, model["source_dir"], cursor
            )[0]
        except ValueError:
            # rewritten window (takedown/merge/compact since the last
            # refresh): the not-yet-indexed candidates are the NEW-side
            # rows of the file-confined diff — survivors of partial
            # rewrites are already indexed and dedup away below, and a
            # terminal log state surfaces file_changes' own error
            tail = snapshot_file_changes(
                spark, model["source_dir"], cursor
            )[1]
        if tail is not None:
            cand = cand.unionByName(tail.select(id_col)).distinct()
    # NOTE: the rerank inner-joins candidates against the source AT TIP,
    # so ids deleted from the source since the last refresh can never
    # surface in results even from a stale index — staleness costs
    # shortlist slots (and recall of unindexed rows without fresh=True),
    # never resurrects a takedown
    return _exact_rerank(emb, cand, query, topk, id_col, vec_col)


def _tail_rows(spark: SparkSession, source_dir: str, cursor: int) -> int:
    """Rows appended to the source since ``cursor`` — counted from
    manifest ``file_meta`` alone (no Spark job; the same metadata the
    incremental read will walk).  Files without recorded row counts
    (pre-file_meta commits) count as unknown-but-nonzero via their
    presence; missing meta degrades to a conservative snapshot_count
    diff rather than underestimating the budget."""
    versions = _list_versions(spark, source_dir)
    lag_vs = [v for v in versions if v > cursor]
    if not lag_vs:
        return 0
    prev = (
        set(_read_manifest(spark, source_dir, cursor)["files"])
        if cursor in versions
        else set()
    )
    total = 0
    complete = True
    for v in lag_vs:
        m = _read_manifest(spark, source_dir, v)
        meta = m.get("file_meta", {})
        for f in set(m["files"]) - prev:
            rows = (meta.get(f) or {}).get("rows")
            if rows is None:
                complete = False
            else:
                total += int(rows)
        prev = set(m["files"])
    if complete:
        return total
    from mini_project_204721_data_engineering_spark.sources.snapshots import (
        snapshot_count,
    )

    tip_rows = snapshot_count(spark, source_dir)
    at_cursor = (
        snapshot_count(spark, source_dir, version=cursor)
        if cursor in versions
        else 0
    )
    return max(total, tip_rows - at_cursor)
