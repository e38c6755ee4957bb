"""Multi-table ATOMIC transactions over snapshot tables — the catalog.

The single-table snapshot log (`snapshots.py`) makes each table's commit
atomic, but the reference's own ingest is a TWO-table flow: the
upload-lineage row commits FIRST (`db.add`/`db.commit`), then the fact
rows load in a separate step (reference `backend/app/main.py:136-150`)
— two commits with a crash window between them in which lineage exists
without facts.  That shape is the motivation; this module adds the
cross-table atomicity the reference lacks: N snapshot tables, ONE
atomic commit — the
Iceberg-catalog idea: visibility is rooted in a single versioned catalog
log, and a multi-table transaction becomes one exclusive-create of the
next catalog version.

Design (and why it is crash-correct):

1. **The catalog is itself a snapshot-style log.**  ``catalog_dir`` holds
   ``_manifests/v{N}.json`` files written with the same
   exclusive-create claim as table commits — same
   :func:`~.snapshots._try_write_manifest`, same linearizability proof
   (the cross-process race pytest).  Each catalog version pins, for
   every enrolled table, exactly one table-manifest version.

2. **Staging claims NO table version.**  A transaction first writes its
   data files (bytes before visibility, as ever), then BUILDS each
   table's would-be manifest against the catalog-pinned parent
   (:func:`~.snapshots._build_manifest` — the same code path as a normal
   commit) and writes it to ``_manifests/staged-{txn}-v{V}.json``.
   Staged files occupy no version slot, so concurrent transactions
   cannot corrupt each other's table logs and an abandoned staging is
   invisible garbage.

3. **The catalog commit IS the transaction.**  One exclusive-create of
   ``catalog/v{N+1}.json`` flips every written table's pin to its staged
   manifest simultaneously.  A reader resolving tables through the
   catalog sees either ALL of the transaction's table states or NONE —
   there is no instant at which the fact rows are visible without the
   lineage row.  A crash anywhere before this point leaves the catalog
   (and therefore every reader) untouched.

4. **Publication is idempotent cleanup, not correctness.**  After the
   catalog commit wins, each staged manifest is copied into its table
   log as ``v{V}.json`` (exclusive-create; losing the claim is fine) so
   single-table tooling — time travel, history, incremental read,
   compaction — keeps working.  A crash between commit and publication
   loses nothing: readers fall back to the staged manifest recorded in
   the pin, and the next transaction (or any later call) re-publishes.

Concurrency: transactions race on the catalog version with the same
optimistic loop as table commits; a loser re-stages against the new pins
(data files are written once and reused).  Conflicts are detected at
TABLE granularity — two transactions appending to disjoint tables both
succeed, in catalog-serialized order.

Rule for enrolled tables: write them ONLY through the catalog (or
publish-then-enroll).  A direct `snapshot_append` to an enrolled table's
directory races the publication step for version numbers; the catalog
stays correct (it resolves through the staged manifest), but the table's
own log diverges from the catalog's view.  This is the same contract as
Iceberg/Unity coordinated commits: the catalog is the commit
coordinator.
"""

from __future__ import annotations

import json
import time
import uuid
import warnings
from collections.abc import Mapping

from pyspark.sql import DataFrame, SparkSession

from .manifest_io import manifest_io_for
from .snapshots import (
    _MANIFEST_DIR,
    _V_FMT,
    _build_manifest,
    _check_schema,
    _child,
    _compose_stats,
    _filtered_read,
    _fs_for,
    _guard_reserved,
    _list_versions,
    _merged_schema,
    _plan_files,
    _prune_files,
    _read_manifest,
    _try_write_manifest,
    _validate_stats,
    _write_data_files,
)


def _read_json(spark: SparkSession, path: str) -> dict:
    raw = manifest_io_for(path, spark).read_bytes(path)
    return json.loads(raw.decode("utf-8"))


def _write_json(spark: SparkSession, path: str, obj: dict) -> None:
    """Plain (non-exclusive) small-file write — staged manifests only,
    whose names embed a fresh txn id so collisions cannot happen."""
    payload = json.dumps(obj, indent=1).encode("utf-8")
    manifest_io_for(path, spark).write_bytes(path, payload)


def _catalog_tip(spark: SparkSession, catalog_dir: str) -> dict | None:
    versions = _list_versions(spark, catalog_dir)
    if not versions:
        return None
    return _read_manifest(spark, catalog_dir, versions[-1])


def catalog_init(
    spark: SparkSession, catalog_dir: str, tables: Mapping[str, str]
) -> dict:
    """Create the catalog, enrolling ``tables`` (name -> table_dir) at
    their CURRENT tips (version 0 for a not-yet-created table).  Raises
    if the catalog already exists."""
    if _catalog_tip(spark, catalog_dir) is not None:
        raise ValueError(f"catalog already exists at {catalog_dir}")
    pins = {}
    for name, tdir in tables.items():
        versions = _list_versions(spark, str(tdir))
        pins[str(name)] = {
            "dir": str(tdir),
            "version": versions[-1] if versions else 0,
        }
    cat = {
        "version": 1,
        "parent": 0,
        "ts": time.time(),
        "op": "init",
        "catalog_id": uuid.uuid4().hex,
        "txn_id": None,
        "tables": pins,
    }
    if not _try_write_manifest(spark, catalog_dir, 1, cat):
        raise ValueError(f"catalog already exists at {catalog_dir}")
    return cat


def catalog_pins(
    spark: SparkSession,
    catalog_dir: str,
    catalog_version: int | None = None,
    as_of: float | None = None,
) -> dict:
    """The table pins at a catalog version (tip by default; ``as_of``
    picks the newest catalog version committed at/before that unix
    time — CROSS-TABLE time travel): ``{name: {"dir", "version",
    ...}}``.  Reading several tables at ONE pinned catalog version is a
    consistent cross-table snapshot — "the database as of Tuesday", not
    per-table approximations of it."""
    if catalog_version is not None and as_of is not None:
        raise ValueError(
            "catalog_pins: pass catalog_version OR as_of, not both"
        )
    if catalog_version is None and as_of is not None:
        versions = _list_versions(spark, catalog_dir)
        eligible = [
            v
            for v in versions
            if _read_manifest(spark, catalog_dir, v)["ts"] <= as_of
        ]
        if not eligible:
            raise ValueError(f"no catalog version at or before ts={as_of}")
        catalog_version = eligible[-1]
    if catalog_version is None:
        tip = _catalog_tip(spark, catalog_dir)
        if tip is None:
            raise ValueError(f"no catalog at {catalog_dir}")
        return tip["tables"]
    return _read_manifest(spark, catalog_dir, catalog_version)["tables"]


def catalog_resolve(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    catalog_version: int | None = None,
    as_of: float | None = None,
) -> dict | None:
    """The table MANIFEST a catalog version pins for ``name`` (None for
    an enrolled-but-empty table).  Resolution order: the published
    ``v{V}.json`` when it exists AND belongs to the pinning transaction;
    else the staged manifest recorded in the pin (the crash-recovery
    path — a transaction is durable the instant its catalog version
    lands, publication or not)."""
    pins = catalog_pins(spark, catalog_dir, catalog_version, as_of=as_of)
    if name not in pins:
        raise ValueError(
            f"table {name!r} not enrolled in catalog {catalog_dir} "
            f"(have: {sorted(pins)})"
        )
    pin = pins[name]
    if pin["version"] == 0:
        return None
    tid = pin.get("txn_id")
    try:
        m = _read_manifest(spark, pin["dir"], pin["version"])
        if tid is None or m.get("meta", {}).get("catalog_txn") == tid:
            return m
        # a foreign manifest claimed our version slot (direct write to
        # an enrolled table) — the staged copy is the catalog's truth
        warnings.warn(
            f"table log {pin['dir']} diverged from catalog at "
            f"v{pin['version']} (direct write to an enrolled table?); "
            "resolving through the staged manifest",
            stacklevel=2,
        )
    except Exception:
        if "staged" not in pin:
            raise
    return _read_json(spark, pin["staged"])


def catalog_read(
    spark: SparkSession,
    catalog_dir: str,
    name: str,
    catalog_version: int | None = None,
    prune: dict | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read an enrolled table AS THE CATALOG SEES IT — the only read
    that carries the multi-table atomicity guarantee.  ``prune`` as in
    :func:`~.snapshots.read_snapshot`; ``as_of`` as in
    :func:`catalog_pins` (cross-table time travel)."""
    manifest = catalog_resolve(
        spark, catalog_dir, name, catalog_version, as_of=as_of
    )
    if manifest is None:
        raise ValueError(f"table {name!r} has no committed data yet")
    files = manifest["files"]
    if prune:
        files = _prune_files(manifest, prune)
    return _filtered_read(spark, manifest, files)


def _publish(spark: SparkSession, pin: dict) -> None:
    """Copy a pin's staged manifest into its table log as v{V}.json —
    idempotent (exclusive-create; a lost claim means someone published
    first), safe to call any number of times from anywhere."""
    if "staged" not in pin or pin["version"] == 0:
        return
    try:
        m = _read_json(spark, pin["staged"])
    except Exception:
        return  # staged file already swept after a successful publish
    if not _try_write_manifest(spark, pin["dir"], pin["version"], m):
        try:
            cur = _read_manifest(spark, pin["dir"], pin["version"])
        except Exception:
            return
        if cur.get("meta", {}).get("catalog_txn") != m.get("meta", {}).get(
            "catalog_txn"
        ):
            warnings.warn(
                f"cannot publish txn manifest at {pin['dir']} "
                f"v{pin['version']}: slot taken by a foreign commit "
                "(direct write to an enrolled table?)",
                stacklevel=2,
            )


def catalog_publish(spark: SparkSession, catalog_dir: str) -> None:
    """Publish every staged pin at the catalog tip into its table log
    (idempotent crash recovery — see module docstring step 4)."""
    tip = _catalog_tip(spark, catalog_dir)
    if tip is None:
        return
    for pin in tip["tables"].values():
        _publish(spark, pin)


def multi_table_txn(
    spark: SparkSession,
    catalog_dir: str,
    writes: Mapping[str, Mapping],
    max_retries: int = 20,
    app_id: str | None = None,
    batch_id: int | None = None,
) -> dict | None:
    """Commit writes to SEVERAL enrolled tables as ONE atomic catalog
    transaction: every write becomes visible in the same catalog
    version, or (on any crash/failure) none do.

    ``writes`` maps enrolled table name -> spec::

        {"op": "append",       "df": df,
         "stats_cols": ...,    "merge_schema": False}   # defaults
        {"op": "overwrite",    "df": df, "stats_cols": ...}
        {"op": "delete_where", "predicate": "sql"}
        {"op": "merge_into",   "df": src, "keys": [...],
         "when_matched": "update", "when_not_matched": "insert"}
        {"op": "compact",      "target_file_bytes": 128 MiB,  # defaults
                               "small_file_bytes": target // 4}
        {"op": "apply_filters"}   # drain pending lazy-delete filters

    ``compact`` and ``apply_filters`` are how MAINTENANCE reaches
    enrolled tables: a direct
    `snapshot_compact` on the table dir would race publication for
    version numbers (the module-doc divergence hazard), so bin-packing
    goes through the same staged-pin flip as every other write —
    content-identical by construction, conflict-safe by the catalog's
    OCC, and combinable with writes to OTHER tables in one transaction.
    The feed treats it as a compaction (op tag "compact": emits
    nothing).

    ``delete_where`` is the copy-on-write correction shape (retract
    fact rows + append the correcting audit row, atomically): the
    predicate plans its file set against the PINNED manifest (prune +
    bloom), survivors rewrite through the filtered read with
    ``(predicate) IS NOT TRUE`` (SQL DELETE three-valued logic, same as
    the single-table CoW path).  A lost catalog race whose winner moved
    THIS table's pin redoes the rewrite against the new pin
    (conservative serializability — the same contract as
    :func:`~.snapshots.snapshot_delete_where`); rewrites are cached per
    pinned version so a conflict on a DIFFERENT table never redoes this
    one's.

    The reference shape: ``multi_table_txn(spark, cat, {
    "rain_points": {"op": "append", "df": facts},
    "uploads": {"op": "append", "df": lineage_row}})`` — fact rows can
    never be seen without their lineage row (`backend/app/main.py:
    136-150`).

    Data files are written ONCE up front (a crash strands invisible
    orphans, never a torn transaction); the optimistic loop re-stages
    manifests against fresh catalog pins after every lost race, reusing
    the already-written bytes.

    ``app_id``/``batch_id`` make the transaction IDEMPOTENT — the
    multi-table analog of :func:`~.snapshots.snapshot_txn_append`: the
    catalog carries a per-app watermark map, a replay whose batch_id ≤
    the tip's watermark is a NO-OP returning None, and the check
    re-evaluates inside the optimistic loop so two workers replaying
    the same batch cannot both land it.  This is the exactly-once
    TWO-TABLE stream sink (``foreachBatch`` landing fact rows + lineage
    row per micro-batch, atomically AND at-most-once)."""
    if not writes:
        raise ValueError("multi_table_txn: no writes")
    if (app_id is None) != (batch_id is None):
        raise ValueError("multi_table_txn: app_id and batch_id go together")
    tip = _catalog_tip(spark, catalog_dir)
    if tip is None:
        raise ValueError(f"no catalog at {catalog_dir}")
    if app_id is not None and tip.get("txn", {}).get(app_id, -1) >= batch_id:
        return None  # fast path: replay skipped before any bytes move
    for name in writes:
        if name not in tip["tables"]:
            raise ValueError(
                f"table {name!r} not enrolled in catalog {catalog_dir}"
            )
    # heal any unpublished pins from a predecessor's crash first — cheap
    # and idempotent, keeps table logs converged with the catalog
    catalog_publish(spark, catalog_dir)

    tid = uuid.uuid4().hex
    staged_inputs: dict[str, dict] = {}
    for name, spec in writes.items():
        op = spec.get("op", "append")
        if op not in (
            "append", "overwrite", "delete_where", "merge_into",
            "compact", "apply_filters",
        ):
            raise ValueError(f"multi_table_txn: unsupported op {op!r}")
        if op == "apply_filters":
            # drain every pending lazy-delete filter on the PINNED
            # manifest (the catalog analog of snapshot_apply_filters —
            # a direct call on an enrolled table would race publication
            # for version numbers, same hazard as direct compact)
            staged_inputs[name] = {"op": op, "rewrites": {}}
            continue
        if op == "compact":
            target = int(spec.get("target_file_bytes", 128 * 1024 * 1024))
            small = int(spec.get("small_file_bytes", target // 2))
            if target <= 0 or small <= 0:
                raise ValueError(
                    "multi_table_txn: compact sizes must be positive "
                    f"(got target={target}, small={small})"
                )
            staged_inputs[name] = {
                "op": op,
                "target": target,
                "small": small,
                "zorder_by": (
                    [str(c) for c in spec["zorder_by"]]
                    if spec.get("zorder_by")
                    else None
                ),
                "bloom_cols": spec.get("bloom_cols"),
                "ndv_cols": spec.get("ndv_cols"),
                "holder": {"entries": {}, "ndv": {}},  # bloom key is "entries"
                "rewrites": {},
            }
            continue
        if op == "delete_where":
            staged_inputs[name] = {
                "op": op,
                "predicate": str(spec["predicate"]),
                # rewrite memo keyed by the pinned version: a lost race
                # on ANOTHER table must not redo this table's rewrite
                "rewrites": {},
            }
            continue
        if op == "merge_into":
            wm = spec.get("when_matched", "update")
            wnm = spec.get("when_not_matched", "insert")
            if wm not in ("update", "delete", "ignore"):
                raise ValueError(
                    f"when_matched must be update/delete/ignore, got {wm!r}"
                )
            if wnm not in ("insert", "ignore"):
                raise ValueError(
                    f"when_not_matched must be insert/ignore, got {wnm!r}"
                )
            staged_inputs[name] = {
                "op": op,
                "df": spec["df"],
                "keys": [str(k) for k in spec["keys"]],
                "when_matched": wm,
                "when_not_matched": wnm,
                "rewrites": {},
            }
            continue
        df = spec["df"]
        stats_cols = spec.get("stats_cols")
        if stats_cols is not None:
            _validate_stats(df, stats_cols)
        tdir = tip["tables"][name]["dir"]
        new_files, _ = _write_data_files(df, tdir)
        staged_inputs[name] = {
            "op": op,
            "schema": df.schema,
            "new_files": new_files,
            "stats_fn": _compose_stats(spark, new_files, stats_cols, df.schema),
            "merge_schema": bool(spec.get("merge_schema", False)),
        }

    prev_staged: list[str] = []
    for _ in range(max_retries):
        # a lost race re-stages: the previous attempt's staged files are
        # referenced by nothing — delete them now rather than leaking
        # them to expire_snapshots' abandoned-staging sweep
        for sp in prev_staged:
            try:
                fs, _, jvm = _fs_for(spark, sp)
                fs.delete(jvm.org.apache.hadoop.fs.Path(sp), False)
            except Exception:
                pass
        prev_staged = []
        tip = _catalog_tip(spark, catalog_dir)
        if (
            app_id is not None
            and tip.get("txn", {}).get(app_id, -1) >= batch_id
        ):
            return None  # a racer landed this batch while we staged
        parent_version = tip["version"]
        pins = dict(tip["tables"])
        new_pins = {k: dict(v) for k, v in pins.items()}
        for name, si in staged_inputs.items():
            pin = pins[name]
            parent_manifest = catalog_resolve(
                spark, catalog_dir, name, tip["version"]
            )
            op = si["op"]

            if op == "delete_where":
                if parent_manifest is None:
                    raise ValueError(
                        f"multi_table_txn: delete_where on {name!r}, "
                        "which has no committed data"
                    )
                pred = si["predicate"]
                pv = pin["version"]
                if pv not in si["rewrites"]:
                    planned = _plan_files(spark, parent_manifest, pred)
                    if planned:
                        survivors = _filtered_read(
                            spark, parent_manifest, planned
                        ).filter(f"({pred}) IS NOT TRUE")
                        nf, written = _write_data_files(survivors, pin["dir"])
                    else:
                        nf, written = [], None
                    # the stats_fn memo rides the rewrite memo: a lost
                    # race on ANOTHER table must not re-run this
                    # table's file-stats job either
                    si["rewrites"][pv] = (
                        set(planned), nf, _compose_stats(spark, nf, None, written)
                    )
                planned_set, new_files, stats_fn = si["rewrites"][pv]

                def files_fn(parent, _pl=planned_set, _nf=new_files):
                    return [
                        f for f in parent["files"] if f not in _pl
                    ] + _nf

                def schema_fn(parent):
                    return parent["schema"]

                evo_fn = None
                op_tag = "delete"
            elif op == "compact":
                if parent_manifest is None:
                    raise ValueError(
                        f"multi_table_txn: compact on {name!r}, which has "
                        "no committed data"
                    )
                pv = pin["version"]
                if pv not in si["rewrites"]:
                    from pyspark.sql.types import _parse_datatype_string

                    from .snapshots import (
                        _bloom_build_cols,
                        _compact_pack,
                        _ndv_build_cols,
                    )

                    pschema = _parse_datatype_string(
                        parent_manifest["schema"]
                    )
                    # typo-refusals BEFORE the repack, like the
                    # single-table op
                    if si["bloom_cols"] is not None:
                        _bloom_build_cols(
                            pschema, si["bloom_cols"], explicit=True
                        )
                    if si["ndv_cols"] is not None:
                        _ndv_build_cols(
                            pschema, si["ndv_cols"], explicit=True
                        )
                    sm, nf, written = _compact_pack(
                        spark, parent_manifest, pin["dir"],
                        si["target"], si["small"], si["zorder_by"],
                    )
                    si["rewrites"][pv] = (
                        set(sm) if sm else None,
                        nf or [],
                        _compose_stats(spark, nf or [], None, written),
                    )
                small_set, new_files, stats_fn = si["rewrites"][pv]
                if small_set is None:
                    # nothing worth packing: drop this table from the
                    # transaction entirely — NO new table version, NO
                    # catalog churn (an hourly maintenance job must not
                    # mint 8760 empty versions a year)
                    continue

                def files_fn(parent, _sm=small_set, _nf=new_files):
                    return [
                        f for f in parent["files"] if f not in _sm
                    ] + _nf

                def schema_fn(parent):
                    return parent["schema"]

                evo_fn = None
                op_tag = "compact"
            elif op == "apply_filters":
                if parent_manifest is None:
                    raise ValueError(
                        f"multi_table_txn: apply_filters on {name!r}, "
                        "which has no committed data"
                    )
                entries = parent_manifest.get("row_filters") or []
                if not entries:
                    # nothing pending: drop this table from the
                    # transaction — no empty versions from a sweep
                    continue
                pv = pin["version"]
                if pv not in si["rewrites"]:
                    covered = sorted(
                        {f for e in entries for f in e["files"]}
                    )
                    clean = _filtered_read(
                        spark, parent_manifest, covered
                    )
                    nf, written = _write_data_files(clean, pin["dir"])
                    si["rewrites"][pv] = (
                        set(covered), nf, _compose_stats(spark, nf, None, written)
                    )
                cov_set, new_files, stats_fn = si["rewrites"][pv]

                def files_fn(parent, _cov=cov_set, _nf=new_files):
                    # the default filter carry prunes every entry to
                    # files still referenced — all covered files leave,
                    # so row_filters empties by construction
                    return [
                        f for f in parent["files"] if f not in _cov
                    ] + _nf

                def schema_fn(parent):
                    return parent["schema"]

                evo_fn = None
                op_tag = "delete"
            elif op == "merge_into":
                src_df = si["df"]
                pv = pin["version"]
                if parent_manifest is None:
                    # fresh table: every source row inserts (dup-guarded)
                    if si["when_not_matched"] != "insert":
                        raise ValueError(
                            f"multi_table_txn: merge_into {name!r} is "
                            "vacuous (empty table, when_not_matched="
                            "'ignore')"
                        )
                    if pv not in si["rewrites"]:
                        from .snapshots import _dedup_guarded

                        nf, written = _write_data_files(
                            _dedup_guarded(src_df, si["keys"]), pin["dir"]
                        )
                        si["rewrites"][pv] = (
                            set(), nf, _compose_stats(spark, nf, None, written)
                        )
                else:
                    _check_schema(
                        parent_manifest,
                        src_df.schema.simpleString(),
                        "multi_table_txn(merge_into)",
                    )
                    if pv not in si["rewrites"]:
                        from .snapshots import _merge_rewrite

                        hit, nf, written = _merge_rewrite(
                            spark, parent_manifest, pin["dir"], src_df,
                            si["keys"], si["when_matched"],
                            si["when_not_matched"],
                        )
                        si["rewrites"][pv] = (
                            set(hit), nf, _compose_stats(spark, nf, None, written)
                        )
                hit_set, new_files, stats_fn = si["rewrites"][pv]

                def files_fn(parent, _hit=hit_set, _nf=new_files):
                    return [
                        f for f in (parent["files"] if parent else [])
                        if f not in _hit
                    ] + _nf

                def schema_fn(parent, _ddl=src_df.schema.simpleString()):
                    return parent["schema"] if parent else _ddl

                evo_fn = None
                op_tag = "merge"
            elif op == "append":
                ddl, new_files = si["schema"].simpleString(), si["new_files"]

                def files_fn(parent, _ddl=ddl, _nf=new_files, _si=si):
                    if not _si["merge_schema"]:
                        _check_schema(parent, _ddl, "multi_table_txn(append)")
                    return (parent["files"] if parent else []) + _nf

                def schema_fn(parent, _ddl=ddl, _si=si):
                    if parent is None or not _si["merge_schema"]:
                        return _ddl
                    merged = _merged_schema(parent["schema"], _si["schema"])
                    _guard_reserved(
                        parent, merged, "multi_table_txn(merge_schema)"
                    )
                    return merged

                evo_fn = None
                stats_fn = si["stats_fn"]
                op_tag = op
            else:  # overwrite
                ddl, new_files = si["schema"].simpleString(), si["new_files"]

                def files_fn(parent, _nf=new_files):
                    return list(_nf)

                def schema_fn(parent, _ddl=ddl):
                    return _ddl

                def evo_fn(parent):
                    return {}, []

                stats_fn = si["stats_fn"]
                op_tag = op

            bloom_fn = ndv_fn = None
            if op == "compact" and (
                si["bloom_cols"] is not None or si["ndv_cols"] is not None
            ):
                from pyspark.sql.types import _parse_datatype_string

                from .snapshots import _bloom_fn_for, _ndv_fn_for

                pschema = _parse_datatype_string(parent_manifest["schema"])
                if si["bloom_cols"] is not None:
                    bloom_fn = _bloom_fn_for(
                        spark, pin["dir"], new_files, si["bloom_cols"],
                        pschema, si["holder"],
                    )
                if si["ndv_cols"] is not None:
                    ndv_fn = _ndv_fn_for(
                        spark, pin["dir"], new_files, si["ndv_cols"],
                        pschema, si["holder"],
                    )
            v = pin["version"] + 1
            manifest = _build_manifest(
                parent_manifest,
                pin["version"],
                op_tag,
                files_fn,
                schema_fn,
                meta={
                    "added_files": len(new_files),
                    "catalog_txn": tid,
                    "catalog_dir": str(catalog_dir),
                    **(
                        {"mode": "cow_txn", "predicate": si["predicate"]}
                        if op == "delete_where"
                        else {}
                    ),
                },
                stats_fn=stats_fn,
                evo_fn=evo_fn,
                bloom_fn=bloom_fn,
                ndv_fn=ndv_fn,
            )
            staged_path = "/".join(
                (
                    pin["dir"].rstrip("/"),
                    _MANIFEST_DIR,
                    f"staged-{tid}-v{v:05d}.json",
                )
            )
            _write_json(spark, staged_path, manifest)
            prev_staged.append(staged_path)
            new_pins[name] = {
                "dir": pin["dir"],
                "version": v,
                "staged": staged_path,
                "txn_id": tid,
            }
        if not prev_staged:
            # every write was a nothing-to-pack compact: commit NOTHING
            # (no table versions, no catalog version) — the transaction
            # is vacuously complete at the current tip
            return tip
        cat = {
            "version": parent_version + 1,
            "parent": parent_version,
            "ts": time.time(),
            "op": "txn",
            "catalog_id": tip["catalog_id"],
            "txn_id": tid,
            "tables": new_pins,
            # per-app idempotence watermarks ride every catalog commit
            # (same rule as the table-level txn map): the tip alone
            # answers "has stream X landed batch N"
            "txn": {
                **tip.get("txn", {}),
                **({app_id: batch_id} if app_id is not None else {}),
            },
        }
        if _try_write_manifest(spark, catalog_dir, parent_version + 1, cat):
            # the transaction is durable HERE; publication is cleanup
            for name in staged_inputs:
                _publish(spark, new_pins[name])
            return cat
    raise RuntimeError(
        f"lost the catalog commit race {max_retries} times on "
        f"{catalog_dir} — pathological transaction contention"
    )


def catalog_stream_sink(catalog_dir: str, app_id: str, writes_fn):
    """``foreachBatch`` body landing ONE micro-batch into SEVERAL
    tables atomically and exactly-once — the multi-table analog of
    :func:`~.snapshots.snapshot_stream_sink`.  ``writes_fn(batch_df)``
    returns the ``writes`` mapping for :func:`multi_table_txn`
    (typically the fact rows plus a derived lineage/audit row)::

        stream.writeStream.foreachBatch(
            catalog_stream_sink(cat, "ingest", lambda df: {
                "facts": {"op": "append", "df": df},
                "uploads": {"op": "append", "df": lineage_of(df)},
            })
        ).start()

    Structured Streaming re-invokes foreachBatch at-least-once; the
    catalog's per-app watermark makes the replays no-ops, so even a
    lost checkpoint cannot double-land a batch OR tear the pair."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        multi_table_txn(
            batch_df.sparkSession,
            catalog_dir,
            writes_fn(batch_df),
            app_id=app_id,
            batch_id=int(batch_id),
        )

    return sink


def catalog_changes(
    spark: SparkSession,
    catalog_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> dict:
    """TRANSACTION-CONSISTENT incremental read across every enrolled
    table: the rows landed between two CATALOG versions, as ``{name:
    DataFrame | None}`` (None = unchanged).  Because both endpoints are
    catalog versions, the deltas are cut at transaction boundaries —
    the fact delta and its lineage delta always correspond, which
    per-table cursors cannot guarantee (they might straddle a commit).

    The downstream-ETL loop: process ``catalog_changes(cat, cursor)``,
    commit your own output, then advance the cursor to the catalog tip
    you read — exactly-once end-to-end when the output commit carries
    the cursor (e.g. :func:`multi_table_txn` ``app_id/batch_id``).

    Append-only windows only (same contract as
    :func:`~.snapshots.snapshot_incremental_read`): a window in which
    a table REWROTE rows (delete/overwrite/merge) raises — use
    row-level :func:`~.snapshots.snapshot_changes` on that table after
    publication.  COMPACTION steps (the catalog ``compact`` spec) are
    byte-identical rewrites and are SKIPPED, not raised — routine
    maintenance must not break the downstream-ETL loop (the same rule
    the streaming feed applies)."""
    from .snapshots import _filter_sig

    tip = _catalog_tip(spark, catalog_dir)
    if tip is None:
        raise ValueError(f"no catalog at {catalog_dir}")
    if to_version is None:
        to_version = tip["version"]
    if from_version > to_version:
        raise ValueError(
            f"catalog_changes: from {from_version} is ahead of {to_version}"
        )
    to_pins = catalog_pins(spark, catalog_dir, to_version)
    out: dict = {}
    for name in to_pins:
        # walk the window VERSION BY VERSION so a compaction step can be
        # recognized (op tag) and skipped instead of tripping the
        # removed-files guard on the endpoint diff.  from_version == 0
        # means "from before the catalog existed" (versions start at 1
        # — the init commit), the same from-the-beginning spelling
        # snapshot_incremental_read accepts
        prev_m = (
            catalog_resolve(spark, catalog_dir, name, from_version)
            if from_version > 0
            else None
        )
        added: list[str] = []
        added_seen: set[str] = set()
        reader_m = prev_m
        for cv in range(from_version + 1, to_version + 1):
            cur_m = catalog_resolve(spark, catalog_dir, name, cv)
            if cur_m is None:
                continue
            pf = set(prev_m["files"]) if prev_m else set()
            cf = set(cur_m["files"])
            if pf == cf and _filter_sig(prev_m, pf) == _filter_sig(cur_m, pf):
                prev_m = cur_m
                continue  # this txn didn't touch this table
            if cur_m.get("op") == "compact":
                # byte-identical: previously-added files may have been
                # packed away, but their BYTES remain readable until
                # expire and their content is already in `added`
                prev_m = cur_m
                continue
            removed = pf - cf
            if removed:
                raise ValueError(
                    f"catalog_changes: non-append commit on {name!r} at "
                    f"catalog v{cv} removed {len(removed)} file(s) — use "
                    "snapshot_changes for row-level diffs on that table"
                )
            carried = pf & cf
            if _filter_sig(prev_m, carried) != _filter_sig(cur_m, carried):
                raise ValueError(
                    f"catalog_changes: merge-on-read filter change on "
                    f"{name!r} in the window — file-level deltas would "
                    "miss the deletions; use snapshot_changes"
                )
            for f in cur_m["files"]:
                if f not in pf and f not in added_seen:
                    added.append(f)
                    added_seen.add(f)
            prev_m = cur_m
            reader_m = cur_m
        if reader_m is None or not added:
            out[name] = None
            continue
        out[name] = _filtered_read(spark, reader_m, added)
    return out


def catalog_expire(
    spark: SparkSession,
    catalog_dir: str,
    keep_last: int = 1,
    min_age_seconds: float = 0.0,
) -> dict:
    """Retention for the CATALOG log: drop all but the newest
    ``keep_last`` catalog versions (any version younger than
    ``min_age_seconds`` is kept regardless — the in-flight-reader grace
    window, same rule as table-level :func:`~.snapshots
    .expire_snapshots`).  Cross-table time travel beyond the horizon is
    gone afterwards.

    Returns ``{"expired": n, "min_pinned": {name: version}}`` — the
    OLDEST table version any SURVIVING catalog version still pins.
    Size each table's own ``expire_snapshots`` retention so those
    versions survive: a pin referencing an expired table version breaks
    catalog time travel to it (exactly the hazard version-based time
    travel always has under GC).  Publication should precede expiry
    (:func:`catalog_publish`) so staged fallbacks aren't load-bearing
    for historical pins."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    versions = _list_versions(spark, catalog_dir)
    if not versions:
        return {"expired": 0, "min_pinned": {}}
    keep = set(versions[-keep_last:])
    if min_age_seconds > 0:
        cutoff = time.time() - min_age_seconds
        keep.update(
            v
            for v in versions
            if _read_manifest(spark, catalog_dir, v)["ts"] > cutoff
        )
    min_pinned: dict = {}
    for v in sorted(keep):
        for name, pin in _read_manifest(spark, catalog_dir, v)[
            "tables"
        ].items():
            pv = int(pin.get("version", 0))
            if pv and (name not in min_pinned or pv < min_pinned[name]):
                min_pinned[name] = pv
    # deletes are plain byte IO: translate mock-store paths onto file:
    # (identity for Hadoop-native stores) so retention reaches the
    # physical tree the seam wrote
    del_dir = manifest_io_for(catalog_dir, spark).spark_path(catalog_dir)
    fs, _, jvm = _fs_for(spark, del_dir)
    expired = 0
    for v in versions:
        if v not in keep:
            fs.delete(
                _child(jvm, del_dir, _MANIFEST_DIR, _V_FMT % v), False
            )
            expired += 1
    return {"expired": expired, "min_pinned": min_pinned}


def catalog_history(spark: SparkSession, catalog_dir: str) -> list[dict]:
    """Every catalog version: ``{version, ts, op, txn_id, tables:
    {name: version}}`` — the cross-table audit trail."""
    out = []
    for v in _list_versions(spark, catalog_dir):
        m = _read_manifest(spark, catalog_dir, v)
        out.append(
            {
                "version": m["version"],
                "ts": m["ts"],
                "op": m["op"],
                "txn_id": m.get("txn_id"),
                "tables": {
                    k: p["version"] for k, p in m["tables"].items()
                },
            }
        )
    return out


def catalog_layout_report(
    spark: SparkSession,
    catalog_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_catalog_versions: int = 128,
) -> dict:
    """FLEET-level maintenance triage: :func:`~.snapshots
    .snapshot_layout_report` for every table enrolled in the catalog,
    rolled up and ranked — still zero Spark jobs and zero data files
    opened (manifests only), so a scheduler can sweep 10⁴ tables from
    the driver.

    Each table is assessed at its CATALOG-PINNED manifest (staged pins
    included — the catalog's truth, even before publication), not the
    table log's tip, so a sweep racing a transaction never reports a
    half-published state.

    Returns::

        {"tables": {name: per-table report},        # snapshot_layout_report shape
         "ranked": [name, ...],                     # needs-work tables, worst first
         "bytes_at_risk": {name: bytes},            # small + filter-covered bytes
         "writes": {name: [multi_table_txn spec]},  # the healing calls, in order
         "catalog_versions": N,
         "catalog_actions": [...]}                  # e.g. catalog_expire

    ``writes`` is directly executable: each table's specs run in order
    through :func:`multi_table_txn` (``apply_filters`` before
    ``compact`` — drain first, then repack the clean bytes).  Healthy
    tables carry an empty action list and stay out of ``ranked`` —
    an hourly sweep over a healthy fleet does nothing and commits
    nothing.  ``bytes_at_risk`` ranks by what maintenance would
    actually touch: bytes sitting in under-packed files plus bytes in
    files every read must re-filter."""
    from .snapshots import _layout_report

    tip = _catalog_tip(spark, catalog_dir)
    if tip is None:
        raise ValueError(f"no catalog at {catalog_dir}")
    tables: dict = {}
    at_risk: dict = {}
    writes: dict = {}
    for name in tip["tables"]:
        m = catalog_resolve(spark, catalog_dir, name, tip["version"])
        if m is None:  # enrolled but never written
            tables[name] = {
                "files": 0, "rows_total": 0, "bytes_total": 0,
                "recommendations": [], "actions": [],
            }
            at_risk[name] = 0
            writes[name] = []
            continue
        rep = _layout_report(m, target_file_bytes)
        tables[name] = rep
        at_risk[name] = rep["small_bytes"] + rep["filtered_bytes"]
        writes[name] = rep["actions"]
    ranked = sorted(
        (n for n in tables if writes[n]),
        key=lambda n: at_risk[n],
        reverse=True,
    )
    n_versions = len(_list_versions(spark, catalog_dir))
    catalog_actions = []
    if n_versions > max_catalog_versions:
        catalog_actions.append(
            f"catalog_expire: {n_versions} catalog versions on the log "
            f"(> {max_catalog_versions}) — time-travel horizon grows "
            "unbounded otherwise"
        )
    return {
        "tables": tables,
        "ranked": ranked,
        "bytes_at_risk": at_risk,
        "writes": writes,
        "catalog_versions": n_versions,
        "catalog_actions": catalog_actions,
    }


def catalog_maintain(
    spark: SparkSession,
    catalog_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    max_catalog_versions: int = 128,
    dry_run: bool = False,
) -> dict:
    """The whole observe→act maintenance loop in one call: run
    :func:`catalog_layout_report`, execute every recommended write
    spec through :func:`multi_table_txn` (one transaction per action
    round — each table's specs run in their healing order,
    apply_filters before compact), expire the catalog log if the
    report says so, and re-report.

    Returns ``{"before": report, "executed": [{name: spec}, ...],
    "catalog_expired": n, "after": report}``.  ``dry_run=True`` stops
    after the first report (``executed`` empty, ``after`` is None) —
    what a scheduler logs before acting.  A healthy fleet is a no-op:
    no transactions, no catalog versions minted, two manifest-only
    report passes."""
    before = catalog_layout_report(
        spark, catalog_dir, target_file_bytes, max_catalog_versions
    )
    if dry_run:
        return {
            "before": before, "executed": [], "catalog_expired": 0,
            "after": None,
        }
    executed: list = []
    rounds = max((len(v) for v in before["writes"].values()), default=0)
    for i in range(rounds):
        batch = {
            name: specs[i]
            for name, specs in before["writes"].items()
            if i < len(specs)
        }
        if batch:
            prev_tip = _catalog_tip(spark, catalog_dir)["version"]
            res = multi_table_txn(spark, catalog_dir, batch)
            # a vacuous transaction (a concurrent job already healed the
            # table: nothing to pack, no pending filters) returns the
            # unchanged tip and mints no version — recording it as
            # executed would claim a phantom transaction to auditors
            if res is not None and res["version"] > prev_tip:
                executed.append(batch)
    expired = 0
    if before["catalog_actions"]:
        expired = catalog_expire(
            spark, catalog_dir, keep_last=max(1, max_catalog_versions // 2)
        )["expired"]
    after = catalog_layout_report(
        spark, catalog_dir, target_file_bytes, max_catalog_versions
    )
    return {
        "before": before,
        "executed": executed,
        "catalog_expired": expired,
        "after": after,
    }
