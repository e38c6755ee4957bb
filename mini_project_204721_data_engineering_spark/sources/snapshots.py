"""Manifest-based snapshot log over parquet — atomic commits, snapshot
isolation, and time travel WITHOUT a table-format dependency.

The reference ingests by read-modify-rewrite of whole files
(``backend/app/utils.py:565-611``) — a reader racing that rewrite sees
a torn table, and there is no way back after a bad load.  This module
is the minimal clean-room form of the public Iceberg/Delta idea
(Iceberg spec's snapshot+manifest model; Hive-to-Iceberg motivation in
the Netflix/Apache talks), sized to what the engine needs:

- ``data/<commit-uuid>/part-*.parquet`` — every commit writes NEW files
  into its own directory; existing bytes are never touched.
- ``_manifests/v%010d.json`` — a snapshot is an explicit FILE LIST plus
  op metadata.  The manifest is the unit of atomicity: it is created
  with Hadoop ``FileSystem.create(path, overwrite=false)`` — an atomic
  exclusive-create on HDFS-like filesystems — so a version can be won
  by exactly one writer; losers re-read the log and retry on top of
  the new tip (optimistic concurrency).  A crash before the manifest
  write leaves only unreferenced data files: readers never see them,
  and :func:`expire_snapshots` garbage-collects them.
- Readers resolve the tip (or any version / timestamp) and scan the
  file list directly — no directory listing over data at read time,
  the log is file-count-sized, and a reader's plan keeps pointing at
  its snapshot's immutable files no matter what commits after it.

Scale: manifests are driver-side JSON whose size is O(live files), not
O(rows); at 100 TB with compacted ~1 GB files that is ~1e5 entries —
kilobyte-sized wire format per entry, well inside driver comfort, and
the same order Iceberg's own metadata holds before it shards manifests.
Per-file min/max pruning stays with the parquet footers (Spark reads
them anyway); promoting stats into the manifest is the known next rung
and out of scope here.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
import weakref
from typing import Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .manifest_io import manifest_io_for

__all__ = [
    "snapshot_append",
    "snapshot_overwrite",
    "snapshot_delete_where",
    "snapshot_txn_append",
    "snapshot_stream_sink",
    "snapshot_merge_into",
    "snapshot_replace_where",
    "snapshot_apply_filters",
    "snapshot_changes",
    "snapshot_file_changes",
    "snapshot_compact",
    "snapshot_restore",
    "snapshot_clone",
    "read_snapshot",
    "read_snapshot_where",
    "snapshot_count",
    "snapshot_min_max",
    "snapshot_agg",
    "snapshot_ndv",
    "snapshot_plan_info",
    "snapshot_files",
    "snapshot_layout_report",
    "snapshot_history",
    "snapshot_incremental_read",
    "snapshot_rename_column",
    "snapshot_drop_column",
    "snapshot_widen_column",
    "snapshot_set_stats_spec",
    "expire_snapshots",
]


class _AlreadyApplied(Exception):
    """Raised inside the commit loop when the tip already records this
    (app_id, batch_id) — the replayed-batch no-op signal."""

# manifest layout constants live with the IO seam (one definition —
# the seam's listings and the staged-path construction in
# txn_catalog.py must never desynchronize); aliased here for the many
# existing references
from .manifest_io import MANIFEST_DIR as _MANIFEST_DIR
from .manifest_io import V_FMT as _V_FMT

_DATA_DIR = "data"


def _fs_for(spark: SparkSession, path_str: str):
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path_str)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, jpath, jvm


def _byte_dir(spark: SparkSession, table_dir: str) -> str:
    """``table_dir`` translated for PLAIN BYTE IO (data files, DV/bloom/
    ndv sidecars, copies, GC): identity on every Hadoop-native store,
    ``file:`` for the mock object store (whose keyspace is the same
    physical tree).  Commit claims keep the caller's spelling — only
    bytes move through the translation."""
    return manifest_io_for(table_dir, spark).spark_path(table_dir)


def _canon_file(jvm, s: str) -> str:
    """Canonicalize a SCAN-reported file path (``input_file_name()`` /
    ``_metadata.file_path`` — URL-ENCODED URI forms) to the manifest's
    ``Path.toString`` spelling.  ``Path(URI)`` DECODES escaped octets
    ('a%20dir' → 'a dir'); ``Path(String)`` keeps them verbatim, so a
    table path containing a space (or any URI-escapable character)
    would desynchronize every manifest-facing file set built from scan
    output — hit-file lists, stats keys, bloom identities."""
    return str(jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(s)).toString())


def _child(jvm, base: str, *parts: str):
    p = jvm.org.apache.hadoop.fs.Path(base)
    for part in parts:
        p = jvm.org.apache.hadoop.fs.Path(p, part)
    return p


def _list_versions(spark: SparkSession, table_dir: str) -> list[int]:
    return manifest_io_for(table_dir, spark).list_versions(table_dir)


def _read_manifest(spark: SparkSession, table_dir: str, version: int) -> dict:
    return manifest_io_for(table_dir, spark).read_manifest(table_dir, version)


#: session -> {DDL text -> StructType, (DDL text, expression) -> DataType}
_TYPES: weakref.WeakKeyDictionary[SparkSession, dict] = weakref.WeakKeyDictionary()
_TYPES_KEPT = 512
_TYPES_LOCK = threading.Lock()


def _memo_type(spark: SparkSession, key, build):
    """``build()``'s value, kept per session under ``key``; the store
    empties when full (a session sees a handful of schemas)."""
    with _TYPES_LOCK:
        memo = _TYPES.setdefault(spark, {})
        hit = memo.get(key)
    if hit is None:
        hit = build()
        with _TYPES_LOCK:
            if len(memo) >= _TYPES_KEPT:
                memo.clear()
            memo[key] = hit
    return hit


def _schema_of(spark: SparkSession, ddl: str) -> StructType:
    """A manifest's schema DDL parsed once per session (the parse is a
    JVM round trip).  Callers must not mutate the returned schema."""
    from pyspark.sql.types import _parse_datatype_string

    return _memo_type(spark, ddl, lambda: _parse_datatype_string(ddl))


def _expr_type(spark: SparkSession, ddl: str, expr: str):
    """The type of SQL expression ``expr`` over a table of schema
    ``ddl``, analysed once per session; raises what the analysis raises."""
    from pyspark.sql import functions as F

    return _memo_type(
        spark,
        (ddl, expr),
        lambda: spark.createDataFrame([], _schema_of(spark, ddl)).select(F.expr(expr)).schema[0].dataType,
    )


def _try_write_manifest(
    spark: SparkSession, table_dir: str, version: int, manifest: dict
) -> bool:
    """Exclusive-create the manifest for ``version``; False when another
    writer already owns it (the optimistic-concurrency loss signal).
    Atomicity is the manifest-IO layer's contract #1 (`manifest_io.py`
    — link(2) of a complete temp file locally, lease-create on HDFS,
    native conditional-put on registered object stores)."""
    io = manifest_io_for(table_dir, spark)
    payload = json.dumps(manifest, indent=1).encode("utf-8")
    return io.put_if_absent(io.manifest_path(table_dir, version), payload)


def _write_data_files(df: DataFrame, table_dir: str) -> tuple[list[str], StructType]:
    """Write one commit's data files into their own directory; return
    (file paths, the schema written) — the schema lets the commit read
    the new files' stats without a schema-inference job
    (:func:`_file_stats`).  Bytes land BEFORE any manifest points at
    them — a crash here strands orphans, never corrupts the table.
    Data bytes move through Spark on the IO layer's ``spark_path``
    translation (identity except for the mock object store), so
    manifest `files` entries are always Spark/pyarrow-readable paths."""
    spark = df.sparkSession
    commit = uuid.uuid4().hex
    data_dir = manifest_io_for(table_dir, spark).spark_path(table_dir)
    fs, _, jvm = _fs_for(spark, data_dir)
    cdir = _child(jvm, data_dir, _DATA_DIR, commit)
    df.write.mode("error").parquet(str(cdir.toString()))
    statuses = fs.globStatus(_child(jvm, str(cdir.toString()), "part-*"))
    files = sorted(str(s.getPath().toString()) for s in (statuses or []) if s.isFile())
    return files, df.schema


def _carry_filters(parent: dict | None, files: list[str]) -> list[dict]:
    """Default row-filter propagation: keep each pending lazy-delete
    entry (predicate- or deletion-vector-shaped) restricted to the
    files the new snapshot still references — a rewritten/compacted
    file leaves the list (its replacement was read THROUGH the filters,
    so its bytes are already clean), an appended file is never listed,
    a carried file keeps its filter."""
    fset = set(files)
    out = []
    for e in (parent or {}).get("row_filters", []):
        kept = [f for f in e["files"] if f in fset]
        if kept:
            out.append({**e, "files": kept})
    return out


def _entry_sig(e: dict) -> str:
    """Canonical identity of one row-filter entry: the predicate text,
    or the deletion-vector sidecar path (immutable bytes → stable id)."""
    return e["predicate"] if "predicate" in e else "dv:" + e["dv"]


def _rewrite_guard(base_manifest: dict, op: str):
    """The conservative-serializable check every CoW rewrite shares:
    abort unless the winning parent's FILE SET and its LAZY-DELETE
    FILTER STATE are exactly what this rewrite read.  The filter check
    is load-bearing — a concurrent lazy delete (or a restore) changes
    visible rows WITHOUT changing the file list, so a file-set-only
    guard would let the retry prune the interloper's filter entry while
    committing bytes that never applied it: a committed takedown
    silently resurrected."""
    base_files = set(base_manifest["files"])
    base_sig = _filter_sig(base_manifest, base_files)

    def guard(parent):
        if (
            set(parent["files"] if parent else []) != base_files
            or _filter_sig(parent, base_files) != base_sig
        ):
            raise RuntimeError(
                f"concurrent commit during {op} (the tip's files or "
                "lazy-delete filter state moved past the base this "
                "rewrite read) — re-run on the new tip"
            )

    return guard


def _commit(
    spark: SparkSession,
    table_dir: str,
    op: str,
    files_fn,
    schema_ddl,
    meta: dict | None = None,
    max_retries: int = 20,
    txn_update: dict | None = None,
    txn_replace: dict | None = None,
    stats_fn=None,
    row_filters_fn=None,
    bloom_fn=None,
    ndv_fn=None,
    evo_fn=None,
    spec_fn=None,
) -> dict:
    """The optimistic-concurrency loop: resolve the tip, build the new
    file list via ``files_fn(parent_manifest)``, claim the next version;
    on a lost race, re-resolve and rebuild on the new tip.

    ``schema_ddl`` may be a callable ``parent_manifest -> ddl`` (schema
    evolution must re-derive against the tip that actually wins);
    ``stats_fn(parent, files) -> (stats dict, stats_cols, file_meta)``
    likewise (file_meta: per-file ``{"rows", "bytes"}``).
    ``row_filters_fn(parent, files) -> list`` overrides the default
    carry-prune of pending lazy-delete filters (:func:`_carry_filters`)
    — restore/clone replace them wholesale, a lazy delete appends an
    entry.  ``bloom_fn(parent, files) -> dict | None`` likewise
    overrides the default bloom carry (:func:`_carry_bloom` + sticky
    cols) — bloom-building commits append their entry, restore/clone
    replace wholesale.  ``evo_fn(parent) -> (renames, reserved_cols)``
    overrides the default carry of the schema-evolution bookkeeping
    (rename chains + names old files still physically carry):
    rename/drop update it, overwrite clears it (no old files survive a
    full replace), restore/clone take their target's."""
    import random

    for attempt in range(max_retries):
        if attempt:
            # jittered exponential backoff after a lost race: N writers
            # re-resolving the tip in lockstep re-collide every round
            # (thundering herd); full jitter spreads them out, measured
            # at 8 concurrent mixed writers in `scale_probe
            # snap-contention`.  Capped small — a claim is only a
            # manifest read + exclusive create, so long sleeps just idle
            # the writer.
            time.sleep(random.uniform(0, min(0.02 * (2 ** min(attempt, 5)), 0.4)))
        versions = _list_versions(spark, table_dir)
        parent = versions[-1] if versions else 0
        parent_manifest = (
            _read_manifest(spark, table_dir, parent) if versions else None
        )
        manifest = _build_manifest(
            parent_manifest, parent, op, files_fn, schema_ddl,
            meta=meta, txn_update=txn_update, txn_replace=txn_replace,
            stats_fn=stats_fn, row_filters_fn=row_filters_fn,
            bloom_fn=bloom_fn, ndv_fn=ndv_fn, evo_fn=evo_fn,
            spec_fn=spec_fn,
        )
        if _try_write_manifest(spark, table_dir, parent + 1, manifest):
            return manifest
    raise RuntimeError(
        f"lost the commit race {max_retries} times on {table_dir} — "
        "pathological writer contention; serialize writers or raise max_retries"
    )


def _build_manifest(
    parent_manifest: dict | None,
    parent: int,
    op: str,
    files_fn,
    schema_ddl,
    meta: dict | None = None,
    txn_update: dict | None = None,
    txn_replace: dict | None = None,
    stats_fn=None,
    row_filters_fn=None,
    bloom_fn=None,
    ndv_fn=None,
    evo_fn=None,
    spec_fn=None,
) -> dict:
    """Build the would-be manifest for version ``parent + 1`` on top of
    ``parent_manifest`` — the pure (no I/O claim) half of
    :func:`_commit`, shared with the multi-table transaction STAGING
    path (`txn_catalog.py`), which builds against a catalog-pinned
    parent instead of the table tip and publishes the version claim
    only after the catalog commit wins."""
    files = files_fn(parent_manifest)
    ddl = schema_ddl(parent_manifest) if callable(schema_ddl) else schema_ddl
    manifest = {
        "version": parent + 1,
        "parent": parent,
        "ts": time.time(),
        "op": op,
        "schema": ddl,
        # a stable identity for the LOG itself (minted at v1,
        # inherited forever): consumers holding a cursor can tell a
        # recreated table from the one they were following even when
        # the new log has grown past their cursor version
        "table_id": (parent_manifest or {}).get("table_id") or uuid.uuid4().hex,
        "files": files,
        # the per-app transaction watermarks ride EVERY commit so the
        # tip alone answers "has stream X applied batch N" — a plain
        # append/overwrite/delete between stream batches must not
        # amnesia the stream's progress
        "txn": (
            dict(txn_replace)
            if txn_replace is not None
            else {
                **(parent_manifest or {}).get("txn", {}),
                **(txn_update or {}),
            }
        ),
        "meta": meta or {},
    }
    if stats_fn is not None:
        stats, stats_cols, file_meta = stats_fn(parent_manifest, files)
        if stats_cols:
            manifest["stats"] = stats
            manifest["stats_cols"] = stats_cols
        if file_meta:
            manifest["file_meta"] = file_meta
    filters = (
        row_filters_fn(parent_manifest, files)
        if row_filters_fn is not None
        else _carry_filters(parent_manifest, files)
    )
    if filters:
        manifest["row_filters"] = filters
    if bloom_fn is not None:
        bloom = bloom_fn(parent_manifest, files)
    else:
        pb = (parent_manifest or {}).get("bloom") or {}
        entries = _carry_bloom(parent_manifest, files)
        bloom = (
            {"cols": pb.get("cols", []), "entries": entries}
            if (pb.get("cols") or entries)
            else None
        )
    if bloom:
        manifest["bloom"] = bloom
    if ndv_fn is not None:
        ndv = ndv_fn(parent_manifest, files)
    else:
        pn = (parent_manifest or {}).get("ndv") or {}
        nentries = _carry_ndv(parent_manifest, files)
        ndv = (
            {"cols": pn.get("cols", []), "entries": nentries}
            if (pn.get("cols") or nentries)
            else None
        )
    if ndv:
        manifest["ndv"] = ndv
    if evo_fn is not None:
        renames, reserved = evo_fn(parent_manifest)
    else:
        renames = dict((parent_manifest or {}).get("renames", {}))
        reserved = list((parent_manifest or {}).get("reserved_cols", []))
    if renames:
        manifest["renames"] = renames
    if reserved:
        manifest["reserved_cols"] = sorted(set(reserved))
    # partition-spec evolution bookkeeping: which spec each OLD file's
    # stats were computed under (absent = current spec).  Default carry:
    # pins follow surviving files (a rewritten/compacted file gets fresh
    # current-spec stats, so its pin drops); history rides while any pin
    # references it.  snapshot_set_stats_spec overrides via spec_fn.
    if spec_fn is not None:
        fspec, spec_hist = spec_fn(parent_manifest)
    else:
        fset = set(files)
        fspec = {
            f: i
            for f, i in ((parent_manifest or {}).get("file_spec") or {}).items()
            if f in fset
        }
        spec_hist = list((parent_manifest or {}).get("spec_history") or [])
    if fspec:
        manifest["file_spec"] = fspec
        manifest["spec_history"] = spec_hist
    return manifest


def _check_schema(parent: dict | None, ddl: str, op: str) -> None:
    if parent is not None and parent["schema"] != ddl:
        raise ValueError(
            f"{op}: schema {ddl!r} does not match table schema "
            f"{parent['schema']!r}; pass merge_schema=True for additive "
            "evolution, or snapshot_overwrite for a full schema change"
        )


_WIDEN_RANK = {"tinyint": 0, "smallint": 1, "int": 2, "bigint": 3}


def _wider_type(a, b):
    """The wider of two types when the pair is LOSSLESSLY widenable
    under the manifest-pinned read model, else None.  Safe pairs are
    exactly those Spark 4's parquet reader upcasts at scan time
    (verified by the widening pytest, not assumed): the integer chain
    tinyint→smallint→int→bigint, float→double, and decimal precision
    growth at UNCHANGED scale.  Anything else (string/int, scale
    change, date/timestamp) is a semantic change, not a widening —
    refuse."""
    from pyspark.sql.types import DecimalType

    if a == b:
        return a
    sa, sb = a.simpleString(), b.simpleString()
    if sa in _WIDEN_RANK and sb in _WIDEN_RANK:
        return a if _WIDEN_RANK[sa] >= _WIDEN_RANK[sb] else b
    if {sa, sb} == {"float", "double"}:
        return a if sa == "double" else b
    if (
        isinstance(a, DecimalType)
        and isinstance(b, DecimalType)
        and a.scale == b.scale
    ):
        return a if a.precision >= b.precision else b
    return None


def _merged_schema(parent_ddl: str, df_schema) -> str:
    """Additive by-name schema merge: parent columns keep their place;
    NEW df columns append; a shared column whose two types are
    losslessly widenable takes the WIDER type (int→long, float→double,
    decimal precision at fixed scale — in EITHER direction, since the
    manifest-pinned read upcasts narrow files at scan time, so neither
    the old files nor the new ones rewrite).  Any other type conflict
    refuses (silent coercion is a correctness bug factory)."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    old = _parse_datatype_string(parent_ddl)
    old_types = {f.name: f.dataType for f in old.fields}
    widened = {}
    for f in df_schema.fields:
        if f.name in old_types and old_types[f.name] != f.dataType:
            w = _wider_type(old_types[f.name], f.dataType)
            if w is None:
                raise ValueError(
                    f"merge_schema: column {f.name!r} is "
                    f"{old_types[f.name].simpleString()} in the table but "
                    f"{f.dataType.simpleString()} in the append, and the pair "
                    "is not losslessly widenable"
                )
            widened[f.name] = w
    merged = [
        StructField(f.name, widened.get(f.name, f.dataType), True)
        for f in old.fields
    ] + [f for f in df_schema.fields if f.name not in old_types]
    return StructType(merged).simpleString()


def _json_safe(v):
    import datetime

    if v is None or isinstance(v, (int, float, str, bool)):
        return v
    if isinstance(v, datetime.datetime):
        # SQL spelling (space separator): prune bounds are written the
        # way SQL writes timestamps, and isoformat's 'T' (0x54) would
        # sort ABOVE ' ' (0x20) and mis-prune files lexicographically
        return v.isoformat(sep=" ")
    iso = getattr(v, "isoformat", None)
    if iso is not None:
        return iso()
    return None  # unsupported stats type: recorded absent, file never pruned


_STATS_STR_CAP = 16  # string min/max bounds longer than this truncate


def _trunc_bound(v: str, upper: bool) -> str | None:
    """Truncate a string stats bound to ``_STATS_STR_CAP`` chars while
    staying a SOUND bound (Iceberg's truncate-with-increment idea): the
    lower bound is the plain prefix (≤ every value sharing it); the
    upper bound is the prefix with its last incrementable code point
    bumped (> every value sharing it), skipping the surrogate block
    (not valid interchange text) and dropping trailing U+10FFFF chars
    that cannot bump — all-max prefixes return None (no finite upper at
    this length; the file is then never upper-pruned on the column).
    Truncated bounds are padded to EXACTLY cap length with NUL so
    consumers needing exactness (:func:`snapshot_min_max`) can detect
    'possibly truncated' by length alone."""
    if len(v) <= _STATS_STR_CAP:
        return v
    p = v[:_STATS_STR_CAP]
    if not upper:
        return p
    chars = list(p)
    for i in range(len(chars) - 1, -1, -1):
        cp = ord(chars[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:
                nxt = 0xE000
            # NUL-pad: appending only INCREASES a string in code-point
            # order, so the padded value is still an upper bound — and
            # every truncated bound is exactly cap-length, detectably
            return ("".join(chars[:i]) + chr(nxt)).ljust(
                _STATS_STR_CAP, "\x00"
            )
    return None


def _norm_stats(spec) -> dict[str, str]:
    """Stats spec → {alias: SQL expr}.  A plain column list means
    identity stats; a mapping gives DERIVED stats ("hidden partitioning
    lite": record min/max of e.g. ``CAST(ts AS DATE)`` per file and
    prune time-range reads without a physical partition column)."""
    if spec is None:
        return {}
    if isinstance(spec, Mapping):
        return {str(k): str(v) for k, v in spec.items()}
    return {str(c): str(c) for c in spec}


def _file_stats(
    spark: SparkSession, files: list[str], stats: dict[str, str],
    schema: StructType | None = None,
) -> tuple[dict, dict]:
    """Per-file (min/max stats, row/byte meta) over exactly the given
    files — ONE column-pruned scan of THIS COMMIT's files only (never
    the table); with no stats expressions the scan touches only the
    parquet metadata columns (row-count-only batches, no data pages).
    Returns ``(stats, file_meta)``: stats values land JSON-safe (a type
    that can't — complex cols — records absent, which pruning treats as
    'always keep'); ``file_meta`` is ``{file: {"rows": n, "bytes": b}}``
    — rows from the same aggregate, bytes from the scan-bound
    ``_metadata.file_size`` (no per-file driver RPCs).  ``schema`` is
    the schema the files were just written with, when the caller holds
    it: the scan then skips Spark's schema-inference job."""
    from pyspark.sql import functions as F

    if not files:
        return {}, {}
    fs, _, jvm = _fs_for(spark, files[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    scan = reader.parquet(*files)
    # one analysis resolves the whole spec; a merge_schema append may
    # legitimately omit a stats column — those files simply record no
    # stats for it (never pruned on it) instead of failing the whole
    # commit on an unresolvable expression
    cols = {}
    dtypes = {}
    try:
        if stats:
            fields = _stats_select(scan, stats).schema
            cols = dict(stats)
            dtypes = {alias: f.dataType for alias, f in zip(stats, fields)}
    except Exception:
        for alias, expr in stats.items():
            try:
                dtypes[alias] = _stats_select(scan, {alias: expr}).schema[0].dataType
                cols[alias] = expr
            except Exception:
                continue
    from pyspark.sql.types import (
        ByteType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
    )

    aggs = [
        F.count(F.lit(1)).alias("__rows"),
        F.min(F.col("_metadata.file_size")).alias("__bytes"),
    ]
    # per-file SUM for numeric stats expressions — the 4th stats-entry
    # element feeding :func:`snapshot_agg`'s metadata-only rollups.
    # Integrals sum through decimal(38,0) (exact, overflow-proof even
    # under ANSI — a bigint file sum could otherwise abort the commit's
    # stats job); float/double sum natively (NaN propagates, recorded
    # as-is — json round-trips it).  Other types record no sum (legacy
    # 3-element entry) and snapshot_agg falls back to scanning them.
    sum_kind: dict[str, str] = {}
    for alias in cols:
        dt = dtypes[alias]
        if isinstance(dt, (ByteType, ShortType, IntegerType, LongType)):
            sum_kind[alias] = "int"
        elif isinstance(dt, (FloatType, DoubleType)):
            sum_kind[alias] = "float"
    for alias, expr in cols.items():
        aggs += [
            F.min(F.expr(expr)).alias(f"__mn_{alias}"),
            F.max(F.expr(expr)).alias(f"__mx_{alias}"),
            # null count per stats expression: [mn, mx, nulls] — lets
            # IS NULL atoms prune null-free files and IS NOT NULL /
            # range atoms prune all-null files (with rows from
            # file_meta).  Readers accept legacy 2-element entries.
            (F.count(F.lit(1)) - F.count(F.expr(expr))).alias(f"__nl_{alias}"),
        ]
        kind = sum_kind.get(alias)
        if kind == "int":
            aggs.append(
                F.sum(F.expr(expr).cast("decimal(38,0)")).alias(f"__sm_{alias}")
            )
        elif kind == "float":
            aggs.append(F.sum(F.expr(expr)).alias(f"__sm_{alias}"))
    rows = (
        scan
        .groupBy(F.input_file_name().alias("__f"))
        .agg(*aggs)
        .collect()
    )
    def bound(raw, upper: bool):
        # truncate ONLY true string-column values: date/timestamp stats
        # arrive as datetime objects (their ISO spelling is the prune
        # comparison's contract and must stay whole); a long text value
        # would otherwise embed entire documents in every manifest
        v = _json_safe(raw)
        if isinstance(raw, str) and isinstance(v, str) and len(v) > _STATS_STR_CAP:
            return _trunc_bound(v, upper)
        return v

    def file_sum(r, c):
        raw = r[f"__sm_{c}"]
        if raw is None:  # all-null file: SQL SUM is NULL
            return None
        return int(raw) if sum_kind[c] == "int" else float(raw)

    stats_out, meta_out = {}, {}
    for r in rows:
        key = _canon_file(jvm, r["__f"])
        meta_out[key] = {"rows": int(r["__rows"]), "bytes": int(r["__bytes"])}
        if cols:
            stats_out[key] = {
                c: [
                    bound(r[f"__mn_{c}"], False),
                    bound(r[f"__mx_{c}"], True),
                    int(r[f"__nl_{c}"]),
                ]
                + ([file_sum(r, c)] if c in sum_kind else [])
                for c in cols
            }
    # ZERO-ROW files produce no group: backfill rows=0 (+ the file's
    # real size) so the metadata-only invariant holds unconditionally —
    # an explicit repartition(k) routinely writes empty part files, and
    # a missing entry would put them in snapshot_count's scan-fallback
    # set on EVERY call, forever (carried files never re-scan).  Sizes
    # come from ONE directory listing per commit dir, not a
    # getFileStatus RPC per empty file (a sparse repartition(2000) on
    # an object store would otherwise pay ~2000 round-trips per commit)
    missing = {f for f in files if f not in meta_out}
    if missing:
        parents = {}
        for f in missing:
            p = jvm.org.apache.hadoop.fs.Path(f)
            parents.setdefault(str(p.getParent().toString()), set()).add(f)
        for d, wanted in parents.items():
            for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(d)):
                key = str(st.getPath().toString())
                if key in wanted:
                    meta_out[key] = {"rows": 0, "bytes": int(st.getLen())}
        for f in missing - set(meta_out):  # listing raced a delete: RPC
            meta_out[f] = {
                "rows": 0,
                "bytes": int(
                    fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
                ),
            }
    return stats_out, meta_out


def _validate_stats(df: DataFrame, stats_cols) -> None:
    """An EXPLICITLY passed stats spec that doesn't even resolve against
    the frame being written is a caller mistake that must raise NOW —
    silently recording no stats would leave every 100 TB read unpruned
    while the user believes otherwise.  (Sticky inherited specs stay
    tolerant: schema evolution may legitimately outgrow them.)"""
    spec = _norm_stats(stats_cols)
    try:
        if spec:
            _stats_select(df, spec)
        return
    except Exception:
        pass  # the loop below names the expression that fails
    for alias, expr in spec.items():
        try:
            _stats_select(df, {alias: expr})
        except Exception as e:
            raise ValueError(
                f"stats_cols[{alias!r}] = {expr!r} does not resolve against "
                f"the written frame: {e}"
            ) from e


def _stats_select(df: DataFrame, spec: dict[str, str]) -> DataFrame:
    """``df`` selecting every stats expression of ``spec`` in spec order:
    one analysis for the whole spec, which raises if any does not
    resolve."""
    from pyspark.sql import functions as F

    return df.select(*(F.expr(e) for e in spec.values()))


def _compose_stats(
    spark, new_files: list[str], stats_cols, schema: StructType | None = None
):
    """stats_fn for append-shaped commits: parent stats AND parent
    file_meta (rows/bytes) for carried files + freshly computed values
    for this commit's files — ONE scan of the new files covers both.
    The column set is sticky — parent's ``stats_cols`` wins when the
    caller passes none, so one configured writer keeps the whole chain
    pruned.  file_meta is UNCONDITIONAL (no opt-in): every commit
    records per-file row and byte counts, which is what lets
    :func:`snapshot_count` / :func:`snapshot_min_max` answer from the
    manifest and :func:`snapshot_compact` plan without per-file RPCs.
    Commits that have just written a frame pass its ``schema`` (see
    :func:`_file_stats`)."""

    fresh_cache: dict[str, tuple[dict, dict]] = {}  # keyed by column set

    def stats_fn(parent, files):
        cols = _norm_stats(
            stats_cols
            if stats_cols is not None
            else (parent or {}).get("stats_cols", [])
        )
        parent_stats = (parent or {}).get("stats", {})
        parent_meta = (parent or {}).get("file_meta", {})
        # memoized: the commit-retry loop re-invokes stats_fn against
        # each new tip, but new_files never change — one Spark stats
        # job per column set, not one per lost race
        key = "\x00".join(f"{a}={e}" for a, e in sorted(cols.items()))
        if key not in fresh_cache:
            fresh_cache[key] = _file_stats(spark, new_files, cols, schema)
        fresh, fresh_meta = fresh_cache[key]
        meta = {
            f: m for f in files
            if (m := parent_meta.get(f) or fresh_meta.get(f)) is not None
        }
        if not cols:
            return {}, {}, meta
        return (
            {f: (parent_stats.get(f) or fresh.get(f)) for f in files
             if (parent_stats.get(f) or fresh.get(f)) is not None},
            cols,
            meta,
        )

    return stats_fn


def snapshot_append(
    df: DataFrame,
    table_dir: str,
    merge_schema: bool = False,
    stats_cols: Sequence[str] | Mapping[str, str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    ndv_cols: Sequence[str] | None = None,
) -> dict:
    """Atomically append ``df``: new snapshot = parent's files + this
    commit's files.  Safe under concurrent appenders (each lands its own
    version; a lost race retries on the new tip — file lists compose, so
    appends never conflict semantically).  Returns the manifest.

    ``merge_schema=True`` allows ADDITIVE by-name evolution: new columns
    append to the table schema; old files read them as NULL (the reader
    pins the manifest schema, so this is purely metadata).  A shared
    column whose types are LOSSLESSLY widenable (int-chain→bigint,
    float→double, decimal precision at fixed scale) merges to the wider
    type — scan-time upcast, zero rewrite; any other type conflict
    refuses.  ``stats_cols`` records per-file min/max in
    the manifest for :func:`read_snapshot` file pruning; the column set
    is sticky across the commit chain.  A MAPPING gives DERIVED stats —
    hidden-partitioning lite: ``{"day": "CAST(ts AS DATE)"}`` records
    per-file day ranges so time-range reads prune with no physical
    partition column (ISO date/timestamp strings compare correctly as
    prune bounds).  ``bloom_cols`` builds per-file split-block Bloom
    sidecars for this commit's files (integral/string point-lookup
    keys — :func:`_build_bloom_entry`), consulted by
    :func:`read_snapshot_where` for ``=``/``IN`` atoms where min/max
    ranges can't prune; sticky like ``stats_cols``."""
    spark = df.sparkSession
    ddl = df.schema.simpleString()
    if stats_cols is not None:
        _validate_stats(df, stats_cols)
    if bloom_cols is not None:  # caller mistakes raise BEFORE bytes move
        _bloom_build_cols(df.schema, bloom_cols, explicit=True)
    if ndv_cols is not None:
        _ndv_build_cols(df.schema, ndv_cols, explicit=True)
    new_files, _ = _write_data_files(df, table_dir)

    def files_fn(parent):
        if not merge_schema:
            _check_schema(parent, ddl, "snapshot_append")
        return (parent["files"] if parent else []) + new_files

    def schema_fn(parent):
        if parent is None or not merge_schema:
            return ddl
        merged = _merged_schema(parent["schema"], df.schema)
        # a merged-in NEW column must not reuse a dropped/renamed-away
        # name old files still physically carry (by-name resurrection)
        _guard_reserved(parent, merged, "snapshot_append(merge_schema)")
        return merged

    return _bloom_guarded_commit(
        spark, table_dir, new_files, bloom_cols, df.schema,
        lambda bloom_fn, ndv_fn: _commit(
            spark, table_dir, "append", files_fn, schema_fn,
            meta={"added_files": len(new_files)},
            stats_fn=_compose_stats(spark, new_files, stats_cols, df.schema),
            bloom_fn=bloom_fn,
            ndv_fn=ndv_fn,
        ),
        ndv_cols=ndv_cols,
    )


def snapshot_overwrite(
    df: DataFrame, table_dir: str,
    stats_cols: Sequence[str] | Mapping[str, str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    ndv_cols: Sequence[str] | None = None,
) -> dict:
    """Atomically replace the table contents (logical TRUNCATE+INSERT).
    Prior snapshots stay readable via time travel until expired; this is
    also the declared full-schema-change path.  ``bloom_cols`` as in
    :func:`snapshot_append` (sticky — a sticky column the new schema
    doesn't support simply builds nothing THIS commit while staying
    configured, like sticky stats; old entries never carry through a
    full replace because their files depart)."""
    spark = df.sparkSession
    if stats_cols is not None:
        _validate_stats(df, stats_cols)
    if bloom_cols is not None:
        _bloom_build_cols(df.schema, bloom_cols, explicit=True)
    if ndv_cols is not None:
        _ndv_build_cols(df.schema, ndv_cols, explicit=True)
    new_files, _ = _write_data_files(df, table_dir)

    # _compose_stats serves the overwrite too: its parent-carry branch
    # never fires (every file is freshly written), leaving exactly the
    # sticky-column resolution + memoized fresh stats an overwrite
    # needs — one shared implementation, one place to fix
    return _bloom_guarded_commit(
        spark, table_dir, new_files, bloom_cols, df.schema,
        lambda bloom_fn, ndv_fn: _commit(
            spark, table_dir, "overwrite", lambda parent: list(new_files),
            df.schema.simpleString(), meta={"added_files": len(new_files)},
            stats_fn=_compose_stats(spark, new_files, stats_cols, df.schema),
            bloom_fn=bloom_fn,
            ndv_fn=ndv_fn,
            # a full replace leaves no old-name files: rename chains and
            # reserved names clear (this is the documented rebuild path)
            evo_fn=lambda parent: ({}, []),
        ),
        ndv_cols=ndv_cols,
    )


def snapshot_txn_append(
    df: DataFrame, table_dir: str, app_id: str, batch_id: int,
    stats_cols: Sequence[str] | Mapping[str, str] | None = None,
) -> dict | None:
    """Idempotent transactional append — the exactly-once building block
    for streaming.  Every commit carries a per-app watermark map
    ``txn: {app_id: last_batch_id}`` forward from its parent; an append
    whose ``batch_id`` is ≤ the tip's watermark for ``app_id`` is a
    NO-OP returning None (the Delta ``txn`` appId/version idea).  The
    check runs INSIDE the optimistic-commit loop, so it re-evaluates
    against the new tip after every lost race — two workers replaying
    the same batch cannot both land it.

    A skipped replay may still have written data files (bytes before
    manifest); they are unreferenced orphans, invisible to readers and
    swept by :func:`expire_snapshots`.  ``stats_cols`` as in
    :func:`snapshot_append` (sticky — the first batch of a stream
    typically configures it, later batches inherit)."""
    spark = df.sparkSession
    ddl = df.schema.simpleString()
    if stats_cols is not None:
        _validate_stats(df, stats_cols)
    # fast path: tip already has it — skip before paying the data write
    versions = _list_versions(spark, table_dir)
    if versions:
        tip = _read_manifest(spark, table_dir, versions[-1])
        if tip.get("txn", {}).get(app_id, -1) >= batch_id:
            return None
    new_files, _ = _write_data_files(df, table_dir)

    def files_fn(parent):
        if parent is not None and parent.get("txn", {}).get(app_id, -1) >= batch_id:
            raise _AlreadyApplied()
        _check_schema(parent, ddl, "snapshot_txn_append")
        return (parent["files"] if parent else []) + new_files

    try:
        return _commit(
            spark, table_dir, "append", files_fn, ddl,
            meta={"added_files": len(new_files), "app_id": app_id,
                  "batch_id": batch_id},
            txn_update={app_id: batch_id},
            stats_fn=_compose_stats(spark, new_files, stats_cols, df.schema),  # sticky
        )
    except _AlreadyApplied:
        return None


def snapshot_stream_sink(table_dir: str, app_id: str):
    """``foreachBatch`` body landing a stream into the snapshot log with
    exactly-once TABLE state: Structured Streaming's checkpoint gives
    at-least-once foreachBatch invocation; the txn watermark makes the
    duplicate invocations no-ops, so even a replay from a lost
    checkpoint cannot double-append (pytest-pinned).  Usage::

        stream.writeStream.foreachBatch(
            snapshot_stream_sink(path, "curated-events")
        ).start()
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        snapshot_txn_append(batch_df, table_dir, app_id, int(batch_id))

    return sink


def _filtered_read(
    spark: SparkSession,
    manifest: dict,
    files: Sequence[str],
    schema=None,
    with_position: bool = False,
) -> DataFrame:
    """Read ``files`` under ``manifest``'s pinned schema, applying the
    manifest's pending lazy-delete row filters to EXACTLY the files each
    entry covers (merge-on-read).  Files are grouped by their applicable
    filter set — one group per DISTINCT combination of covering
    takedowns (in practice the unfiltered group plus ~one per live
    takedown; overlapping coverage adds intersection groups) — so the
    plan stays a small union of scans; every ``(predicate) IS NOT
    TRUE`` is a codegen filter pushed at its group's scan.

    Deletion-vector entries (``{"dv": sidecar, "files": [...]}``) apply
    as ONE broadcast anti-join per group on ``(file_path, row_index)``
    — stacked DV takedowns union their sidecars first, so read overhead
    is O(1) joins per covered file regardless of how many takedowns are
    pending.  ``with_position=True`` keeps the ``__dv_file``/
    ``__dv_pos`` physical-position columns in the output (the DV commit
    path's hit scan needs them); they are internal names, dropped by
    default.

    All internal data reads (rewrites included) MUST come through here:
    bypassing it would resurrect lazily-deleted rows."""
    from pyspark.sql import functions as F

    if schema is None:
        schema = _schema_of(spark, manifest["schema"])
    files = list(files)
    if not files:
        df = spark.createDataFrame([], schema)
        if with_position:
            df = df.select(
                "*",
                F.lit(None).cast("string").alias("__dv_file"),
                F.lit(None).cast("long").alias("__dv_pos"),
            )
        return df
    filters = manifest.get("row_filters") or []
    # column-rename repair (snapshot_rename_column): files written
    # before a rename physically carry the OLD name — read them through
    # a schema augmented with every old name (same type as its current
    # column; by-name parquet matching fills the absent side with NULL)
    # and coalesce the chain into the current name.  Each file holds at
    # most ONE of the chain's names (the reserved-name guard refuses
    # re-adding the others), so the coalesce picks exactly the file's
    # physical column; files written after the rename pay one no-op
    # projection.  The repair runs INSIDE scan() so every downstream
    # consumer — stored lazy-delete predicates included — sees only
    # current names.
    renames = {
        new: olds
        for new, olds in (manifest.get("renames") or {}).items()
        if new in {f.name for f in schema.fields}
    }

    def scan(fl, need_position):
        read_schema = schema
        if renames:
            from pyspark.sql.types import StructField, StructType

            types = {f.name: f.dataType for f in schema.fields}
            read_schema = StructType(
                list(schema.fields)
                + [
                    StructField(old, types[new], True)
                    for new, olds in renames.items()
                    for old in olds
                ]
            )
        df = spark.read.schema(read_schema).parquet(*fl)
        if need_position:
            # physical position: parquet row index is stable per file
            # regardless of how Spark splits the file across partitions
            # (selected BEFORE the rename repair's projections — the
            # _metadata pseudo-column resolves against the raw scan)
            df = df.select(
                "*",
                F.col("_metadata.file_path").alias("__dv_file"),
                F.col("_metadata.row_index").alias("__dv_pos"),
            )
        for new, olds in renames.items():
            df = df.withColumn(
                new, F.coalesce(F.col(new), *[F.col(o) for o in olds])
            ).drop(*olds)
        return df

    if not filters:
        return scan(files, with_position)
    covers = [set(e["files"]) for e in filters]
    groups: dict[tuple, list[str]] = {}
    for f in files:
        sig = tuple(i for i, cov in enumerate(covers) if f in cov)
        groups.setdefault(sig, []).append(f)
    parts = []
    for sig, fl in groups.items():
        dv_idx = [i for i in sig if "dv" in filters[i]]
        df = scan(fl, with_position or bool(dv_idx))
        if dv_idx:
            # union the group's sidecars → ONE anti-join however many
            # takedowns are stacked; positions were recorded from the
            # same _metadata columns, so the spellings match exactly
            rm = spark.read.parquet(filters[dv_idx[0]]["dv"])
            for i in dv_idx[1:]:
                rm = rm.unionByName(spark.read.parquet(filters[i]["dv"]))
            # no broadcast hint: the sidecar's size is known to the
            # planner, so small DVs broadcast on their own while a
            # billion-position DV falls back to a shuffled anti-join
            # instead of OOMing the driver
            rm = rm.withColumnRenamed("file", "__rm_file").withColumnRenamed(
                "pos", "__rm_pos"
            )
            df = df.join(
                rm,
                (F.col("__dv_file") == F.col("__rm_file"))
                & (F.col("__dv_pos") == F.col("__rm_pos")),
                "left_anti",
            )
            if not with_position:
                df = df.drop("__dv_file", "__dv_pos")
        for i in sig:
            if "dv" in filters[i]:
                continue
            # IS NOT TRUE, not NOT(pred): SQL DELETE removes exactly the
            # pred=TRUE rows (Delta/Iceberg semantics) — under NOT(pred) a
            # row whose predicate evaluates NULL would survive or die
            # depending on which physical file it shares with a TRUE row
            df = df.filter(f"({filters[i]['predicate']}) IS NOT TRUE")
        parts.append(df)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _resolve_manifest(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of: float | None = None,
) -> dict:
    """Resolve the manifest a read should pin: the tip by default, an
    explicit ``version``, or the newest snapshot committed at/before
    unix-time ``as_of`` (time travel) — one shared resolver for
    :func:`read_snapshot` and the metadata-only aggregate family."""
    if version is not None and as_of is not None:
        raise ValueError("pass version OR as_of, not both")
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    if version is None:
        if as_of is None:
            version = versions[-1]
        else:
            eligible = [
                v for v in versions
                if _read_manifest(spark, table_dir, v)["ts"] <= as_of
            ]
            if not eligible:
                raise ValueError(f"no snapshot at or before ts={as_of}")
            version = eligible[-1]
    elif version not in versions:
        raise ValueError(f"version {version} not in log (have {versions[:5]}...)")
    return _read_manifest(spark, table_dir, version)


def read_snapshot(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of: float | None = None,
    prune: dict | None = None,
) -> DataFrame:
    """Read a snapshot: the tip by default, an explicit ``version``, or
    the newest snapshot committed at/before unix-time ``as_of`` (time
    travel).  The scan is pinned to the manifest's explicit file list —
    immutable bytes, so concurrent commits never tear this reader.

    ``prune={"col": (lo, hi)}`` drops files whose manifest-recorded
    min/max range (``stats_cols`` at write time) is provably disjoint
    from ``[lo, hi]`` BEFORE the scan plan exists — at 100 TB this is
    the difference between planning over ~1e5 files and the handful a
    time- or key-range query touches, without opening a single footer.
    A ``set``/``frozenset`` value is an IN request instead: the file is
    kept only if some member falls inside its range (sharper than the
    set's envelope for sparse sets; a 2-element LIST keeps its
    historical range meaning), and ``{"any": [req, ...]}`` is a UNION
    of requests (what :func:`read_snapshot_where` derives from a
    single-column OR) — kept if any branch keeps it.
    ``{"null": True}`` / ``{"null": False}`` is a NULLNESS request
    (IS NULL / IS NOT NULL), prunable on stats carrying null counts.
    Pruning only
    skips files; apply the real filter on the result for row-level
    semantics (files without stats are always kept)."""
    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    files = manifest["files"]
    if prune:
        files = _prune_files(manifest, prune)
    # the manifest schema PINS the read (files written before an additive
    # merge_schema evolution surface the newer columns as NULL; stray
    # file-level type drift fails loudly), and pending lazy-delete
    # filters apply to exactly the files they cover (merge-on-read)
    return _filtered_read(spark, manifest, files)


import re as _re

_NUM_RE = _re.compile(r"\d+(?:\.\d*)?(?:[eE][+-]?\d+)?|\.\d+(?:[eE][+-]?\d+)?")


class _TypedStr(str):
    """Marker for the VALUE of a ``DATE '...'`` / ``TIMESTAMP '...'``
    literal during extraction.  Lives only inside ``_match_atom`` — the
    atom records its column as typed and converts the value to a plain
    str immediately, so set/dedupe machinery never has to preserve the
    marker.  Why it matters: Spark compares a typed temporal literal
    against a STRING column by casting the COLUMN (verified: ``s =
    DATE '2024-01-01'`` matches s='2024-01-01 00:00:00'), so the
    literal's text is NOT the comparison domain there — only
    date/timestamp-typed columns may prune on it."""
_DATE_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TS_SEC_RE = _re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2}$")
_TS_MIN_RE = _re.compile(r"^\d{4}-\d{2}-\d{2} \d{2}:\d{2}$")
_TS_FRAC_RE = _re.compile(r"^(\d{4}-\d{2}-\d{2} \d{2}:\d{2}:\d{2})\.(\d{1,6})$")


def _normalize_prune_bounds(manifest: dict, prune: dict) -> dict:
    """Align string bounds with how stats SPELL date/timestamp values —
    or DROP a column's pruning when no exact alignment exists.

    SQL compares a string literal against a date/timestamp column by
    CASTING the literal, but the manifest prune compares
    lexicographically against the stats' spelling (dates
    ``YYYY-MM-DD``, timestamps isoformat with a SPACE separator and a
    6-digit fraction only when nonzero).  Any spelling mismatch between
    the two orders can wrongly prune a file holding matching boundary
    rows, so per column type:

    - timestamp_ntz column: bare date → ``+ ' 00:00:00'`` (the cast's
      exact value); minutes-only → ``+ ':00'``; full seconds → kept; a
      fractional part is zero-stripped or zero-padded to 6 digits
      (isoformat's spelling).  Anything else ('T' separator, unpadded
      months, ...) casts fine in SQL but sorts differently as text —
      that column's pruning is DISABLED (dropped from the dict), the
      residual filter still answers.
    - tz-aware timestamp column: string bounds are ALWAYS dropped — the
      stats' spelling frame (the driver's OS timezone at collect time)
      and the literal's frame (``spark.sql.session.timeZone``) need not
      agree, and no text normalization can reconcile two frames.
    - date column: bare date kept; a timestamp-spelled bound truncates
      to its date part (exactly what the SQL cast does); anything else
      disables the column.
    - string/numeric columns: untouched — no cast happens in SQL, so
      raw comparison IS the semantics (mixed types already fall to the
      conservative TypeError keep in ``_prune_files``)."""
    from pyspark.sql.types import (
        DateType,
        TimestampNTZType,
        TimestampType,
        _parse_datatype_string,
    )

    def strip_typed(p):
        # a {"typed": req} wrapper needs the SCHEMA to prove the column
        # is date/timestamp-typed; without that proof the column's
        # pruning is disabled (the literal's text may not be the
        # comparison domain — Spark casts a string COLUMN to the
        # literal's type)
        return {
            c: r for c, r in p.items()
            if not (isinstance(r, dict) and "typed" in r)
        }

    try:
        fields = _parse_datatype_string(manifest.get("schema") or "").fields
    except Exception:
        return strip_typed(prune)  # unparseable schema: raw, minus typed
    ts_cols = {
        f.name for f in fields if isinstance(f.dataType, TimestampNTZType)
    }
    # tz-AWARE timestamps get no string-bound pruning at all: their
    # stats were spelled by the driver's collect in the OS timezone,
    # while SQL interprets the literal in spark.sql.session.timeZone —
    # when the two differ, even a canonically spelled bound compares in
    # the wrong frame and can prune a file holding matching rows.  NTZ
    # (this engine's canonical flavor) has one frame; for tz-aware
    # columns the residual filter answers.
    tz_cols = {f.name for f in fields if isinstance(f.dataType, TimestampType)}
    date_cols = {f.name for f in fields if isinstance(f.dataType, DateType)}
    if not ts_cols and not date_cols and not tz_cols:
        return strip_typed(prune)
    _SKIP = object()

    def fix(col, v):
        if v is None or not isinstance(v, str):
            return v
        if col in tz_cols:
            return _SKIP
        if col in ts_cols:
            if _DATE_RE.match(v):
                return v + " 00:00:00"
            if _TS_MIN_RE.match(v):
                return v + ":00"
            if _TS_SEC_RE.match(v):
                return v
            m = _TS_FRAC_RE.match(v)
            if m:
                frac = m.group(2).ljust(6, "0")
                return m.group(1) if frac == "000000" else f"{m.group(1)}.{frac}"
            return _SKIP
        if col in date_cols:
            if _DATE_RE.match(v):
                return v
            if _TS_SEC_RE.match(v) or _TS_MIN_RE.match(v) or _TS_FRAC_RE.match(v):
                return v[:10]  # the cast truncates to the date part
            return _SKIP
        return v

    def fix_req(c, r):
        if isinstance(r, dict) and "typed" in r:
            if c in ts_cols or c in date_cols or c in tz_cols:
                # a temporal column: the typed literal compares in the
                # column's own domain — the existing spelling rules
                # (incl. tz disablement) apply to the inner request
                return fix_req(c, r["typed"])
            return _SKIP  # string/numeric column: the CAST flips sides
        if isinstance(r, dict) and "null" in r:
            return r  # nullness requests carry no spellings to align
        if isinstance(r, dict):
            branches = [fix_req(c, x) for x in r["any"]]
            # a single unnormalizable BRANCH poisons the whole union: a
            # union is the ALLOWED region, and shrinking it by dropping
            # a branch would wrongly prune that branch's files
            if any(b is _SKIP for b in branches):
                return _SKIP
            return {"any": branches}
        if isinstance(r, (set, frozenset)):
            vals = {fix(c, v) for v in r}
            return _SKIP if _SKIP in vals else frozenset(vals)
        lo2, hi2 = fix(c, r[0]), fix(c, r[1])
        return _SKIP if (lo2 is _SKIP or hi2 is _SKIP) else (lo2, hi2)

    out = {}
    for c, req in prune.items():
        fixed = fix_req(c, req)
        if fixed is not _SKIP:
            out[c] = fixed
    return out


def _prune_files(manifest: dict, prune: dict) -> list[str]:
    """Manifest-level file pruning: keep a file unless its recorded
    [min, max] for some pruned column is PROVABLY disjoint from the
    request.  Two request forms per column:

    - ``(lo, hi)`` tuple or 2-list — range; either bound may be
      None = open (lists keep their historical range meaning)
    - ``{v1, v2, ...}`` set/frozenset — an IN set: the file is kept
      only if SOME member falls inside its [min, max].  This is
      strictly sharper than the set's (min, max) envelope for sparse
      sets — ``IN (5, 999999)`` skips every file strictly between the
      two values instead of keeping the whole span.  An EMPTY set is
      an unsatisfiable predicate: NO file is planned, stats or not
      (sound — no row can match).
    - ``{"any": [req, ...]}`` — a UNION of requests (produced by the
      extractor for single-column ORs): the file is kept if ANY branch
      keeps it.
    - ``{"null": True}`` / ``{"null": False}`` — a NULLNESS request
      (what ``IS NULL`` / ``IS NOT NULL`` atoms extract to): prunable
      only on files whose stats carry a null count ([min, max, nulls]
      entries) — ``IS NULL`` skips null-free files, ``IS NOT NULL``
      (and every range/set request, whose satisfying values are
      non-null by definition) skips all-null files when the file's
      total row count is known from ``file_meta``.

    Files with no stats for a column are always kept — pruning can only
    skip work, never answers."""
    meta = manifest.get("file_meta", {})
    prune = _normalize_prune_bounds(manifest, prune)
    if any(_req_unsat(r) for r in prune.values()):
        return []  # unsatisfiable conjunct: independent of any stats

    def keep(f: str) -> bool:
        rows = (meta.get(f) or {}).get("rows")
        if rows == 0:
            return False  # an empty file satisfies NO request
        fstats = _effective_stats(manifest, f)
        if not fstats:
            return True
        for col, req in prune.items():
            rng = fstats.get(col)
            if not rng:
                continue
            nulls = rng[2] if len(rng) > 2 else None
            if _req_disjoint(req, rng, nulls, rows):
                return False
        return True

    return [f for f in manifest["files"] if keep(f)]


def _effective_stats(manifest: dict, f: str) -> dict | None:
    """The per-file stats USABLE under the CURRENT stats spec — the one
    choke point every stats consumer (pruning, coverage, min/max,
    snapshot_agg) reads through.

    Partition-spec evolution (:func:`snapshot_set_stats_spec`) can
    change an alias's defining EXPRESSION between commits; a file whose
    stats were computed under an older spec records its spec id in
    ``file_spec`` (absent = current).  An alias is usable for such a
    file only when its expression is TEXTUALLY IDENTICAL in the file's
    spec and the current one — anything else (changed derivation, alias
    new to the current spec) is filtered out, so the file is simply
    kept/scanned (conservative) rather than mis-pruned under the wrong
    semantics."""
    frs = manifest.get("stats", {}).get(f)
    if not frs:
        return frs
    fid = manifest.get("file_spec", {}).get(f)
    if fid is None:
        return frs
    old_cols = None
    for s in manifest.get("spec_history", []):
        if s["id"] == fid:
            old_cols = s["cols"]
            break
    if old_cols is None:
        return {}  # unknown spec: trust nothing (conservative keep)
    cur = manifest.get("stats_cols") or {}
    return {a: v for a, v in frs.items() if old_cols.get(a) == cur.get(a)}


def _is_union(req) -> bool:
    return isinstance(req, dict) and "any" in req


def _is_nullreq(req) -> bool:
    return isinstance(req, dict) and "null" in req


def _req_unsat(req) -> bool:
    """A request no value can satisfy (empty IN set / union of such)."""
    if _is_union(req):
        return all(_req_unsat(r) for r in req["any"])
    if isinstance(req, (set, frozenset)):
        return not req
    return False


def _req_disjoint(req, rng, nulls=None, rows=None) -> bool:
    """True when PROVABLY no value satisfying ``req`` lies in the
    file's recorded ``[rng[0], rng[1]]`` (with optional null count
    ``nulls`` and total row count ``rows``) — any doubt (incomparable
    types, unknown counts, unknown bounds) answers False (keep)."""
    all_null = nulls is not None and rows is not None and nulls == rows
    if _is_nullreq(req):
        if req["null"]:
            # needs a NULL in the file: provably none when nulls == 0
            return nulls == 0
        # needs a NON-null: provably none when the file is all-null
        return all_null
    if _is_union(req):  # union: disjoint from every branch
        return all(_req_disjoint(r, rng, nulls, rows) for r in req["any"])
    # range/set requests are satisfied only by NON-null values — an
    # all-null file provably holds none, whatever its (absent) bounds
    if all_null:
        return True
    if rng[0] is None or rng[1] is None:
        return False  # unknown bounds: keep
    if isinstance(req, (set, frozenset)):
        if not req:
            return True
        try:
            return not any(rng[0] <= v <= rng[1] for v in req)
        except TypeError:
            return False
    lo, hi = req
    try:
        return (hi is not None and rng[0] > hi) or (
            lo is not None and rng[1] < lo
        )
    except TypeError:
        return False


def _predicate_tokens(predicate: str) -> list:
    """Tokenize a SQL predicate for :func:`_predicate_prune_ranges`.

    Tokens: ``("id", name)`` identifiers/keywords (keywords uppercased in
    the tag check, name kept verbatim), ``("num", value)`` int/float
    literals, ``("str", value)`` single-quoted strings ('' escape), and
    ``("op", symbol)`` for operators/punctuation.  Anything the grammar
    doesn't recognize raises — the caller treats that as 'no extraction'
    (the residual filter still applies the full predicate)."""
    out = []
    i, n = 0, len(predicate)
    while i < n:
        ch = predicate[i]
        if ch.isspace():
            i += 1
            continue
        if ch == "'":
            j, buf = i + 1, []
            while True:
                if j >= n:
                    raise ValueError("unterminated string literal")
                if predicate[j] == "'":
                    if j + 1 < n and predicate[j + 1] == "'":
                        buf.append("'")
                        j += 2
                        continue
                    break
                buf.append(predicate[j])
                j += 1
            lit = "".join(buf)
            if "\\" in lit:
                # Spark's parser decodes backslash escapes in string
                # literals by default ('C:\temp' -> 'C:<TAB>emp', and the
                # decoding further depends on
                # spark.sql.parser.escapedStringLiterals).  This tokenizer
                # keeps the text verbatim, so any downstream min/max
                # comparison or coverage claim would use the WRONG value.
                # Refuse: every caller degrades conservatively (no prune,
                # no coverage, substring mention check) and the residual
                # filter — evaluated by Spark itself — stays correct.
                raise ValueError(
                    "backslash in string literal: Spark-side escape "
                    "decoding makes the literal text unreliable for "
                    "stats comparison"
                )
            out.append(("str", lit))
            i = j + 1
            continue
        if ch.isdigit() or (
            ch == "." and i + 1 < n and predicate[i + 1].isdigit()
        ):
            # consume only a WELL-FORMED number (digits[.digits][exp]):
            # a malformed exponent like `1e+` must not reach float() —
            # the `e` falls through as an identifier and the stray `+`
            # raises the tokenizer's own error (degrading, as ever, to
            # no-pruning with the residual filter answering)
            m = _NUM_RE.match(predicate, i)
            if m is None:
                # str.isdigit() is wider than \d (superscripts '²',
                # circled digits): raise the tokenizer's OWN error
                # class so the caller's except ValueError degrades to
                # no-pruning instead of an AttributeError escaping
                raise ValueError(f"unrecognized numeric character {ch!r}")
            text = m.group(0)
            out.append(
                ("num", float(text) if any(c in text for c in ".eE") else int(text))
            )
            i = m.end()
            continue
        if ch.isalpha() or ch == "_":
            j = i
            while j < n and (predicate[j].isalnum() or predicate[j] == "_"):
                j += 1
            out.append(("id", predicate[i:j]))
            i = j
            continue
        if ch == "`":
            j = predicate.index("`", i + 1)
            out.append(("id", predicate[i + 1 : j]))
            i = j + 1
            continue
        for sym in ("<=", ">=", "!=", "<>", "==", "<", ">", "=", "(", ")", ","):
            if predicate.startswith(sym, i):
                out.append(("op", sym))
                i += len(sym)
                break
        else:
            raise ValueError(f"unrecognized character {ch!r}")
    return out


def _tok_is_kw(t, kw: str) -> bool:
    return t[0] == "id" and t[1].upper() == kw


def _split_and_depth0(toks):
    """Depth-0 AND split, skipping the AND owned by a BETWEEN — the ONE
    shared implementation for both the lossy prune extractor and the
    strict coverage parser (a grammar fix must reach both or they
    drift)."""
    chunks, cur, depth, pending_between = [], [], 0, 0
    for t in toks:
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
        if depth == 0 and _tok_is_kw(t, "BETWEEN"):
            pending_between += 1
        if depth == 0 and _tok_is_kw(t, "AND"):
            if pending_between:
                pending_between -= 1
            else:
                chunks.append(cur)
                cur = []
                continue
        cur.append(t)
    chunks.append(cur)
    return chunks


def _chunk_encloses(chunk) -> bool:
    """chunk[0]'s '(' matches chunk[-1]'s ')' exactly."""
    d = 0
    for t in chunk[1:-1]:
        if t == ("op", "("):
            d += 1
        elif t == ("op", ")"):
            d -= 1
            if d < 0:
                return False
    return d == 0


def _predicate_prune_ranges(predicate: str) -> dict:
    """Derive manifest prune ranges ``{col: (lo, hi)}`` from the
    CONJUNCTIVE atoms of a SQL predicate — the subset where skipping is
    provably sound:

    - ``col = lit`` → ``(lit, lit)``; ``col </<= lit`` → ``(None, lit)``;
      ``col >/>= lit`` → ``(lit, None)`` (and the literal-on-the-left
      flips); strict bounds are widened to inclusive (pruning may only
      skip, never answer)
    - ``col BETWEEN a AND b`` → ``(a, b)``
    - ``col IN (l1, ..., lk)`` → the literal SET as a frozenset
      (member-tested against each file's range — sharper than the
      (min, max) envelope for sparse sets; intersections with other
      atoms stay set-valued)
    - ``DATE '...'`` / ``TIMESTAMP '...'`` literals → their string value
      (manifest stats store dates/timestamps ISO-formatted, which
      compares identically)
    - ``col IS NULL`` → ``{"null": True}`` and ``col IS NOT NULL`` →
      ``{"null": False}`` — prunable against files whose stats carry
      null counts; ``IS NULL AND <range>`` folds to unsatisfiable
      (a comparison is never TRUE on NULL)

    A top-level ``OR`` prunes by UNION when every disjunct constrains
    a common column — ``id < 10 OR id >= 900`` skips the whole middle
    of the key space; a column any disjunct leaves unconstrained is
    dropped (a matching row may come from that disjunct with any
    value).

    Everything else is CONSERVATIVE: an atom the grammar doesn't cover
    (functions, arithmetic, !=, dotted names, IS [NOT] TRUE/FALSE)
    contributes nothing, and a parse failure makes the WHOLE expression
    contribute nothing.  Atoms on the same
    column intersect (max of lows, min of highs); an incomparable
    intersection drops that column's pruning entirely.  Correctness
    never depends on extraction — the caller re-applies the full
    predicate as the row filter."""
    try:
        tokens = _predicate_tokens(predicate)
    except ValueError:
        return {}
    # columns compared to a DATE/TIMESTAMP-TYPED literal anywhere in
    # the predicate: their requests get a {"typed": req} wrapper that
    # only date/timestamp-typed columns may unwrap at normalization —
    # on a STRING column the cast flips to the COLUMN side and the
    # literal's text is not the comparison domain (mis-prune hazard)
    typed_cols: set = set()

    def is_kw(t, kw):
        return t[0] == "id" and t[1].upper() == kw

    def literal(toks):
        """One literal from the token list: value or None.  Typed
        temporal literals come back as :class:`_TypedStr` so the atom
        matcher can record the column as typed."""
        if len(toks) == 1 and toks[0][0] in ("num", "str"):
            return toks[0][1]
        if (
            len(toks) == 2
            and toks[0][0] == "id"
            and toks[0][1].upper() in ("DATE", "TIMESTAMP")
            and toks[1][0] == "str"
        ):
            return _TypedStr(toks[1][1])
        return None

    def split_or(toks):
        """Depth-0 OR split (OR binds loosest, so a depth-0 OR makes
        the root an OR and each side a full disjunct)."""
        chunks, cur, depth = [], [], 0
        for t in toks:
            if t == ("op", "("):
                depth += 1
            elif t == ("op", ")"):
                depth -= 1
            if depth == 0 and is_kw(t, "OR"):
                chunks.append(cur)
                cur = []
                continue
            cur.append(t)
        chunks.append(cur)
        return chunks

    def extract(toks) -> dict:
        depth = 0
        has_or = False
        for t in toks:
            if t == ("op", "("):
                depth += 1
            elif t == ("op", ")"):
                depth -= 1
            elif depth == 0 and is_kw(t, "OR"):
                has_or = True
                break
        if has_or:
            # the root is an OR: a column is prunable only when EVERY
            # disjunct constrains it (a row matches >= 1 disjunct, so
            # it satisfies that disjunct's constraint) — the request is
            # the UNION of the per-disjunct constraints, e.g.
            # `id < 10 OR id >= 900` prunes the whole middle of the key
            # space instead of nothing
            parts = [extract(d) for d in split_or(toks)]
            out: dict = {}
            for col in set.intersection(*map(set, parts)):
                reqs = [p[col] for p in parts]
                if any(r is None for r in reqs):
                    continue  # one branch disabled: no sound union
                flat = []
                for r in reqs:  # flatten nested unions (not null markers)
                    flat.extend(r["any"] if _is_union(r) else [r])
                try:
                    out[col] = {"any": _union_simplify(flat)}
                except TypeError:
                    continue  # too wide to be worth testing per file
            return out

        ranges: dict = {}
        for chunk in _split_and_depth0(toks):
            # strip fully-enclosing parens; a parenthesized subexpression
            # recurses (strictly shorter token list — terminates), a bare
            # atom falls through to the matcher (which owns BETWEEN's AND)
            stripped = False
            while (
                len(chunk) >= 2
                and chunk[0] == ("op", "(")
                and chunk[-1] == ("op", ")")
                and _chunk_encloses(chunk)
            ):
                chunk = chunk[1:-1]
                stripped = True
            if stripped:
                for col, rng in extract(chunk).items():
                    _merge_range(ranges, col, rng)
                continue
            got = _match_atom(chunk, is_kw, literal, typed_cols)
            if got:
                _merge_range(ranges, got[0], got[1])
        return ranges

    out = extract(tokens)
    for c in typed_cols:
        if c in out and out[c] is not None:
            out[c] = {"typed": out[c]}
    return out


def _plain_lit(v, col, typed_cols):
    """Record a typed literal's column and strip the marker — requests
    are built over plain values so downstream set/dedupe machinery
    can't lose the marker; the wrapper is applied whole-column."""
    if isinstance(v, _TypedStr):
        typed_cols.add(col)
        return str(v)
    return v


def _match_atom(chunk, is_kw, literal, typed_cols):
    """One conjunct → ``(col, (lo, hi))`` or None (no contribution)."""
    if not chunk or chunk[0][0] != "id" or is_kw(chunk[0], "NOT"):
        return _match_flipped(chunk, literal, typed_cols)
    col = chunk[0][1]
    rest = chunk[1:]
    if rest and is_kw(rest[0], "IS"):
        # exactly IS NULL / IS NOT NULL extract; IS [NOT] TRUE/FALSE/
        # DISTINCT FROM and friends contribute nothing (conservative)
        tail = rest[1:]
        if len(tail) == 1 and is_kw(tail[0], "NULL"):
            return col, {"null": True}
        if len(tail) == 2 and is_kw(tail[0], "NOT") and is_kw(tail[1], "NULL"):
            return col, {"null": False}
        return None
    if rest and rest[0][0] == "op" and rest[0][1] in ("=", "==", "<", "<=", ">", ">="):
        v = literal(rest[1:])
        if v is None:
            return None
        v = _plain_lit(v, col, typed_cols)
        op = rest[0][1]
        if op in ("=", "=="):
            return col, (v, v)
        if op in ("<", "<="):
            return col, (None, v)
        return col, (v, None)
    if rest and is_kw(rest[0], "BETWEEN"):
        for k in range(1, len(rest)):
            if is_kw(rest[k], "AND"):
                lo = literal(rest[1:k])
                hi = literal(rest[k + 1 :])
                if lo is None or hi is None:
                    return None
                return col, (
                    _plain_lit(lo, col, typed_cols),
                    _plain_lit(hi, col, typed_cols),
                )
        return None
    if rest and is_kw(rest[0], "IN") and len(rest) >= 4:
        if rest[1] != ("op", "(") or rest[-1] != ("op", ")"):
            return None
        vals, cur = [], []
        for t in rest[2:-1]:
            if t == ("op", ","):
                vals.append(cur)
                cur = []
            else:
                cur.append(t)
        vals.append(cur)
        lits = [literal(v) for v in vals]
        if any(v is None for v in lits):
            return None
        lits = [_plain_lit(v, col, typed_cols) for v in lits]
        # the SET itself, not its (min, max) envelope: _prune_files
        # tests each member against a file's range, so IN (5, 999999)
        # skips every file strictly between the two values.  frozenset,
        # NOT list: a caller's 2-element list keeps its historical
        # RANGE meaning on the public prune= API
        return col, frozenset(lits)
    return _match_flipped(chunk, literal, typed_cols)


def _match_flipped(chunk, literal, typed_cols):
    """``literal OP col`` orientation: ``5 < a`` ≡ ``a > 5``."""
    if (
        len(chunk) >= 3
        and chunk[-1][0] == "id"
        and chunk[-2][0] == "op"
        and chunk[-2][1] in ("=", "==", "<", "<=", ">", ">=")
    ):
        v = literal(chunk[:-2])
        if v is None:
            return None
        col, op = chunk[-1][1], chunk[-2][1]
        v = _plain_lit(v, col, typed_cols)
        if op in ("=", "=="):
            return col, (v, v)
        if op in ("<", "<="):  # lit < col → col > lit
            return col, (v, None)
        return col, (None, v)
    return None


def _merge_range(ranges: dict, col: str, rng) -> None:
    """Intersect a new request — a ``(lo, hi)`` range or an IN-set
    frozenset — into ranges[col]; on an incomparable mix, disable
    pruning for the column (None sentinel, stripped by the caller's
    ``is not None`` check in read_snapshot_where — an EMPTY frozenset
    is falsy but MEANINGFUL (unsatisfiable: prune everything) and must
    survive the strip, so never 'simplify' that check to truthiness).  ``rng`` may itself BE the None sentinel
    (a parenthesized subexpression already disabled the column) —
    propagate it, don't unpack it."""
    if col in ranges and ranges[col] is None:
        return
    if rng is None:
        ranges[col] = None
        return
    if col not in ranges:
        ranges[col] = rng
        return
    try:
        ranges[col] = _intersect_req(ranges[col], rng)
    except TypeError:
        ranges[col] = None


def _union_simplify(branches: list, cap: int = 64) -> list:
    """Dedupe + coalesce a union's branches; raise TypeError past
    ``cap`` surviving branches (the caller disables the column — a
    64-branch union is past the point where per-file testing pays).
    All IN sets merge into one; overlapping ranges coalesce when their
    bounds are mutually comparable (mixed types fall back to dedupe
    only — still sound, just less compact)."""
    def nonempty(r):
        """Drop a branch ONLY when its emptiness is provable in SQL's
        order, not merely Python's: numeric bounds compare identically
        in both; so do two strings of one date/timestamp spelling class
        ('d'/'m'/'s' are canonical — text order is instant order).  A
        plain string might be a digit literal against a numeric column
        (SQL casts: '5' > '10' as text but 5 < 10 cast), so those
        branches are always kept — the hull/coalesce machinery is
        self-consistent in Python order and the stats comparison
        TypeErrors into keeping the file anyway."""
        lo, hi = r
        if lo is None or hi is None:
            return True
        if isinstance(lo, bool) or isinstance(hi, bool):
            return True
        if isinstance(lo, (int, float)) and isinstance(hi, (int, float)):
            return not lo > hi
        if isinstance(lo, str) and isinstance(hi, str):
            # ONLY bare dates ('d') survive every column-type cast with
            # text order intact (date col: identity; ts col: midnights;
            # string col: text IS the order).  'm'/'s' spellings are
            # NOT drop-safe: on a DATE column the cast truncates both
            # bounds to the date part, so two text-ordered instants can
            # be SQL-equal and a "text-empty" range non-empty.
            if _spelling_class(lo) == "d" and _spelling_class(hi) == "d":
                return not lo > hi
        return True  # untrusted order: keep (conservative)

    sets = [b for b in branches if isinstance(b, (set, frozenset)) and b]
    ranges = list(
        dict.fromkeys(
            b for b in branches if isinstance(b, tuple) and nonempty(b)
        )
    )
    out: list = []
    # nullness branches survive verbatim (deduped): dropping one would
    # SHRINK the allowed region and over-prune that branch's files
    seen_null = set()
    for b in branches:
        if _is_nullreq(b) and b["null"] not in seen_null:
            seen_null.add(b["null"])
            out.append(b)
    if sets:
        out.append(frozenset().union(*sets))
    try:
        ranges.sort(key=lambda r: (r[0] is not None, r[0]))
        merged: list = []
        for lo, hi in ranges:
            if merged:
                plo, phi = merged[-1]
                if phi is None or lo is None or lo <= phi:
                    nhi = None if (phi is None or hi is None) else max(phi, hi)
                    merged[-1] = (plo, nhi)
                    continue
            merged.append((lo, hi))
        ranges = merged
    except TypeError:
        pass  # incomparable bounds: deduped only
    out.extend(ranges)
    if len(out) > cap:
        raise TypeError(f"union too wide ({len(out)} branches)")
    return out


def _spelling_class(v) -> str | None:
    """Classify a string's date/timestamp spelling: 'd' bare date, 'm'
    minutes-only, 's' full seconds, 'f' fractional, None otherwise."""
    if not isinstance(v, str):
        return None
    if _DATE_RE.match(v):
        return "d"
    if _TS_MIN_RE.match(v):
        return "m"
    if _TS_SEC_RE.match(v):
        return "s"
    if _TS_FRAC_RE.match(v):
        return "f"
    return None


def _intersect_req(a, b):
    """Intersect two prune requests (range tuples or IN-set
    frozensets).  Raises TypeError — the caller disables the column —
    on hazards where raw-value comparison disagrees with SQL:

    - str/number mixes: Python's ``5 in {'5'}`` is silently False
      while SQL's implicit cast makes them EQUAL
    - date/timestamp-SPELLED strings meeting a SET: two spellings of
      one instant ('2024-01-01' vs '2024-01-01 00:00:00') are unequal
      as text, so set membership would drop a live member and produce
      an unsound prune-all.  Safe only when every involved spelled
      value shares ONE exact spelling class (all bare dates, all
      full-seconds, or all minutes-only; fractions never — '.5' vs
      '.50' are equal instants, unequal text).  Range∧range needs no
      such guard: max/min of equal-instant spellings normalize to the
      same bound later."""
    if _is_nullreq(a) and _is_nullreq(b):
        # IS NULL ∧ IS NOT NULL is unsatisfiable; same-sense idempotent
        return a if a["null"] == b["null"] else frozenset()
    if _is_union(a) or _is_union(b):
        # distribute over unions: (A1 ∪ A2) ∧ B = (A1∧B) ∪ (A2∧B);
        # a TypeError in ANY branch propagates (disable the column), and
        # _union_simplify coalesces + caps the result — without the cap,
        # N AND-ed OR-pairs on one column would multiply to 2^N branches
        # and stall planning on a user-supplied WHERE clause
        u, other = (a, b) if _is_union(a) else (b, a)
        branches = []
        for r in u["any"]:
            got = _intersect_req(r, other)
            branches.extend(got["any"] if _is_union(got) else [got])
        return {"any": _union_simplify(branches)}
    if _is_nullreq(a) or _is_nullreq(b):
        m, other = (a, b) if _is_nullreq(a) else (b, a)
        if m["null"]:
            # IS NULL ∧ range/set: a comparison is never TRUE on NULL —
            # unsatisfiable (prune everything, stats or not)
            return frozenset()
        # IS NOT NULL ∧ range/set: every range/set-satisfying value is
        # already non-null, and all-null-file pruning applies to
        # range/set requests generically — nothing is lost dropping m
        return other
    a_set = isinstance(a, (set, frozenset))
    b_set = isinstance(b, (set, frozenset))
    if a_set or b_set:
        both = list(a if a_set else []) + list(b if b_set else [])
        if not a_set or not b_set:
            both += [v for v in (b if a_set else a) if v is not None]
        if any(isinstance(v, str) for v in both) and any(
            not isinstance(v, str) for v in both
        ):
            raise TypeError("mixed string/number IN intersection")
        classes = {_spelling_class(v) for v in both if isinstance(v, str)}
        if (classes & {"d", "m", "s", "f"}) and (
            len(classes) > 1 or "f" in classes
        ):
            raise TypeError("mixed date/timestamp spellings in IN intersection")
        # REMOVING a member on text grounds is only trustworthy when
        # text order is SQL order under EVERY possible column type:
        # numerics, or bare-date ('d') spellings (date col: identity;
        # ts col: midnights; string col: text).  A plain string might
        # be a digit literal against a numeric column ('5' == 5 cast),
        # and an 'm'/'s'-spelled instant against a DATE column
        # truncates ('2024-01-01 01:00' == '2024-01-01 23:00' as
        # dates) — an emptied set would mean prune-ALL.  Keeping every
        # member is always sound (more members → fewer prunes), so
        # only the removal needs the guard.
        guard_removal = bool(classes) and classes != {"d"}
    if a_set and b_set:
        got = frozenset(a) & frozenset(b)
        if guard_removal and len(got) < min(len(a), len(b)):
            raise TypeError("untrusted text-order removal from IN set")
        return got
    if a_set or b_set:
        vals, (lo, hi) = (a, b) if a_set else (b, a)
        got = frozenset(
            v
            for v in vals
            if (lo is None or v >= lo) and (hi is None or v <= hi)
        )
        if guard_removal and len(got) < len(vals):
            raise TypeError("untrusted text-order removal from IN set")
        return got
    lo0, hi0 = a
    lo1, hi1 = b
    lo = lo1 if lo0 is None else lo0 if lo1 is None else max(lo0, lo1)
    hi = hi1 if hi0 is None else hi0 if hi1 is None else min(hi0, hi1)
    return (lo, hi)


def read_snapshot_where(
    spark: SparkSession,
    table_dir: str,
    predicate: str,
    version: int | None = None,
    as_of: float | None = None,
) -> DataFrame:
    """Read a snapshot with an ordinary SQL ``WHERE`` clause and let the
    ENGINE derive the manifest file-skipping — the serving-path shape
    (reference `backend/app/main.py:252-263`, F5/F6 dynamic predicates)
    without hand-building a ``prune={"col": (lo, hi)}`` dict.

    The conjunctive equality/range/BETWEEN/IN atoms of ``predicate``
    become per-column prune ranges (:func:`_predicate_prune_ranges` —
    conservative: anything it can't prove contributes nothing), manifest
    stats drop provably-disjoint files BEFORE the scan plan exists, and
    the FULL predicate is then applied as the row filter, so results are
    always exactly ``read_snapshot(...).filter(predicate)``.  At 100 TB
    this turns `WHERE ts BETWEEN x AND y AND k = 5` from planning ~1e5
    files into planning the handful the range touches — files-planned
    scales with selectivity, not table size.

    When the table carries bloom sidecars (``bloom_cols=`` at
    write/compact), the ``=``/``IN`` atoms additionally probe them
    (:func:`_bloom_prune_files`) — the point-lookup case min/max can't
    help with: ``doc_id = 'x'`` on a hash-distributed key skips every
    file whose filter proves the value absent, at metadata cost (two
    tiny jobs: literal hashing + a filtered sidecar scan)."""
    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    files = _plan_files(spark, manifest, predicate)
    return _filtered_read(spark, manifest, files).filter(predicate)


def _plan_files(
    spark: SparkSession, manifest: dict, predicate: str, bloom: bool = True
) -> list[str]:
    """THE predicate planning pipeline — extraction → range/null/typed
    prune → (optionally) bloom probe — shared by
    :func:`read_snapshot_where`, :func:`snapshot_count`, and
    :func:`snapshot_plan_info` so a planning change can never make the
    probe's numbers drift from the real read's plan."""
    ranges = {
        c: r
        for c, r in _predicate_prune_ranges(predicate).items()
        if r is not None
    }
    files = manifest["files"]
    if ranges:
        files = _prune_files(manifest, ranges)
        if bloom:
            files = _bloom_prune_files(spark, manifest, files, ranges)
    return files


def _cover_atoms(predicate: str):
    """STRICT conjunctive parse for full-coverage testing — the
    converse of pruning.  Pruning may be lossy (an uncaptured atom just
    prunes nothing); claiming a file FULLY COVERED (predicate TRUE for
    every row) requires the predicate to be EXACTLY a conjunction of
    captured atoms, so any token this grammar doesn't recognize — OR,
    NOT, functions, arithmetic, dotted names — returns ``None``
    (coverage unknown; the caller scans).

    Returns a list of atoms: ``("cmp", col, op, lit)`` with op in
    ``= == != <> < <= > >=``, ``("between", col, lo, hi)``,
    ``("in", col, frozenset)``, ``("null", col, is_null)``.  Temporal
    typed literals come back tagged ``("date", s)`` / ``("ts", s)``;
    :func:`_file_covered` owns the per-type domain guards."""
    try:
        tokens = _predicate_tokens(predicate)
    except ValueError:
        return None

    def is_kw(t, kw):
        return t[0] == "id" and t[1].upper() == kw

    CMP = {"=", "==", "!=", "<>", "<", "<=", ">", ">="}
    FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<="}

    def lit_of(toks):
        """One literal from a token slice: a plain num/str, or a tagged
        DATE/TIMESTAMP string.  None if not a literal."""
        if len(toks) == 1 and toks[0][0] in ("num", "str"):
            return toks[0][1]
        if (
            len(toks) == 2
            and toks[0][0] == "id"
            and toks[0][1].upper() in ("DATE", "TIMESTAMP")
            and toks[1][0] == "str"
        ):
            return ("date" if toks[0][1].upper() == "DATE" else "ts", toks[1][1])
        return None

    def atom(chunk):
        # col IS [NOT] NULL
        if (
            len(chunk) in (3, 4)
            and chunk[0][0] == "id"
            and is_kw(chunk[1], "IS")
            and is_kw(chunk[-1], "NULL")
            and (len(chunk) == 3 or is_kw(chunk[2], "NOT"))
            and chunk[0][1].upper() not in ("DATE", "TIMESTAMP")
        ):
            return ("null", chunk[0][1], len(chunk) == 3)
        # col BETWEEN lo AND hi
        if len(chunk) >= 5 and chunk[0][0] == "id" and is_kw(chunk[1], "BETWEEN"):
            body = chunk[2:]
            for i in range(len(body)):
                if is_kw(body[i], "AND"):
                    lo, hi = lit_of(body[:i]), lit_of(body[i + 1:])
                    if lo is not None and hi is not None:
                        return ("between", chunk[0][1], lo, hi)
                    return None
            return None
        # col IN (l1, ..., lk)
        if (
            len(chunk) >= 4
            and chunk[0][0] == "id"
            and is_kw(chunk[1], "IN")
            and chunk[2] == ("op", "(")
            and chunk[-1] == ("op", ")")
        ):
            vals, cur = [], []
            for t in chunk[3:-1]:
                if t == ("op", ","):
                    vals.append(cur)
                    cur = []
                else:
                    cur.append(t)
            vals.append(cur)
            lits = [lit_of(v) for v in vals]
            if any(v is None for v in lits):
                return None
            return ("in", chunk[0][1], frozenset(lits))
        # col <op> lit  /  lit <op> col
        for i, t in enumerate(chunk):
            if t[0] == "op" and t[1] in CMP:
                lhs, rhs = chunk[:i], chunk[i + 1:]
                op = t[1]
                if len(lhs) == 1 and lhs[0][0] == "id":
                    lit = lit_of(rhs)
                    if lit is not None:
                        return ("cmp", lhs[0][1], op, lit)
                if len(rhs) == 1 and rhs[0][0] == "id":
                    lit = lit_of(lhs)
                    if lit is not None:
                        return ("cmp", rhs[0][1], FLIP.get(op, op), lit)
                return None
        return None

    def walk(toks):
        out = []
        for chunk in _split_and_depth0(toks):
            stripped = False
            while (
                len(chunk) >= 2
                and chunk[0] == ("op", "(")
                and chunk[-1] == ("op", ")")
                and _chunk_encloses(chunk)
            ):
                chunk = chunk[1:-1]
                stripped = True
            if stripped:
                sub = walk(chunk)
                if sub is None:
                    return None
                out.extend(sub)
                continue
            if not chunk:
                return None
            got = atom(chunk)
            if got is None:
                return None
            out.append(got)
        return out

    # a depth-0 OR anywhere means the root is a disjunction: refuse
    depth = 0
    for t in tokens:
        if t == ("op", "("):
            depth += 1
        elif t == ("op", ")"):
            depth -= 1
        elif depth == 0 and is_kw(t, "OR"):
            return None
    atoms = walk(tokens)
    return atoms or None  # an empty parse proves nothing


_F53 = 2**53  # doubles are exact integers below this

# the ONLY temporal spellings coverage accepts: exactly what both the
# stats writer emits AND Spark's cast parses to the same value.
# datetime.fromisoformat alone is too lax (3.11 parses '20240101',
# and it accepts tz offsets on an NTZ comparison, both of which Spark
# treats differently) — coverage over-claims are wrong answers, so the
# spelling gate is strict and everything else falls back to the scan.
_DATE_STRICT = _re.compile(r"^\d{4}-\d{2}-\d{2}$")
_TS_STRICT = _re.compile(
    r"^\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2}(?:\.\d{1,6})?$"
)


def _cover_lit(lit, tddl: str, mn, mx):
    """Map a parsed literal into the stats-bound comparison domain for
    a column of type ``tddl``, or ``None`` when the comparison Spark
    would perform cannot be soundly reproduced driver-side:

    - integral columns: int literals exact; float literals only while
      literal AND bounds stay below 2^53 (Spark compares in double —
      beyond 2^53 the driver's exact int-float compare could disagree
      at the boundary);
    - float/double: numeric literals (huge int literals refused for the
      same double-rounding reason);
    - string: plain string literals only (a DATE/TIMESTAMP-typed
      literal makes Spark cast the COLUMN side — different domain);
    - date / timestamp_ntz: typed or plain literals in the STRICT
      canonical spellings only (``_DATE_STRICT``/``_TS_STRICT``),
      re-serialized to the stats' exact format (isoformat, space
      separator); lax spellings Python would parse but Spark casts
      differently (compact ``20240101``, tz offsets on an NTZ
      comparison) refuse, as do tz-aware columns.

    Python's str order is code-point order ≡ Spark's UTF-8 binary
    order (UTF-8 preserves code-point order); NaN bounds make every
    comparison False, which only ever refuses coverage."""
    import datetime

    tagged = isinstance(lit, tuple)
    if tddl in ("tinyint", "smallint", "int", "bigint"):
        if tagged or isinstance(lit, (str, bool)):
            return None
        if isinstance(lit, int):
            return lit
        ok = all(
            isinstance(v, int) and abs(v) <= _F53 for v in (mn, mx)
        ) and abs(lit) <= _F53
        return lit if ok else None
    if tddl in ("float", "double"):
        if tagged or isinstance(lit, (str, bool)):
            return None
        if isinstance(lit, int) and abs(lit) > _F53:
            return None
        return float(lit)
    if tddl == "string":
        return lit if isinstance(lit, str) and not tagged else None
    if tddl == "date":
        s = lit[1] if tagged and lit[0] == "date" else (
            lit if isinstance(lit, str) else None
        )
        if s is None or not _DATE_STRICT.match(s):
            return None
        try:
            return datetime.date.fromisoformat(s).isoformat()
        except ValueError:
            return None
    if tddl == "timestamp_ntz":
        s = lit[1] if tagged and lit[0] == "ts" else (
            lit if isinstance(lit, str) else None
        )
        if s is None or not _TS_STRICT.match(s):
            return None
        try:
            return datetime.datetime.fromisoformat(s).isoformat(sep=" ")
        except ValueError:
            return None
    return None


def _file_covered(atoms, types: dict, stats_cols: dict, frs: dict, rows_f) -> bool:
    """Is the conjunctive predicate provably TRUE for EVERY row of the
    file?  Bounds are used in the sound direction only: the recorded
    lower bound is ≤ every value and the upper is ≥ every value (true
    for truncated string bounds too), so ``mn >= x`` proves ``col >= x``
    row-wise.  Any comparison atom requires a null-free file (a NULL
    row evaluates the atom to NULL, not TRUE)."""
    if not rows_f:
        return False
    for a in atoms:
        col = a[1]
        if stats_cols.get(col) != col:
            return False  # coverage needs IDENTITY stats on the column
        rng = frs.get(col)
        if rng is None or len(rng) < 3 or rng[2] is None:
            return False
        nulls = rng[2]
        if a[0] == "null":
            if (nulls != rows_f) if a[2] else (nulls != 0):
                return False
            continue
        if nulls != 0:
            return False
        mn, mx = rng[0], rng[1]
        if mn is None or mx is None:
            return False
        t = types.get(col)
        if t is None:
            return False

        def conv(lit):
            return _cover_lit(lit, t, mn, mx)

        try:
            if a[0] == "between":
                lo, hi = conv(a[2]), conv(a[3])
                if lo is None or hi is None or not (lo <= mn and mx <= hi):
                    return False
            elif a[0] == "in":
                vals = [conv(v) for v in a[2]]
                if any(v is None for v in vals):
                    return False
                if not (mn == mx and mn in vals):
                    return False
            else:  # cmp
                x = conv(a[3])
                if x is None:
                    return False
                op = a[2]
                ok = (
                    (mn >= x and mx <= x) if op in ("=", "==")
                    else (x < mn or x > mx) if op in ("!=", "<>")
                    else (mx < x) if op == "<"
                    else (mx <= x) if op == "<="
                    else (mn > x) if op == ">"
                    else (mn >= x)
                )
                if not ok:
                    return False
        except TypeError:
            return False  # incomparable domains: never claim coverage
    return True


def _covered_split(
    spark: SparkSession,
    manifest: dict,
    predicate: str,
    bloom: bool = True,
    kept: list[str] | None = None,
) -> tuple[list[str], list[str]]:
    """Plan a predicate and split the kept files into (fully covered,
    must scan): covered files are clean (no pending filter), carry
    meta + identity stats, and the STRICT conjunctive parse proves the
    predicate TRUE for every row — their manifest numbers are usable
    as-is, the rest scan with the predicate as the row filter.  A
    caller that already ran :func:`_plan_files` passes the result as
    ``kept`` (plan_info would otherwise pay the bloom probe twice)."""
    from pyspark.sql.types import _parse_datatype_string

    if kept is None:
        kept = _plan_files(spark, manifest, predicate, bloom=bloom)
    atoms = _cover_atoms(predicate)
    if atoms is None:
        return [], kept
    types = {
        f.name: f.dataType.simpleString()
        for f in _parse_datatype_string(manifest["schema"]).fields
    }
    stats_cols = manifest.get("stats_cols") or {}
    meta = manifest.get("file_meta", {})
    fmap = _filter_map(manifest)
    covered, rest = [], []
    for f in kept:
        m = meta.get(f)
        rows_f = None if m is None else int(m["rows"])
        if rows_f == 0:
            continue  # empty either way
        if (
            f not in fmap
            and rows_f is not None
            and _file_covered(
                atoms, types, stats_cols, _effective_stats(manifest, f) or {}, rows_f
            )
        ):
            covered.append(f)
        else:
            rest.append(f)
    return covered, rest


_BLOOM_TYPES = {"tinyint", "smallint", "int", "bigint", "string"}


def _carry_sidecar_entries(parent: dict | None, files: list[str], key: str):
    """Sidecar-entry propagation (same rule as lazy-delete filters, one
    implementation for the bloom and ndv manifest sections): each entry
    keeps only the files the new snapshot still references — a
    rewritten/compacted file leaves the entry (its replacement gets a
    fresh sidecar at the next building commit), an appended file is
    never listed."""
    fset = set(files)
    out = []
    for e in ((parent or {}).get(key) or {}).get("entries", []):
        kept = [f for f in e["files"] if f in fset]
        if kept:
            out.append({**e, "files": kept})
    return out


def _carry_bloom(parent: dict | None, files: list[str]) -> list[dict]:
    return _carry_sidecar_entries(parent, files, "bloom")


def _build_bloom_entry(
    spark: SparkSession,
    table_dir: str,
    new_files: list[str],
    cols: Sequence[str],
    schema,
    fpp: float = 0.01,
) -> dict | None:
    """Build one split-block Bloom filter per (file, column) over THIS
    commit's files into a sidecar parquet under ``<table>/_bloom/`` —
    the point-lookup complement to min/max stats: a hash-distributed
    high-cardinality key (``doc_id = 'x'``) prunes nothing by range
    unless the table was z-ordered by it, but its bloom answers
    'provably absent' per file at ~1.2 bytes/key.

    Reuses the SBBF machinery (``operators/bloom.py``: one 64-bit word
    per key, 8 bits from a second hash, ``bit_or`` aggregation — all
    JVM codegen); one shared word count per entry, sized by the
    LARGEST file's row count at ``fpp`` so every file's realized rate
    is at-or-under it.  Restricted to integral and string columns (the
    id-lookup shapes): equality on other types carries cast/spelling
    semantics a hash probe cannot soundly reproduce.  Bytes land
    BEFORE the manifest references them (commit crash discipline);
    file identity is canonicalized to the MANIFEST's ``Path.toString``
    spelling via a driver-side map (``_metadata.file_path`` is
    URL-encoded — a table path with a space would otherwise never
    match the probe's candidate filter and every file would silently
    prune)."""
    from pyspark.sql import functions as F

    from ..operators.bloom import _hashed, _sbbf_n_words

    cols = list(cols)
    if not new_files or not cols:
        return None
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    table_dir = _byte_dir(spark, table_dir)  # sidecar bytes only
    fs, _, jvm = _fs_for(spark, table_dir)
    scan = spark.read.schema(schema).parquet(*new_files)
    # one metadata-only job yields BOTH the sizing input (largest file's
    # rows) and the file-spelling map: _metadata.file_path is
    # URL-ENCODED ('a dir' → 'a%20dir') while the manifest stores the
    # decoded Path.toString form — the sidecar must record the
    # MANIFEST spelling or the probe's candidate filter silently
    # matches nothing and prunes every file (absence means 'absent')
    per_file = (
        scan.groupBy(F.col("_metadata.file_path").alias("__raw"))
        .count()
        .collect()
    )
    if not per_file:
        return None
    max_rows = max(int(r["count"]) for r in per_file)
    spell = {
        r["__raw"]: _canon_file(jvm, r["__raw"])
        for r in per_file
    }
    unexpected = set(spell.values()) - set(new_files)
    if unexpected:
        raise RuntimeError(
            f"bloom build saw files outside this commit: {sorted(unexpected)[:3]}"
        )
    spell_df = spark.createDataFrame(
        [(k, v) for k, v in spell.items()], "__raw string, file string"
    )
    n_words = _sbbf_n_words(max(1, max_rows), fpp)
    parts = []
    for c in cols:
        src = scan.select(F.col("_metadata.file_path").alias("__srcf"), F.col(c))
        h = _hashed(src, [c], n_words)
        parts.append(
            h.groupBy(F.col("__srcf").alias("__raw"), F.col("__word").alias("word"))
            .agg(F.expr("bit_or(__mask)").alias("bits"))
            .select(F.lit(c).alias("col"), "__raw", "word", "bits")
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.join(F.broadcast(spell_df), "__raw").select(
        "col", "file", "word", "bits"
    )
    sidecar = str(
        fs.makeQualified(_child(jvm, table_dir, "_bloom", f"bf-{uuid.uuid4().hex}"))
    )
    out.write.parquet(sidecar)
    return {
        "sidecar": sidecar,
        "files": list(new_files),
        "cols": cols,
        # the type each column was HASHED as: probes cast their literal
        # to this recorded type, so a later lossless widening of the
        # table schema never desynchronizes probe and build hashes
        "types": {c: types[c] for c in cols},
        "n_words": int(n_words),
        "fpp": fpp,
    }


def _bloom_build_cols(schema, cols, explicit: bool) -> list[str]:
    """The subset of ``cols`` buildable against ``schema``.  An
    EXPLICIT request containing a missing or non-integral/string
    column is a caller mistake — raise (before any bytes move, like
    ``_validate_stats``).  A STICKY set is tolerant (same contract as
    sticky stats_cols): a column the current schema can't support
    simply builds nothing this commit — the configured set stays
    recorded, so it resumes building when the schema supports it
    again."""
    return _sidecar_build_cols(schema, cols, explicit, "bloom_cols")


def _bloom_fn_for(spark, table_dir, new_files, bloom_cols, schema, holder):
    """The ``bloom_fn`` for bloom-building commits (append/overwrite/
    compact), plus lazy entry construction: the sticky column set
    resolves from the PARENT manifest ``_commit`` already read — no
    extra tip read on the hot commit path — and the sidecar builds at
    most once PER COLUMN SET, memoized in ``holder["entries"]`` so
    commit retries and the abort guard share it (a lost race whose
    winning parent declares a DIFFERENT sticky set rebuilds for that
    set, keeping the manifest's declared config and this commit's
    actual coverage in sync).  Sidecar bytes still land BEFORE any
    manifest references them (bloom_fn runs before the manifest write
    inside the loop)."""

    return _sidecar_fn_for(
        spark, table_dir, new_files, bloom_cols, schema, holder,
        "bloom", "entries", _bloom_build_cols, _build_bloom_entry,
    )


def _carry_ndv(parent: dict | None, files: list[str]) -> list[dict]:
    return _carry_sidecar_entries(parent, files, "ndv")


def _sidecar_build_cols(schema, cols, explicit: bool, label: str) -> list[str]:
    """The subset of ``cols`` buildable against ``schema`` — one
    explicit-raises / sticky-tolerates contract shared by bloom and ndv
    sidecars (both restricted to integral/string key columns; for ndv
    the int chain additionally sketches through bigint so a later
    widening never splits a value's identity across files)."""
    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    if explicit:
        missing = [c for c in cols if c not in types]
        if missing:
            raise ValueError(f"{label} {missing} not in the written schema")
        bad = {c: types[c] for c in cols if types[c] not in _BLOOM_TYPES}
        if bad:
            raise ValueError(
                f"{label} must be integral or string columns "
                f"(point-lookup / distinct-count keys); got {bad}"
            )
        return [str(c) for c in cols]
    return [str(c) for c in cols if types.get(c) in _BLOOM_TYPES]


def _ndv_build_cols(schema, cols, explicit: bool) -> list[str]:
    return _sidecar_build_cols(schema, cols, explicit, "ndv_cols")


def _build_ndv_entry(
    spark: SparkSession,
    table_dir: str,
    new_files: list[str],
    cols: Sequence[str],
    schema,
) -> dict | None:
    """One HLL sketch per (file, column) over THIS commit's files into
    a sidecar parquet under ``<table>/_ndv/`` — the distinct-count
    complement to min/max/sum stats (Iceberg stores the same idea in
    puffin files).  Sketch union is register-wise max, so the merged
    estimate over per-file sketches EQUALS the direct whole-data
    sketch (pytest-pinned); ~1 KB per file/column at the default lgK.
    File identity is canonicalized to the manifest's spelling exactly
    like the bloom build (URL-encoding hazard)."""
    from pyspark.sql import functions as F

    cols = list(cols)
    if not new_files or not cols:
        return None
    table_dir = _byte_dir(spark, table_dir)  # sidecar bytes only
    fs, _, jvm = _fs_for(spark, table_dir)
    scan = spark.read.schema(schema).parquet(*new_files)
    # ONE pass builds every column's sketch (groupBy file with N sketch
    # aggregates, melted to (col, file, sketch) rows via an exploded
    # struct array — no SQL-string stacking, so odd column names can't
    # inject), then one tiny cached collect yields the spelling map
    # (_metadata.file_path is URL-encoded vs the manifest's decoded
    # Path.toString — same hazard as the bloom build)
    agged = scan.groupBy(F.col("_metadata.file_path").alias("__raw")).agg(
        *[
            F.hll_sketch_agg(_ndv_sketch_col(schema, c)).alias(f"__sk_{i}")
            for i, c in enumerate(cols)
        ]
    )
    agged = agged.persist()
    try:
        raws = [r["__raw"] for r in agged.select("__raw").collect()]
        if not raws:
            return None
        spell = {raw: _canon_file(jvm, raw) for raw in raws}
        unexpected = set(spell.values()) - set(new_files)
        if unexpected:
            raise RuntimeError(
                f"ndv build saw files outside this commit: "
                f"{sorted(unexpected)[:3]}"
            )
        spell_df = spark.createDataFrame(
            [(k, v) for k, v in spell.items()], "__raw string, file string"
        )
        melted = agged.select(
            "__raw",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("col"),
                            F.col(f"__sk_{i}").alias("sketch"),
                        )
                        for i, c in enumerate(cols)
                    ]
                )
            ).alias("e"),
        ).select(
            F.col("e.col").alias("col"), "__raw", F.col("e.sketch").alias("sketch")
        )
        out = melted.join(F.broadcast(spell_df), "__raw").select(
            "col", "file", "sketch"
        )
        sidecar = str(
            fs.makeQualified(
                _child(jvm, table_dir, "_ndv", f"ndv-{uuid.uuid4().hex}")
            )
        )
        out.write.parquet(sidecar)
    finally:
        agged.unpersist()
    return {"sidecar": sidecar, "files": list(new_files), "cols": cols}


def _ndv_sketch_col(schema, c: str):
    """The column expression sketches are built (and fallback-built)
    from: narrow ints cast to bigint — ``hll_sketch_agg`` rejects
    tinyint/smallint outright, and sketching the whole int chain at one
    width keeps a value's hash identity stable across a later
    widening."""
    from pyspark.sql import functions as F

    types = {f.name: f.dataType.simpleString() for f in schema.fields}
    col = F.col(c)
    if types.get(c) in ("tinyint", "smallint", "int"):
        col = col.cast("bigint")
    return col


def _sidecar_fn_for(
    spark, table_dir, new_files, req_cols, schema, holder,
    key, holder_key, build_cols, build_entry,
):
    """ONE implementation of the sidecar-building commit fn (bloom and
    ndv): sticky column resolution from the parent _commit already
    read, at-most-one build per column set memoized across commit
    retries (holder), bytes landing before any manifest references
    them, default carry composed with this commit's fresh entry."""

    def fn(parent, files):
        cols = (
            [str(c) for c in req_cols]
            if req_cols is not None
            else list(((parent or {}).get(key) or {}).get("cols", []))
        )
        entry = None
        if cols:
            memo = "\x00".join(cols)
            if memo not in holder[holder_key]:
                build = build_cols(schema, cols, req_cols is not None)
                holder[holder_key][memo] = (
                    build_entry(spark, table_dir, new_files, build, schema)
                    if build
                    else None
                )
            entry = holder[holder_key][memo]
        entries = _carry_sidecar_entries(parent, files, key) + (
            [entry] if entry else []
        )
        return {"cols": cols, "entries": entries} if (cols or entries) else None

    return fn


def _ndv_fn_for(spark, table_dir, new_files, ndv_cols, schema, holder):
    return _sidecar_fn_for(
        spark, table_dir, new_files, ndv_cols, schema, holder,
        "ndv", "ndv", _ndv_build_cols, _build_ndv_entry,
    )


def _sidecar_referenced(spark, table_dir, path: str) -> bool:
    """True when some live manifest verifiably references ``path`` as a
    DV or bloom sidecar — True on ANY doubt (unreadable log): deleting
    a referenced sidecar would break every future read of its files,
    while a leaked orphan is merely expire_snapshots' work."""
    try:
        for v in _list_versions(spark, table_dir):
            m = _read_manifest(spark, table_dir, v)
            if any(e.get("dv") == path for e in m.get("row_filters", [])):
                return True
            if any(
                e.get("sidecar") == path
                for e in (m.get("bloom") or {}).get("entries", [])
            ):
                return True
            if any(
                e.get("sidecar") == path
                for e in (m.get("ndv") or {}).get("entries", [])
            ):
                return True
        return False
    except BaseException:
        return True


def _sweep_unreferenced_sidecars(spark, table_dir, paths) -> None:
    """Best-effort abort cleanup shared by every sidecar-writing path
    (DV delete, bloom commits, clone copies): delete each path no live
    manifest references; leak the rest for expire_snapshots."""
    fs, _, jvm = _fs_for(spark, _byte_dir(spark, table_dir))
    for p in paths:
        if p is not None and not _sidecar_referenced(spark, table_dir, p):
            try:
                fs.delete(jvm.org.apache.hadoop.fs.Path(p), True)
            except BaseException:
                pass  # best-effort: the original failure is the story


def _bloom_commit_guard(spark, table_dir, holder, thunk):
    """Run the commit ``thunk``; on abort, delete the just-written bloom
    AND ndv sidecars (``holder``) UNLESS some live manifest verifiably
    references them (the same crash discipline as DV sidecars — on any
    doubt, leak for expire_snapshots)."""
    try:
        return thunk()
    except BaseException:
        _sweep_unreferenced_sidecars(
            spark,
            table_dir,
            [e["sidecar"] for e in holder["entries"].values() if e]
            + [e["sidecar"] for e in holder.get("ndv", {}).values() if e],
        )
        raise


def _bloom_guarded_commit(
    spark, table_dir, new_files, bloom_cols, schema, commit_fn, ndv_cols=None
):
    """One owner for a sidecar-building commit's lifecycle — the
    lazily-built bloom and ndv entries (holder), their fns, and the
    abort guard — shared by append/overwrite/compact so the crash
    discipline lives in exactly one place.  ``commit_fn(bloom_fn,
    ndv_fn)`` runs the actual ``_commit``."""
    holder = {"entries": {}, "ndv": {}}
    bloom_fn = _bloom_fn_for(
        spark, table_dir, new_files, bloom_cols, schema, holder
    )
    ndv_fn = _ndv_fn_for(spark, table_dir, new_files, ndv_cols, schema, holder)
    return _bloom_commit_guard(
        spark, table_dir, holder, lambda: commit_fn(bloom_fn, ndv_fn)
    )


def _eq_values(req) -> set | None:
    """The finite literal set an equality-shaped prune request pins
    (``= lit`` / ``IN (...)`` / unions of those), else None — the only
    shapes a bloom can probe."""
    if isinstance(req, (set, frozenset)):
        return set(req) if req else None  # empty: _prune_files already answered
    if isinstance(req, tuple) and req[0] is not None and req[0] == req[1]:
        return {req[0]}
    if _is_union(req):
        vals: set = set()
        for r in req["any"]:
            got = _eq_values(r)
            if got is None:
                return None  # one non-equality branch: bloom can't help
            vals |= got
        return vals
    return None


def _bloom_prune_files(
    spark: SparkSession, manifest: dict, files: list[str], reqs: dict
) -> list[str]:
    """Consult per-file bloom sidecars for the equality/IN atoms of an
    extracted predicate: a candidate file is DROPPED when some probed
    column's bloom proves every requested literal absent (SBBF: false
    positives keep too much — sound; false negatives are impossible by
    construction).  Cost: one driver-side hash job (k literals, no
    table scan) plus one scan of the involved sidecars filtered to
    candidate files and probe words — metadata-sized, never data.

    Soundness notes: literals are hashed at the entry's RECORDED build
    type (probe ≡ build even after schema widening); a literal outside
    the build type's family or range casts to null and hashes to
    garbage — misses it may cause are sound, because no stored value of
    that type can equal such a literal.  Files not covered by any
    usable entry are always kept."""
    from pyspark.sql import functions as F

    from ..operators.bloom import _SEED2

    entries = (manifest.get("bloom") or {}).get("entries") or []
    if not entries or not reqs or not files:
        return files
    eqs = {}
    for col, req in reqs.items():
        vals = _eq_values(req)
        if vals:
            eqs[col] = vals
    if not eqs:
        return files
    fileset = set(files)

    def lit_ok(v, tddl: str) -> bool:
        if isinstance(v, bool):
            return False
        if tddl in ("tinyint", "smallint", "int", "bigint"):
            # the int64 bound is load-bearing: F.lit raises OUTSIDE it
            # (before try_cast can null the literal), which would crash
            # the read instead of conservatively keeping files
            return isinstance(v, int) and -(2**63) <= v <= 2**63 - 1
        if tddl == "string":
            return isinstance(v, str)
        return False

    probes = []  # (entry, col, candidate files, values)
    for e in entries:
        cand = [f for f in e["files"] if f in fileset]
        if not cand:
            continue
        for col, vals in eqs.items():
            if col not in e.get("cols", []):
                continue
            if not all(lit_ok(v, e["types"][col]) for v in vals):
                continue  # cross-family literal: keep (conservative)
            probes.append((e, col, cand, sorted(vals, key=repr)))
    if not probes:
        return files
    # ONE tiny hash job for every distinct (build type, literal):
    # xxhash64 must be computed by Spark itself — it hashes by TYPE as
    # well as value, and the probe must reproduce the build exactly
    pairs = sorted(
        {(e["types"][col], v) for e, col, _, vals in probes for v in vals},
        key=repr,
    )
    hsel = []
    for i, (tddl, v) in enumerate(pairs):
        lit = F.lit(v).try_cast(tddl)
        hsel += [
            F.xxhash64(lit).alias(f"h1_{i}"),
            F.xxhash64(lit, F.lit(_SEED2)).alias(f"h2_{i}"),
        ]
    hrow = spark.range(1).select(*hsel).collect()[0]
    hashes = {
        pair: (hrow[f"h1_{i}"], hrow[f"h2_{i}"]) for i, pair in enumerate(pairs)
    }

    def mask_of(h2: int) -> int:
        # Python's arithmetic >> on the collected signed long matches
        # the JVM's; & 63 isolates each 6-bit position (bloom.py's
        # _MASK_SQL_TMPL, replicated driver-side)
        m = 0
        for k in range(8):
            m |= 1 << ((h2 >> (6 * k)) & 63)
        return m

    scans = []
    want = []  # aligned with scans: (probe idx, [(word, mask)], cand)
    for pi, (e, col, cand, vals) in enumerate(probes):
        wm = []
        for v in vals:
            h1, h2 = hashes[(e["types"][col], v)]
            wm.append((h1 % e["n_words"], mask_of(h2)))
        words = sorted({w for w, _ in wm})
        want.append((pi, wm))
        flt = (F.col("col") == col) & F.col("word").isin(words)
        if len(cand) <= 64:
            # candidate pushdown only when the IN-list stays small: at
            # 1e5 candidate files (the hash-key lookup case, where
            # range pruning cut nothing) a 1e5-literal In() is itself
            # a driver planning stall; the word filter already bounds
            # the collect, and the driver decision loop only consults
            # candidate files regardless
            flt = flt & F.col("file").isin(cand)
        scans.append(
            spark.read.parquet(e["sidecar"])
            .filter(flt)
            .select(F.lit(pi).alias("pi"), "file", "word", "bits")
        )
    side = scans[0]
    for s in scans[1:]:
        side = side.unionByName(s)
    got: dict = {}
    for r in side.collect():
        got[(r["pi"], r["file"], r["word"])] = r["bits"]
    pruned: set = set()
    for pi, wm in want:
        _, _, cand, _ = probes[pi]
        for f in cand:
            hit = any((got.get((pi, f, w), 0) & m) == m for w, m in wm)
            if not hit:
                pruned.add(f)  # every literal provably absent from f
    if not pruned:
        return files
    return [f for f in files if f not in pruned]


def snapshot_count(
    spark: SparkSession,
    table_dir: str,
    where: str | None = None,
    version: int | None = None,
    as_of: float | None = None,
) -> int:
    """COUNT(*) of a snapshot — from the MANIFEST alone when it can.

    With ``where=None``, every file that (a) carries ``file_meta`` row
    counts (every commit records them) and (b) has NO pending
    lazy-delete filter is answered by driver-side arithmetic — ZERO
    data files are opened, no Spark job runs (the reference's hottest
    serving shape: the pagination count runs on every page request,
    ``backend/app/main.py:266-269``, and so does the scalar-stats
    count, A6).  Files covered by a pending takedown, or written
    before row counts existed, fall back to ONE scan of exactly those
    files (merge-on-read fallback) — at 100 TB a count right after a
    one-file takedown scans one file, not 1e5.

    With a ``where`` predicate, manifest stats first SKIP provably
    disjoint files (the same extraction as
    :func:`read_snapshot_where`), files the predicate provably holds
    on EVERY row of (:func:`_file_covered` — strict conjunctive parse,
    bounds inside the requested ranges, null-free) contribute their
    manifest row counts without being opened, and only the remainder
    — typically the boundary files a range cuts through — scans with
    the predicate.  Either way the result
    always equals ``read_snapshot(...).filter(where).count()``."""
    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    if where is not None:
        # ONE planning pipeline (extraction → prune → bloom) via
        # _covered_split, PLUS full-coverage detection: a file the
        # strict conjunctive parse proves predicate-TRUE for every row
        # (bounds inside the requested ranges, null-free) contributes
        # its manifest row count without being opened — the filtered
        # pagination count over a date-laid-out table is then metadata
        # arithmetic except for the two boundary files the range cuts
        # through, which scan with the predicate as the row filter.
        covered, rest = _covered_split(spark, manifest, where)
        meta_c = manifest.get("file_meta", {})
        total = sum(int(meta_c[f]["rows"]) for f in covered)
        if rest:
            total += (
                _filtered_read(spark, manifest, rest).filter(where).count()
            )
        return total
    files = manifest["files"]
    fmap = _filter_map(manifest)
    meta = manifest.get("file_meta", {})
    total = 0
    rest = []
    for f in files:
        m = meta.get(f)
        if f not in fmap and m is not None:
            total += int(m["rows"])
        else:
            rest.append(f)
    if rest:
        total += _filtered_read(spark, manifest, rest).count()
    return total


def snapshot_min_max(
    spark: SparkSession,
    table_dir: str,
    column: str,
    version: int | None = None,
    as_of: float | None = None,
) -> tuple:
    """Global ``(min, max)`` of a stats column (or stats ALIAS — derived
    stats like ``{"day": "CAST(ts AS DATE)"}`` answer for their
    expression) — from the MANIFEST alone when every file has
    trustworthy bounds: zero data files opened, no Spark job (the
    reference's date-limit endpoint, A7 — run per page request,
    ``backend/app/main.py:668-676``).  A file falls back to being
    scanned (only those files, through the merge-on-read filters) when

    - it has a pending lazy-delete filter (the takedown may have
      removed the extreme row),
    - it records no stats for the column (written before the column
      was configured, unsupported type, or all-null ``[None, None]``
      bounds — indistinguishable from unsupported, so scanned),
    - the column is a tz-AWARE timestamp (stats are spelled in the
      driver's collect-time frame; the session frame may differ — NTZ,
      the engine's canonical flavor, has one frame and answers from
      stats), or
    - a string bound reaches ``_STATS_STR_CAP`` chars (it may be a
      truncated prune-grade bound, exact enough to skip files but not
      to BE the answer).

    NULL semantics match SQL MIN/MAX (nulls ignored); an empty or
    all-null table returns ``(None, None)``.  Result always equals the
    full-scan ``agg(min(col), max(col))``."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        DateType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    expr = (manifest.get("stats_cols") or {}).get(column, column)
    try:
        dtype = _expr_type(spark, manifest["schema"], expr)
    except Exception as e:
        raise ValueError(
            f"snapshot_min_max: {column!r} is neither a stats alias nor an "
            f"expression over the table schema: {e}"
        ) from e
    meta = manifest.get("file_meta", {})
    fmap = _filter_map(manifest)
    tz_aware = isinstance(dtype, TimestampType)
    is_str = isinstance(dtype, StringType)
    los: list = []
    his: list = []
    rest: list[str] = []
    for f in manifest["files"]:
        rng = (_effective_stats(manifest, f) or {}).get(column)
        rows_f = (meta.get(f) or {}).get("rows")
        if rows_f == 0:
            continue  # empty file: contributes nothing, never scanned
        if (
            rng is not None
            and len(rng) > 2
            and rows_f is not None
            and rng[2] == rows_f
        ):
            # provably ALL-NULL for this column (null count == rows):
            # SQL MIN/MAX ignores it — metadata answers, no scan
            continue
        usable = (
            not tz_aware
            and f not in fmap
            and rng is not None
            and rng[0] is not None
            and rng[1] is not None
            and not (
                is_str
                and (
                    len(str(rng[0])) >= _STATS_STR_CAP
                    or len(str(rng[1])) >= _STATS_STR_CAP
                )
            )
        )
        if usable:
            los.append(rng[0])
            his.append(rng[1])
        else:
            rest.append(f)
    if rest:
        r = (
            _filtered_read(spark, manifest, rest)
            .agg(F.min(F.expr(expr)).alias("mn"), F.max(F.expr(expr)).alias("mx"))
            .collect()[0]
        )
        if r["mn"] is not None:
            if not los:
                # stats contributed nothing (either none usable or the
                # type is not JSON-safe — Decimal/binary/array stats
                # record [None, None] and always land here): the scan
                # IS the answer, returned raw — piping it through
                # _json_safe would map a non-JSON-safe type to None
                # and fabricate a (None, None) result
                return (r["mn"], r["mx"])
            # into the stats' JSON-safe domain so the combine below is
            # one total order (isoformat round-trips exactly, so the
            # conversion back loses nothing; a type with usable stats
            # is JSON-safe by construction)
            los.append(_json_safe(r["mn"]))
            his.append(_json_safe(r["mx"]))
    if not los:
        return (None, None)

    def out(v):
        import datetime

        if not isinstance(v, str):
            return v
        if isinstance(dtype, DateType):
            return datetime.date.fromisoformat(v)
        if isinstance(dtype, (TimestampNTZType, TimestampType)):
            return datetime.datetime.fromisoformat(v)
        return v

    def is_nan(v):
        return isinstance(v, float) and v != v

    # Spark orders NaN GREATEST: max is NaN when any file holds one,
    # min ignores NaN unless every value is NaN.  Python's min/max are
    # order-dependent around NaN (min([nan, 1]) != min([1, nan])), so
    # the combine must apply Spark's rule explicitly.
    hi = next((v for v in his if is_nan(v)), None)
    if hi is None:
        hi = max(his)
    real_lo = [v for v in los if not is_nan(v)]
    lo = min(real_lo) if real_lo else los[0]
    return out(lo), out(hi)


_AGG_RE = None  # compiled lazily in _parse_aggs


def _parse_aggs(aggs: Mapping[str, str]) -> dict[str, tuple[str, str | None]]:
    """``{alias: "sum(col)"}`` → ``{alias: ("sum", "col")}``.  Accepted
    shapes: count(*), count(col), sum/min/max/avg/approx_ndv(col) — col
    may be a stats ALIAS (derived stats answer for their expression) or
    a plain column name.  Anything else raises: a silently ignored
    aggregate would report a wrong rollup."""
    import re

    global _AGG_RE
    if _AGG_RE is None:
        _AGG_RE = re.compile(
            r"^\s*(count|sum|min|max|avg|approx_ndv)\s*"
            r"\(\s*(\*|[A-Za-z_][\w.]*)\s*\)\s*$",
            re.IGNORECASE,
        )
    if not aggs:
        raise ValueError("snapshot_agg: aggs must name at least one aggregate")
    out = {}
    for alias, spec in aggs.items():
        m = _AGG_RE.match(str(spec))
        if m is None:
            raise ValueError(
                f"snapshot_agg: unsupported aggregate {spec!r} for {alias!r} "
                "(supported: count(*) | count(col) | sum(col) | min(col) | "
                "max(col) | avg(col) | approx_ndv(col))"
            )
        fn, col = m.group(1).lower(), m.group(2)
        if col == "*" and fn != "count":
            raise ValueError(f"snapshot_agg: {fn}(*) is not an aggregate")
        out[alias] = (fn, None if col == "*" else col)
    return out


_NDV_SKETCHABLE = {"tinyint", "smallint", "int", "bigint", "string"}


def _ndv_sketch_expr(expr: str, dtype):
    """The sketch-input expression for ``approx_ndv`` aggregates —
    same int-chain-through-bigint rule as :func:`_ndv_sketch_col`, but
    over an arbitrary resolved expression (stats aliases included), so
    a fallback-scan sketch unions bit-compatibly with the sidecars."""
    from pyspark.sql import functions as F

    col = F.expr(expr)
    if dtype.simpleString() in ("tinyint", "smallint", "int"):
        col = col.cast("bigint")
    return col


def _nan_combine(los: list, his: list) -> tuple:
    """Spark's NaN total order applied to per-file bounds: max is NaN
    when any file holds one; min ignores NaN unless every value is."""
    def is_nan(v):
        return isinstance(v, float) and v != v

    hi = next((v for v in his if is_nan(v)), None)
    if hi is None:
        hi = max(his) if his else None
    real_lo = [v for v in los if not is_nan(v)]
    lo = min(real_lo) if real_lo else (los[0] if los else None)
    return lo, hi


def snapshot_agg(
    spark: SparkSession,
    table_dir: str,
    aggs: Mapping[str, str],
    group_by: str | Sequence[str] | None = None,
    where: str | None = None,
    version: int | None = None,
    as_of: float | None = None,
):
    """Grouped/global aggregates of a snapshot — from the MANIFEST alone
    when it can (the dashboard-rollup serving shape: a per-day revenue
    rollup over a date-laid-out 100 TB table answers with ZERO Spark
    jobs and zero data files opened).

    ``aggs`` maps output aliases to ``count(*) | count(col) | sum(col)
    | min(col) | max(col) | avg(col) | approx_ndv(col)`` where ``col``
    is a stats column or alias.  ``approx_ndv`` answers grouped
    distinct counts (the "distinct users per day" dashboard shape) from
    the per-file HLL sketch sidecars (``ndv_cols=``) — sidecar-covered
    files never open; union is register-wise max so the grouped
    estimate EQUALS direct whole-group sketching; files without a
    sketch join the same one-scan fallback as the other aggregates.
    Unlike the pure-metadata aggregates it costs one metadata-sized
    sidecar-scan job (like :func:`snapshot_ndv`).  Returns ``{alias: value}`` ungrouped, or
    ``{group_key: {alias: value}}`` with ``group_by=`` (keys typed like
    the column — NULL group under key ``None``; a LIST of group columns
    keys the result by TUPLES — even a one-element list, the shape
    follows the argument's type — the day × category dashboard shape;
    each column must be independently file-constant).  The result must be
    driver-sized — grouped serving rollups are; this is NOT a substitute
    for a wide groupBy (use :func:`read_snapshot` + DataFrame aggs).

    A file is answered from metadata only when EVERY requested aggregate
    is provable for it:

    - it has no pending lazy-delete filter and carries ``file_meta``,
    - ``count(*)`` needs rows; ``count(col)`` a null count;
      ``sum(col)``/``avg(col)`` a recorded per-file sum (numeric stats
      columns, commits made after sums existed — exact integer
      arithmetic for integral columns, float fold for float/double);
    - ``min/max(col)`` follow :func:`snapshot_min_max`'s trust rules
      (tz-aware frames, possibly-truncated string bounds, and
      all-null-ambiguous entries are scanned instead);
    - with ``group_by=``, the file must be provably single-valued on
      EVERY group column: null count 0 and min == max (or provably
      all-NULL → that column's NULL key).

    Every other file falls back to ONE scan of exactly those files
    (merge-on-read fallback through the pending filters) whose partial
    aggregates merge with the metadata side — so the result equals the
    full-scan groupBy: EXACTLY for counts, min/max, and integral
    sums/avgs (exact integer arithmetic end-to-end); for float/double
    sums/avgs the per-file partials fold in manifest order, which can
    differ from Spark's scan-order summation in the last ulps (IEEE
    addition is not associative) — same-value-to-~1e-6, not bitwise.
    With ``where=`` the predicate first
    plans its file set (prune + bloom, :func:`_plan_files`) and files
    the strict conjunctive parse proves FULLY COVERED — predicate TRUE
    for every row (:func:`_file_covered`: bounds inside the requested
    ranges, null-free) — stay on the metadata path; only the boundary
    files a range cuts through scan, with the predicate as the row
    filter.

    Matches the reference's serving aggregates (count/min/max per page
    request, `backend/app/main.py:266-269,668-676`) generalized to the
    grouped dashboard shape (`backend/app/main.py:684-719`)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        AtomicType,
        DateType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    parsed = _parse_aggs(aggs)
    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    stats_cols = manifest.get("stats_cols") or {}

    def resolve(col: str):
        expr = stats_cols.get(col, col)
        try:
            return expr, _expr_type(spark, manifest["schema"], expr)
        except Exception as e:
            raise ValueError(
                f"snapshot_agg: {col!r} is neither a stats alias nor an "
                f"expression over the table schema: {e}"
            ) from e

    single_group = isinstance(group_by, str)
    gcols = (
        [group_by] if single_group
        else list(group_by) if group_by is not None
        else []
    )
    if group_by is not None and not gcols:
        raise ValueError("snapshot_agg: group_by must name at least one column")
    cols = {c for _, c in parsed.values() if c is not None}
    cols.update(gcols)
    info = {c: resolve(c) for c in cols}
    for g in gcols:
        if not isinstance(info[g][1], AtomicType):
            raise ValueError(
                f"snapshot_agg: group_by column {g!r} has non-atomic type "
                f"{info[g][1].simpleString()} — group keys must be scalar"
            )
    ndv_aliases = {a for a, (fn, _) in parsed.items() if fn == "approx_ndv"}
    ndv_cover: dict = {}  # col -> {file -> sidecar}
    if ndv_aliases:
        for a in ndv_aliases:
            c = parsed[a][1]
            if info[c][1].simpleString() not in _NDV_SKETCHABLE:
                raise ValueError(
                    f"snapshot_agg: approx_ndv({c}) needs an integral or "
                    f"string column (got {info[c][1].simpleString()})"
                )
        for e in (manifest.get("ndv") or {}).get("entries", []):
            for c in e.get("cols", []):
                cm = ndv_cover.setdefault(c, {})
                for sf in e["files"]:
                    cm.setdefault(sf, e["sidecar"])

    def scan_result(df: DataFrame):
        """The pure-scan path (where= or no usable metadata): one
        groupBy with avg decomposed so partials merge exactly."""
        sel: list = []
        for alias, (fn, col) in parsed.items():
            if fn == "count" and col is None:
                sel.append(F.count(F.lit(1)).alias(alias))
            elif fn == "avg":
                sel.append(F.sum(F.expr(info[col][0])).alias(f"__s_{alias}"))
                sel.append(F.count(F.expr(info[col][0])).alias(f"__c_{alias}"))
            elif fn == "approx_ndv":
                sel.append(
                    F.hll_sketch_agg(
                        _ndv_sketch_expr(info[col][0], info[col][1])
                    ).alias(f"__sk_{alias}")
                )
            else:
                sel.append(
                    getattr(F, fn)(F.expr(info[col][0])).alias(alias)
                )
        if not gcols:
            rows = [df.agg(*sel).collect()[0]]
        else:
            rows = (
                df.groupBy(
                    *[
                        F.expr(info[g][0]).alias(f"__g{i}")
                        for i, g in enumerate(gcols)
                    ]
                )
                .agg(*sel)
                .collect()
            )
        return rows

    meta = manifest.get("file_meta", {})
    fmap = _filter_map(manifest)

    # with where=: plan the predicate (prune + bloom) and keep the
    # metadata path for files the strict conjunctive parse proves
    # FULLY COVERED (predicate TRUE for every row — their stats and
    # sums are the filtered values); everything else kept by planning
    # scans with the predicate as the row filter and merges as usual
    if where is not None:
        meta_files, rest_seed = _covered_split(spark, manifest, where)
    else:
        meta_files, rest_seed = manifest["files"], []

    def trusted_bounds(col, rng):
        """min/max usable by snapshot_min_max's rules (tz/truncation)."""
        dtype = info[col][1]
        if isinstance(dtype, TimestampType):  # tz-aware: frame hazard
            return False
        if rng is None or rng[0] is None or rng[1] is None:
            return False
        if isinstance(dtype, StringType) and (
            len(str(rng[0])) >= _STATS_STR_CAP
            or len(str(rng[1])) >= _STATS_STR_CAP
        ):
            return False
        return True

    def all_null(rng, rows_f):
        return (
            rng is not None
            and len(rng) > 2
            and rows_f is not None
            and rng[2] == rows_f
        )

    _UNGROUPED = object()
    # group_key -> {alias -> accumulator}; sums/counts accumulate,
    # min/max collect per-file bounds for one NaN-aware combine at the end
    acc: dict = {}
    rest: list[str] = list(rest_seed)

    def slot(key):
        if key not in acc:
            acc[key] = {
                alias: ([] if fn in ("min", "max") else None)
                for alias, (fn, _) in parsed.items()
            }
            for alias, (fn, _) in parsed.items():
                if fn == "avg":
                    acc[key][alias] = [None, 0]  # [sum, non-null count]
                elif fn == "approx_ndv":
                    # sidecar-covered files + fallback-scan sketches,
                    # resolved to an estimate in ONE union job at the end
                    acc[key][alias] = {"files": [], "sketches": []}
        return acc[key]

    for f in meta_files:
        m = meta.get(f)
        rows_f = None if m is None else int(m["rows"])
        if rows_f == 0:
            continue  # empty file contributes nothing, never scanned
        if f in fmap or rows_f is None:
            rest.append(f)
            continue
        frs = _effective_stats(manifest, f) or {}
        # EVERY group column must be provably file-constant (or
        # provably NULL) — the key is the tuple of per-column keys
        key = _UNGROUPED
        if gcols:
            parts_k = []
            for g in gcols:
                rng = frs.get(g)
                if all_null(rng, rows_f):
                    parts_k.append(None)
                elif (
                    rng is not None
                    and len(rng) > 2
                    and rng[2] == 0
                    and rng[0] is not None
                    and rng[0] == rng[1]
                    and trusted_bounds(g, rng)
                ):
                    parts_k.append(rng[0])
                else:
                    parts_k = None
                    break
            if parts_k is None:
                rest.append(f)
                continue
            key = tuple(parts_k)
        # every requested aggregate must be provable for THIS file
        vals = {}
        ok = True
        for alias, (fn, col) in parsed.items():
            if fn == "count" and col is None:
                vals[alias] = ("count", rows_f)
                continue
            rng = frs.get(col)
            if fn == "count":
                if rng is not None and len(rng) > 2:
                    vals[alias] = ("count", rows_f - rng[2])
                else:
                    ok = False
                    break
            elif fn in ("sum", "avg"):
                if rng is not None and len(rng) > 3:
                    vals[alias] = (fn, rng[3], rows_f - rng[2])
                else:
                    ok = False
                    break
            elif fn == "approx_ndv":
                sc = ndv_cover.get(col, {}).get(f)
                if sc is None:
                    ok = False
                    break
                vals[alias] = ("ndv_file", f, sc)
            else:  # min / max
                if all_null(rng, rows_f):
                    vals[alias] = (fn, None)  # contributes nothing
                elif trusted_bounds(col, rng):
                    vals[alias] = (fn, rng[0] if fn == "min" else rng[1])
                else:
                    ok = False
                    break
        if not ok:
            rest.append(f)
            continue
        s = slot(key)
        for alias, v in vals.items():
            if v[0] == "count":
                s[alias] = (s[alias] or 0) + v[1]
            elif v[0] == "ndv_file":
                s[alias]["files"].append((v[1], v[2]))
            elif v[0] == "sum":
                if v[1] is not None:
                    s[alias] = v[1] if s[alias] is None else s[alias] + v[1]
            elif v[0] == "avg":
                if v[1] is not None:
                    s[alias][0] = (
                        v[1] if s[alias][0] is None else s[alias][0] + v[1]
                    )
                s[alias][1] += v[2]
            else:  # min / max bound list
                if v[1] is not None:
                    s[alias].append(v[1])

    # merge-on-read fallback: ONE scan of exactly the unprovable files,
    # partials merged into the metadata accumulators in the stats'
    # JSON-safe value domain (so a date group from the scan lands in the
    # same bucket as a date group from the manifest)
    if rest:
        df = _filtered_read(spark, manifest, rest)
        if where is not None:
            df = df.filter(where)
        for r in scan_result(df):
            if not gcols:
                key = _UNGROUPED
            else:
                parts_k = []
                for i in range(len(gcols)):
                    k = r[f"__g{i}"]
                    if isinstance(k, bytearray):
                        k = bytes(k)  # hashable twin (binary group keys)
                    kj = _json_safe(k) if k is not None else None
                    # a group-key type outside the JSON-safe domain
                    # (e.g. decimal, binary) never has usable stats, so
                    # every file is in rest and the raw key cannot
                    # collide with a stats key
                    parts_k.append(kj if (k is None or kj is not None) else k)
                key = tuple(parts_k)
            s = slot(key)
            for alias, (fn, col) in parsed.items():
                if fn == "count" and col is None:
                    # count(*) of the scan group
                    s[alias] = (s[alias] or 0) + r[alias]
                elif fn == "count":
                    s[alias] = (s[alias] or 0) + r[alias]
                elif fn == "sum":
                    v = r[alias]
                    if v is not None:
                        s[alias] = v if s[alias] is None else s[alias] + v
                elif fn == "avg":
                    sv, cv = r[f"__s_{alias}"], r[f"__c_{alias}"]
                    if sv is not None:
                        s[alias][0] = (
                            sv if s[alias][0] is None else s[alias][0] + sv
                        )
                    s[alias][1] += cv
                elif fn == "approx_ndv":
                    sk = r[f"__sk_{alias}"]
                    if sk is not None:
                        s[alias]["sketches"].append(bytes(sk))
                else:  # min / max: scan extreme joins the bound list,
                    # converted into the stats' JSON-safe domain so the
                    # final combine is one total order; a type outside
                    # that domain (e.g. decimal) never has usable stats
                    # — every file scanned — so its raw value is kept
                    v = r[alias]
                    if v is not None:
                        vj = _json_safe(v)
                        s[alias].append(vj if vj is not None else v)

    # approx_ndv resolution: sidecar-covered files stay DISTRIBUTED
    # (one scan of the distinct sidecar parquets joined to a broadcast
    # file→group map); fallback-scan sketches arrived driver-side with
    # the other partials (groups-sized).  ONE union job merges both and
    # estimates — register-wise max, so the grouped estimate EQUALS
    # direct approx-distinct sketching of each group's rows.
    if ndv_aliases:
        if not gcols:
            slot(_UNGROUPED)  # an empty table still answers 0
        gids = {k: i for i, k in enumerate(acc)}
        map_rows = []  # (file, col, gid, alias) → sidecar sketches
        b_rows = []  # (gid, alias, sketch) → fallback partials
        sidecars: set[str] = set()
        for k, s in acc.items():
            g = gids[k]
            for alias in ndv_aliases:
                col = parsed[alias][1]
                st = s[alias]
                for sf, sc in st["files"]:
                    map_rows.append((sf, col, g, alias))
                    sidecars.add(sc)
                for sk in st["sketches"]:
                    b_rows.append((g, alias, sk))
        parts = []
        if map_rows:
            map_df = spark.createDataFrame(
                map_rows, "file string, col string, __gid int, __alias string"
            )
            parts.append(
                spark.read.parquet(*sorted(sidecars))
                .join(F.broadcast(map_df), ["file", "col"])
                .select("__gid", "__alias", "sketch")
            )
        if b_rows:
            parts.append(
                spark.createDataFrame(
                    b_rows, "__gid int, __alias string, sketch binary"
                )
            )
        est: dict = {}
        if parts:
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            for r in (
                u.groupBy("__gid", "__alias")
                .agg(
                    F.hll_sketch_estimate(
                        F.hll_union_agg("sketch")
                    ).alias("est")
                )
                .collect()
            ):
                est[(r["__gid"], r["__alias"])] = int(r["est"] or 0)
        for k, s in acc.items():
            g = gids[k]
            for alias in ndv_aliases:
                s[alias] = est.get((g, alias), 0)

    def out_value(col, v):
        import datetime

        dtype = info[col][1]
        if not isinstance(v, str):
            return v
        if isinstance(dtype, DateType):
            return datetime.date.fromisoformat(v)
        if isinstance(dtype, (TimestampNTZType, TimestampType)):
            return datetime.datetime.fromisoformat(v)
        return v

    def finalize(s) -> dict:
        o = {}
        for alias, (fn, col) in parsed.items():
            v = s[alias]
            if fn == "count":
                o[alias] = int(v or 0)
            elif fn == "approx_ndv":
                o[alias] = int(v or 0)
            elif fn == "sum":
                o[alias] = v
            elif fn == "avg":
                sm, ct = v
                if not ct:
                    o[alias] = None
                elif isinstance(sm, float) and sm != sm:
                    o[alias] = sm  # NaN poisons like Spark's avg
                else:
                    o[alias] = sm / ct
            elif fn == "min":
                lo, _ = _nan_combine(v, [])
                o[alias] = out_value(col, lo)
            else:
                _, hi = _nan_combine([], v)
                o[alias] = out_value(col, hi)
        return o

    if not gcols:
        return finalize(slot(_UNGROUPED))

    def out_key(k: tuple):
        typed = tuple(out_value(g, v) for g, v in zip(gcols, k))
        # the key SHAPE follows the argument's type, not its length:
        # group_by="day" keys by the scalar (back-compat), any LIST —
        # including a one-element list built dynamically — keys by
        # tuples, exactly as the docstring promises
        return typed[0] if single_group else typed

    return {
        out_key(k): finalize(s)
        for k, s in acc.items()
        if k is not _UNGROUPED
    }


def snapshot_plan_info(
    spark: SparkSession,
    table_dir: str,
    predicate: str | None = None,
    version: int | None = None,
    as_of: float | None = None,
    bloom: bool = False,
) -> dict:
    """What a read WOULD plan, priced from the manifest alone — no data
    scan, by default no Spark job: total vs planned file counts, BYTES,
    and rows under ``predicate`` (None: the whole snapshot).  The probe
    form of :func:`read_snapshot_where` — at 100 TB this is how a
    caller (or ``scale_probe snap``) checks a WHERE clause's
    selectivity economics before paying for it, in the units that
    matter (bytes to read, not just file counts).

    ``bloom=True`` additionally probes the table's bloom sidecars for
    the ``=``/``IN`` atoms — then the numbers match
    :func:`read_snapshot_where`'s plan exactly for point lookups on
    bloom columns, at the cost of the probe's two metadata-sized Spark
    jobs (the default stays zero-job, so its file counts are an UPPER
    bound on the bloom-assisted plan).  Files without ``file_meta``
    (pre-row-count commits) count toward ``files_*`` but contribute
    unknown bytes/rows; ``meta_unknown_files`` counts them over the
    WHOLE snapshot (the gap in the ``*_total`` figures) and
    ``meta_unknown_planned`` over the planned subset — a pruned-away
    meta-less file must not make the totals look complete.

    Rows/bytes are WRITE-TIME physical figures: rows logically removed
    by PENDING merge-on-read takedowns are not subtracted (that is
    :func:`snapshot_count`'s job — it scans exactly the covered
    files); ``filtered_planned`` reports how many planned files carry
    such filters, so a caller can see when physical ≠ visible."""
    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    files = manifest["files"]
    planned = (
        _plan_files(spark, manifest, predicate, bloom=bloom)
        if predicate is not None
        else files
    )
    meta = manifest.get("file_meta", {})

    def total(fl, key):
        return sum(int(meta[f][key]) for f in fl if f in meta)

    out = {
        "files_total": len(files),
        "files_planned": len(planned),
        "bytes_total": total(files, "bytes"),
        "bytes_planned": total(planned, "bytes"),
        "rows_total": total(files, "rows"),
        "rows_planned": total(planned, "rows"),
        "meta_unknown_files": sum(1 for f in files if f not in meta),
        "meta_unknown_planned": sum(1 for f in planned if f not in meta),
        "filtered_planned": sum(
            1 for f in planned if f in _filter_map(manifest)
        ),
    }
    if predicate is not None:
        # how much of the plan never needs opening at all: files the
        # strict conjunctive parse proves predicate-TRUE row-wise
        # (snapshot_count/snapshot_agg answer these from the manifest);
        # the files_planned − files_covered remainder is the true scan
        covered, _ = _covered_split(
            spark, manifest, predicate, bloom=bloom, kept=list(planned)
        )
        cov = set(covered)
        out["files_covered"] = len(covered)
        # _covered_split drops rows==0 files from BOTH lists (empty
        # either way) and snapshot_count/snapshot_agg never open them —
        # pricing them into the scan remainder would overstate bytes
        out["bytes_scanned"] = total(
            [
                f
                for f in planned
                if f not in cov
                and not (f in meta and int(meta[f]["rows"]) == 0)
            ],
            "bytes",
        )
    return out


def snapshot_ndv(
    spark: SparkSession,
    table_dir: str,
    column: str,
    version: int | None = None,
    as_of: float | None = None,
) -> int:
    """Approximate distinct count of ``column`` (non-null values, like
    ``approx_count_distinct``) from the per-file HLL sketch sidecars
    (``ndv_cols=`` at append/overwrite/compact) — the cost is a
    metadata-sized sidecar scan plus one register-wise union, NEVER a
    data pass over covered files.  HLL union is exact over sketches
    (register-wise max), so the merged estimate EQUALS the direct
    whole-data sketch — same number the user would get from
    ``approx_count_distinct``-style sketching of the full table, at
    manifest cost.

    Files without a sketch for the column (written before ``ndv_cols``
    was configured, per-batch stream commits, or files under a pending
    merge-on-read takedown — their sketch predates the delete) fall
    back to ONE scan of exactly those files that builds their sketches
    on the fly and unions them in.  Estimate error is the standard HLL
    bound (~1.6% at Spark's default lgK=12); an empty table returns 0."""
    from pyspark.sql import functions as F

    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    live = [
        f
        for f in manifest["files"]
        if (manifest.get("file_meta", {}).get(f) or {}).get("rows") != 0
    ]
    if not live:
        return 0
    fmap = _filter_map(manifest)
    liveset = set(live)
    cover: dict[str, str] = {}  # file -> sidecar holding its sketch
    for e in (manifest.get("ndv") or {}).get("entries", []):
        if column not in e.get("cols", []):
            continue
        for f in e["files"]:
            if f in liveset and f not in fmap:
                cover.setdefault(f, e["sidecar"])
    rest = [f for f in live if f not in cover]
    parts = []
    if cover:
        cov_df = spark.createDataFrame(
            [(f,) for f in cover], "file string"
        )
        parts.append(
            spark.read.parquet(*sorted(set(cover.values())))
            .filter(F.col("col") == column)
            .join(F.broadcast(cov_df), "file")
            .select("sketch")
        )
    if rest:
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(manifest["schema"])
        parts.append(
            _filtered_read(spark, manifest, rest)
            .agg(
                F.hll_sketch_agg(_ndv_sketch_col(schema, column)).alias(
                    "sketch"
                )
            )
            .select("sketch")
        )
    union = parts[0]
    for p in parts[1:]:
        union = union.unionByName(p)
    row = union.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est")
    ).collect()[0]
    return int(row["est"] or 0)


# expression classes whose value depends on WHEN/WHERE the query runs —
# deterministic() is TRUE for these (they're per-query foldable), which
# is exactly why a stored predicate can't contain them: every future
# read re-evaluates the manifest predicate at ITS OWN time/context
_CONTEXT_DEPENDENT_EXPRS = {
    "CurrentTimestamp": "current_timestamp()",
    "Now": "now()",
    "CurrentDate": "current_date()",
    "LocalTimestamp": "localtimestamp()",
    "CurrentTimeZone": "current_timezone()",
    "CurrentUser": "current_user()",
    "CurrentCatalog": "current_catalog()",
    "CurrentDatabase": "current_database()",
    "InputFileName": "input_file_name()",
    "SparkPartitionID": "spark_partition_id()",
}


def _check_stored_predicate(spark: SparkSession, schema, predicate: str) -> None:
    """Refuse a predicate that would change meaning when re-evaluated.

    A lazy-delete predicate is STORED in the manifest and re-run at
    every future read, rewrite, and compaction — so it must denote the
    same row set forever.  Two hazard classes, both walked out of the
    ANALYZED expression tree (so aliases and sugar can't hide them):

    - nondeterministic expressions (``rand()``, ``uuid()``,
      ``monotonically_increasing_id()``, ...) — Catalyst marks these
      ``deterministic = false``; the leaf-most such node is named
    - context-dependent expressions (``current_timestamp()``,
      ``current_date()``, ``current_user()``, ...) — deterministic
      WITHIN one query but different at the next read, recognized by
      class (:data:`_CONTEXT_DEPENDENT_EXPRS`)

    Only the stored (merge-on-read) path is gated: a CoW predicate
    never outlives its commit.  It IS, however, evaluated twice within
    that commit (hit-file scan, then survivor rewrite) — so a
    nondeterministic predicate under CoW deletes a layout-dependent row
    set (second roll's matches restricted to first roll's files) and a
    time-dependent one can straddle boundary files; callers who need a
    nondeterministic predicate to bind EXACTLY once should use
    ``lazy="dv"``, which freezes the matched positions in one pass."""
    cond = (
        spark.createDataFrame([], schema)
        .filter(predicate)
        ._jdf.queryExecution()
        .analyzed()
        .condition()
    )
    bad: list[str] = []

    def walk(e) -> bool:
        """Post-order; returns whether the subtree is deterministic."""
        name = e.getClass().getSimpleName()
        if name in _CONTEXT_DEPENDENT_EXPRS:
            bad.append(_CONTEXT_DEPENDENT_EXPRS[name])
        if "Subquery" in name or name in ("Exists", "ListQuery", "InSubquery"):
            # a subquery carries a whole PLAN the expression walk can't
            # see into (it may hide current_timestamp(), or read a table
            # whose contents change) — categorically unstable as a
            # stored predicate
            bad.append("a subquery")
        kids_ok = True
        it = e.children().iterator()
        while it.hasNext():
            kids_ok = walk(it.next()) and kids_ok
        if kids_ok and not e.deterministic():
            bad.append(f"{e.prettyName()}()")  # the leaf-most cause
        return kids_ok and e.deterministic()

    walk(cond)
    if bad:
        raise ValueError(
            "lazy delete predicate is not stable under re-evaluation — it "
            f"contains {', '.join(sorted(set(bad)))}; a merge-on-read "
            "predicate is stored in the manifest and re-applied at every "
            "future read, so it must denote the same rows forever.  Use "
            "a literal bound (e.g. the current timestamp as a constant) "
            "or a copy-on-write delete (lazy=False)."
        )


def snapshot_delete_where(
    spark: SparkSession, table_dir: str, predicate: str, lazy: bool | str = False
) -> dict:
    """Targeted delete, three execution modes:

    **Copy-on-write (default)**: ONLY files containing matching rows
    are rewritten (without those rows) into a new commit; untouched
    files carry over by reference — cost ∝ hit files, not table size,
    with atomic cutover and time travel back to the pre-delete
    snapshot.

    **Merge-on-read (``lazy=True``)**: NO data bytes move.  One pass
    finds the files holding matching rows (the same hit scan, write
    amplification zero) and the commit records a ``row_filters`` entry
    — ``{predicate, files}`` — that every read (:func:`read_snapshot`
    and ALL internal rewrite reads via :func:`_filtered_read`) applies
    as a codegen ``(predicate) IS NOT TRUE`` on exactly those files
    (SQL DELETE semantics: exactly the pred=TRUE rows go; a row whose
    predicate evaluates NULL always survives).  At 100 TB
    a takedown over a billion-row slice commits after one scan instead
    of rewriting terabytes; the deferred cost is one pushed filter per
    live takedown on reads of the covered files.  Filters drain
    naturally: any CoW rewrite/compaction of a covered file reads
    through the filters and emits clean bytes, and the carry rule drops
    entries for files no longer referenced — run
    :func:`snapshot_apply_filters` (or :func:`snapshot_compact`) to
    materialize everything at once.  Time travel to the pre-delete
    version still shows the rows (filters live in the manifest).
    Because the predicate is STORED and re-evaluated at every future
    read, lazy mode refuses nondeterministic or time/context-dependent
    predicates (``rand()``, ``current_timestamp()``, subqueries) at
    commit — :func:`_check_stored_predicate`.  CoW mode is not gated
    (its predicate never outlives the commit) but evaluates the
    predicate twice within it (hit scan + survivor rewrite), so a
    nondeterministic CoW predicate binds a layout-dependent row set —
    ``lazy="dv"`` is the mode that evaluates EXACTLY once.

    **Deletion vectors (``lazy="dv"``)**: the hit scan (same one pass)
    materializes the matching rows' PHYSICAL POSITIONS —
    ``(file_path, row_index)`` from the parquet reader's ``_metadata``
    columns — into an immutable sidecar parquet under
    ``<table>/_dv/``, and the commit records ``{"dv": sidecar,
    "files": [...]}``.  Reads apply ONE anti-join per covered file
    group regardless of how many DV takedowns stack (sidecars union
    first), vs one pushed predicate EACH for predicate-lazy — and
    because the predicate binds exactly once, into positions, DV mode
    has NO determinism hazard: it is the only mode where a
    ``rand()``-shaped predicate denotes one well-defined row set (CoW
    accepts one too, but evaluates it twice — hit scan + survivor
    rewrite — so its row set is layout-dependent).  Drains identically (any rewrite/compaction/
    :func:`snapshot_apply_filters` reads through the vectors and emits
    clean bytes); :func:`expire_snapshots` GCs sidecars no surviving
    manifest references.  This is the Delta/Iceberg deletion-vector
    idea re-expressed on Spark's own row-index metadata.

    Mode choice, measured (``scale_probe snap``): DV read cost is flat
    in both the number of stacked takedowns and the predicate's cost;
    predicate-lazy re-evaluates every pending predicate on every
    covered read.  For identifier-hash predicates (the GDPR shape) DV
    reads ~1.5× faster at 8 stacked takedowns; for trivially-cheap
    arithmetic predicates the pushed codegen filters win instead —
    pick ``lazy=True`` for cheap stable predicates, ``lazy="dv"`` for
    expensive ones, heavy stacking, or nondeterminism.

    Concurrency: the CoW mode is conservative-serializable like
    merge/replace — the commit aborts if the tip's files OR filter
    state moved at all (a concurrent APPEND may carry rows matching
    this very predicate; a concurrent lazy delete would be silently
    dropped by a rewrite that never applied it).  The LAZY mode
    COMPOSES with concurrent lazy deletes (both filter entries land —
    an added filter can only shrink this predicate's matches) and
    aborts only when the file set moved or a filter was REMOVED (a
    racing restore resurrecting rows the hit scan never saw)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(lazy, str):
        if lazy != "dv":
            raise ValueError(f"lazy must be False, True, or 'dv' (got {lazy!r})")
    else:
        # normalize truthy ints etc.: `1 == True` would pass a membership
        # check while `lazy is True` gates skip — a stored predicate
        # slipping past the stability gate is exactly the hazard
        lazy = bool(lazy)
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    tip = versions[-1]
    manifest = _read_manifest(spark, table_dir, tip)
    if not manifest["files"]:
        return manifest
    # pin the MANIFEST schema: with merge_schema-evolved mixed physical
    # schemas, plain inference could elect a narrow file's schema and
    # silently drop evolved columns from the rewritten survivors
    schema = _parse_datatype_string(manifest["schema"])
    if lazy is True:
        # gate BEFORE the hit scan: a stored predicate re-evaluates at
        # every future read, so rand()/current_timestamp()-shaped
        # predicates must refuse at commit, not drift silently.  DV
        # mode is NOT gated: it evaluates the predicate exactly once,
        # into positions, like CoW.
        _check_stored_predicate(spark, schema, predicate)
    bdir = _byte_dir(spark, table_dir)
    fs, _, jvm = _fs_for(spark, bdir)
    # ONE hit-scan shape for every mode: the filtered read with
    # scan-bound position metadata.  __dv_file (the _metadata.file_path
    # column), NOT input_file_name(): the latter refuses multi-source
    # plans, and a pending DV entry makes the filtered read one
    # (anti-join).  File paths canonicalize through Path so the hit set
    # compares against the manifest's own spelling.
    snap = _filtered_read(
        spark, manifest, manifest["files"], schema, with_position=True
    )
    dv_path = None
    if lazy == "dv":
        # one pass materializes hit POSITIONS (visible rows only — the
        # read applies pending takedowns) into an immutable sidecar;
        # fs-qualified (file:/...) so the GC's globStatus comparison and
        # the manifest's stored spelling agree
        dv_path = str(
            fs.makeQualified(_child(jvm, bdir, "_dv", f"dv-{uuid.uuid4().hex}"))
        )
        (
            snap.filter(predicate)
            .select(
                F.col("__dv_file").alias("file"), F.col("__dv_pos").alias("pos")
            )
            .write.parquet(dv_path)
        )
        back = spark.read.parquet(dv_path)
        hit_files = sorted(
            _canon_file(jvm, r["file"])
            for r in back.select("file").distinct().collect()
        )
        if not hit_files:  # nothing matched: drop the empty sidecar
            fs.delete(jvm.org.apache.hadoop.fs.Path(dv_path), True)
            return manifest
    else:
        hit_files = sorted(
            _canon_file(jvm, r["f"])
            for r in snap.filter(predicate)
            .select(F.col("__dv_file").alias("f"))
            .distinct()
            .collect()
        )
        if not hit_files:
            return manifest  # nothing to delete: current tip already correct

    if lazy:
        # lazy deletes COMPOSE with concurrent lazy deletes: the retry's
        # lazy_filters_fn re-carries the winning parent's entries and a
        # concurrent filter can only SHRINK the rows matching this
        # predicate (never create matches outside our hit files), so the
        # guard is weaker than the CoW rewrite's — abort only when the
        # file set moved or a base filter was REMOVED (a concurrent
        # restore resurrecting rows our hit scan never saw)
        base_files_set = set(manifest["files"])
        base_fmap = _filter_map(manifest)

        def lazy_files_fn(parent):
            if set(parent["files"] if parent else []) != base_files_set:
                raise RuntimeError(
                    "concurrent commit during snapshot_delete_where (the "
                    "tip's files moved) — re-run the delete on the new tip"
                )
            pmap = _filter_map(parent)
            for f, preds in base_fmap.items():
                if not set(preds) <= set(pmap.get(f, ())):
                    raise RuntimeError(
                        "concurrent commit during snapshot_delete_where "
                        "removed lazy-delete filter state (e.g. a restore) "
                        "— re-run the delete on the new tip"
                    )
            return list(parent["files"])

        entry = (
            {"dv": dv_path, "files": hit_files}
            if lazy == "dv"
            else {"predicate": predicate, "files": hit_files}
        )

        def lazy_filters_fn(parent, files):
            return _carry_filters(parent, files) + [entry]

        try:
            return _commit(
                spark, table_dir, "delete", lazy_files_fn, manifest["schema"],
                meta={"predicate": predicate, "rewritten_files": 0,
                      "mode": "dv" if lazy == "dv" else "lazy",
                      "filtered_files": len(hit_files),
                      **({"dv": dv_path} if dv_path else {})},
                stats_fn=_compose_stats(spark, [], None),  # sticky cols
                row_filters_fn=lazy_filters_fn,
            )
        except BaseException:
            # an aborted DV commit must not strand its sidecar — but the
            # interrupt may have landed AFTER _try_write_manifest
            # succeeded inside _commit (KeyboardInterrupt, py4j drop):
            # deleting a sidecar a live manifest references would break
            # every future read of the covered files.  The shared sweep
            # checks EVERY live manifest (our commit may have landed and
            # been drained by a racing compaction — gone from the tip,
            # still read by time travel) and leaks on any doubt.
            _sweep_unreferenced_sidecars(spark, table_dir, [dv_path])
            raise

    # survivors are written unconditionally — a fully-emptied rewrite
    # produces a schema-only part file, which is cheaper than an extra
    # guard pass over the hit files to detect it.  The read goes through
    # the filters so pending lazy deletes materialize into the rewrite.
    # IS NOT TRUE: delete exactly the pred=TRUE rows — NULL-predicate
    # rows survive regardless of which file they share with a hit.
    survivors = _filtered_read(spark, manifest, hit_files, schema).filter(
        f"({predicate}) IS NOT TRUE"
    )
    new_files, written = _write_data_files(survivors, table_dir)
    hit = set(hit_files)
    moved_guard = _rewrite_guard(manifest, "snapshot_delete_where")

    def files_fn(parent):
        moved_guard(parent)
        return [f for f in parent["files"] if f not in hit] + new_files

    return _commit(
        spark, table_dir, "delete", files_fn, manifest["schema"],
        meta={"predicate": predicate, "rewritten_files": len(hit_files)},
        stats_fn=_compose_stats(spark, new_files, None, written),  # sticky cols
    )


def snapshot_apply_filters(spark: SparkSession, table_dir: str) -> dict:
    """Materialize every pending lazy-delete filter: rewrite ONLY the
    covered files through the filtered read and commit a snapshot with
    clean bytes and an empty ``row_filters`` — read results identical
    before and after (pytest-pinned); the deferred write amplification
    is paid here, once, at covered-files cost."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    manifest = _read_manifest(spark, table_dir, versions[-1])
    entries = manifest.get("row_filters") or []
    if not entries:
        return manifest
    covered = sorted({f for e in entries for f in e["files"]})
    clean = _filtered_read(spark, manifest, covered)
    new_files, written = _write_data_files(clean, table_dir)
    cov = set(covered)
    guard = _rewrite_guard(manifest, "snapshot_apply_filters")

    def files_fn(parent):
        guard(parent)
        return [f for f in parent["files"] if f not in cov] + new_files

    return _commit(
        spark, table_dir, "delete", files_fn, manifest["schema"],
        meta={"mode": "apply_filters", "rewritten_files": len(covered),
              "applied_filters": len(entries)},
        stats_fn=_compose_stats(spark, new_files, None, written),
    )


def snapshot_set_stats_spec(
    spark: SparkSession,
    table_dir: str,
    stats_cols: Sequence[str] | Mapping[str, str],
) -> dict:
    """Change the table's stats/partition SPEC — metadata-only, Iceberg
    partition-spec-evolution style: NEW files compute stats under the
    new spec, OLD files stay readable AND keep pruning under the spec
    that actually produced their stats.

    The commit rewrites no bytes.  It records the outgoing spec in
    ``spec_history`` and pins every existing stats-carrying file to it
    in ``file_spec``; every stats consumer reads per-file stats through
    :func:`_effective_stats`, which admits an alias only when its
    defining expression is IDENTICAL in the file's spec and the current
    one.  Consequences, all pytest-pinned:

    - an alias whose expression is unchanged across specs prunes on old
      AND new files (e.g. keeping ``{"day": "CAST(ts AS DATE)"}`` while
      adding an ``hour`` derivation);
    - a NEW alias prunes only files written after the change (old files
      are conservatively kept — they have no such stats);
    - an alias whose DERIVATION changed (day → month granularity, a
      different source column) stops using old files' stats entirely —
      mis-pruning under the wrong semantics is impossible by
      construction;
    - :func:`snapshot_compact` migrates: rewritten files get fresh
      CURRENT-spec stats and drop their pin, so maintenance gradually
      converges the table to one spec (the Iceberg rewrite-datafiles
      story).

    Time travel is unaffected (old manifests still carry their own
    ``stats_cols``).  Like Iceberg, the spec is metadata about HOW
    files are summarized/laid out — the rows themselves are identical."""
    new_cols = _norm_stats(stats_cols)
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    manifest = _read_manifest(spark, table_dir, versions[-1])
    from pyspark.sql.types import _parse_datatype_string

    _validate_stats(
        spark.createDataFrame([], _parse_datatype_string(manifest["schema"])),
        new_cols,
    )

    def spec_fn(parent):
        old_cols = _norm_stats((parent or {}).get("stats_cols") or [])
        hist = list((parent or {}).get("spec_history") or [])
        old_fspec = dict((parent or {}).get("file_spec") or {})
        if old_cols == new_cols:
            return old_fspec, hist
        old_id = next(
            (s["id"] for s in hist if s["cols"] == old_cols), None
        )
        if old_id is None and old_cols:
            old_id = (max((s["id"] for s in hist), default=-1)) + 1
            hist.append({"id": old_id, "cols": old_cols})
        stats = (parent or {}).get("stats") or {}
        fspec = {
            f: old_fspec.get(f, old_id)
            for f in (parent or {}).get("files", [])
            # only stats-carrying files need a pin; a stats-less file
            # has nothing _effective_stats could mis-admit
            if (f in stats and stats.get(f)) or f in old_fspec
        }
        return fspec, hist

    def stats_fn(parent, files):
        # keep every existing per-file stats entry verbatim (the pins
        # gate their use); only the CURRENT spec changes
        return (
            dict((parent or {}).get("stats") or {}),
            new_cols,
            dict((parent or {}).get("file_meta") or {}),
        )

    return _commit(
        spark, table_dir, "set_spec",
        lambda parent: list(parent["files"]) if parent else [],
        lambda parent: manifest["schema"] if parent is None else parent["schema"],
        meta={"stats_cols": new_cols},
        stats_fn=stats_fn,
        spec_fn=spec_fn,
    )


def _merge_rewrite(
    spark: SparkSession,
    manifest: dict,
    table_dir: str,
    source: DataFrame,
    keys: list,
    when_matched: str,
    when_not_matched: str,
) -> tuple[list[str], list[str], StructType]:
    """The CoW MERGE rewrite against a GIVEN manifest → ``(hit_files,
    new_files, schema written)``: hit files hold a matched key; new files
    carry their survivors + the merge result.  Shared by
    :func:`snapshot_merge_into` (tip manifest) and the multi-table
    transaction's merge spec (catalog-pinned manifest)."""
    from pyspark.sql import functions as F

    base_files = list(manifest["files"])
    # filtered read: a lazily-deleted key must look ABSENT (insert, not
    # update) and must never be resurrected into the rewrite.
    # with_position: the hit scan reads file identity from the
    # scan-bound __dv_file metadata column — input_file_name() refuses
    # the multi-source plan a DV anti-join (or a file-backed source df)
    # produces
    target = _filtered_read(
        spark, manifest, base_files, source.schema, with_position=True
    )
    src = _dedup_guarded(source, keys)

    jvm = spark._jvm  # only Path canonicalization; no FS for table_dir
    hit_files = sorted(
        _canon_file(jvm, r["f"])
        for r in target.join(src.select(*keys).distinct(), keys, "left_semi")
        .select(F.col("__dv_file").alias("f"))
        .distinct()
        .collect()
    ) if base_files else []

    target_hit = _filtered_read(spark, manifest, hit_files, source.schema)
    survivors = target_hit.join(src, keys, "left_anti")
    if when_matched == "update":
        replaced = src.join(target_hit, keys, "left_semi")
    elif when_matched == "ignore":
        replaced = target_hit.join(src, keys, "left_semi")
    else:  # delete
        replaced = spark.createDataFrame([], source.schema)
    inserts = (
        src.join(target, keys, "left_anti")
        if when_not_matched == "insert"
        else spark.createDataFrame([], source.schema)
    )
    new_data = survivors.unionByName(replaced).unionByName(inserts)
    new_files, written = _write_data_files(new_data, table_dir)
    return hit_files, new_files, written


def snapshot_merge_into(
    source: DataFrame,
    table_dir: str,
    keys: Sequence[str],
    when_matched: str = "update",
    when_not_matched: str = "insert",
) -> dict:
    """MERGE INTO the snapshot log, copy-on-write: only files holding a
    matched key are rewritten; everything else carries by reference.
    Keyed upserts with atomic cutover + time travel.

    Semantics: ``when_matched`` in
    {update, delete, ignore} (update = the source row replaces the
    target row wholesale), ``when_not_matched`` in {insert, ignore}.
    Duplicate keys in the source raise IN-PLAN (a merge source is
    per-key terminal state, same contract as ``apply_changes``).

    Concurrency is conservative-serializable: the commit loop verifies
    the tip's file set is EXACTLY the one this merge read (a concurrent
    append could carry keys this merge never saw; a concurrent
    delete/compact could replace files it rewrote) and aborts with
    re-run guidance otherwise — correctness over lock-free optimism."""
    from pyspark.sql import functions as F

    if when_matched not in ("update", "delete", "ignore"):
        raise ValueError(f"when_matched must be update/delete/ignore, got {when_matched!r}")
    if when_not_matched not in ("insert", "ignore"):
        raise ValueError(f"when_not_matched must be insert/ignore, got {when_not_matched!r}")
    spark = source.sparkSession
    keys = list(keys)
    ddl = source.schema.simpleString()

    versions = _list_versions(spark, table_dir)
    if not versions:
        if when_not_matched != "insert":
            raise ValueError("fresh table and when_not_matched='ignore': merge is vacuous")
        # fresh table: every source row is an insert — but keep the
        # duplicate-key guard, AND keep the serializable contract: if an
        # interloper lands v1 between our emptiness check and the
        # commit, a blind append would skip the matched-key rewrite and
        # duplicate shared keys — abort and re-run instead
        new_files, written = _write_data_files(_dedup_guarded(source, keys), table_dir)

        def fresh_files_fn(parent):
            if parent is not None:
                raise RuntimeError(
                    "concurrent commit during snapshot_merge_into (the table "
                    "was fresh at read time but the tip moved) — re-run the "
                    "merge on the new tip"
                )
            return list(new_files)

        return _commit(
            spark, table_dir, "merge", fresh_files_fn, ddl,
            meta={"rewritten_files": 0, "when_matched": when_matched,
                  "when_not_matched": when_not_matched},
            stats_fn=_compose_stats(spark, new_files, None, written),
        )
    tip_manifest = _read_manifest(spark, table_dir, versions[-1])
    _check_schema(tip_manifest, ddl, "snapshot_merge_into")
    hit_files, new_files, written = _merge_rewrite(
        spark, tip_manifest, table_dir, source, keys,
        when_matched, when_not_matched,
    )
    base_files = list(tip_manifest["files"])
    hit = set(hit_files)
    guard = _rewrite_guard(tip_manifest, "snapshot_merge_into")

    def files_fn(parent):
        guard(parent)
        return [f for f in base_files if f not in hit] + new_files

    return _commit(
        spark, table_dir, "merge", files_fn, ddl,
        meta={
            "rewritten_files": len(hit_files),
            "when_matched": when_matched,
            "when_not_matched": when_not_matched,
        },
        stats_fn=_compose_stats(spark, new_files, None, written),
    )


def _dedup_guarded(source: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Re-emit ``source`` with an in-plan duplicate-key guard: grouped by
    key, count > 1 raises at execution — no separate validation job."""
    from pyspark.sql import functions as F

    keys = list(keys)
    vals = [c for c in source.columns if c not in keys]
    msg = F.concat(
        F.lit("merge source carries duplicate key ("),
        F.concat_ws(
            ", ", *[F.coalesce(F.col(k).cast("string"), F.lit("NULL")) for k in keys]
        ),
        F.lit(") — a merge source must hold one terminal row per key"),
    )
    # the guard must live in a column the downstream plan READS, or
    # Catalyst prunes it and the raise never evaluates: wrap the value
    # struct itself (or, for a keys-only source, the first key)
    g = (
        source.select(*keys, F.struct(*[F.col(c) for c in vals]).alias("__v"))
        .groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("__cn"), F.first("__v").alias("__v"))
    )
    if vals:
        guarded = F.when(F.col("__cn") > 1, F.raise_error(msg)).otherwise(
            F.col("__v")
        )
        return g.select(
            *keys, *[guarded[c].alias(c) for c in vals]
        ).select(*source.columns)
    k0 = keys[0]
    guarded_key = F.when(F.col("__cn") > 1, F.raise_error(msg)).otherwise(F.col(k0))
    return g.select(guarded_key.alias(k0), *keys[1:]).select(*source.columns)


def snapshot_replace_where(
    df: DataFrame, table_dir: str, predicate: str
) -> dict:
    """Atomic 'INSERT OVERWRITE WHERE': one commit that deletes every
    row matching ``predicate`` and inserts ``df`` — the idempotent
    slice-reload pattern (re-land a day/source partition without a
    delete+append window where readers see neither).  Copy-on-write:
    only files holding matching rows rewrite.  Every ``df`` row must
    itself satisfy ``predicate`` (guarded IN-PLAN — otherwise a retry
    of the same load would not be idempotent), mirroring Delta's
    replaceWhere contract.  Conservative-serializable like merge: the
    commit aborts if the tip moved past the base this replace read."""
    from pyspark.sql import functions as F

    spark = df.sparkSession
    ddl = df.schema.simpleString()
    pred = F.expr(predicate)
    msg = F.concat(
        F.lit(f"replace_where: an inserted row violates the predicate "),
        F.lit(predicate),
    )
    first = df.columns[0]
    guarded = df.select(
        F.when(~F.coalesce(pred, F.lit(False)), F.raise_error(msg))
        .otherwise(F.col(first))
        .alias(first),
        *df.columns[1:],
    ).select(*df.columns)

    versions = _list_versions(spark, table_dir)
    if not versions:
        return snapshot_append(guarded, table_dir)
    manifest = _read_manifest(spark, table_dir, versions[-1])
    _check_schema(manifest, ddl, "snapshot_replace_where")
    base_files = list(manifest["files"])
    jvm = spark._jvm  # only Path canonicalization; no FS for table_dir
    # __dv_file, not input_file_name(): see snapshot_delete_where — a
    # pending DV entry makes the filtered read a multi-source plan
    hit_files = sorted(
        _canon_file(jvm, r["f"])
        for r in (
            _filtered_read(spark, manifest, base_files, df.schema, with_position=True)
            .filter(predicate)
            .select(F.col("__dv_file").alias("f"))
            .distinct()
            .collect()
        )
    ) if base_files else []
    # IS NOT TRUE, matching the delete family: the replaced slice is
    # exactly the pred=TRUE rows (a NULL-predicate row is not part of
    # the slice, so it survives — and the in-plan guard above already
    # refuses NULL-predicate INSERTS for idempotency)
    survivors = _filtered_read(spark, manifest, hit_files, df.schema).filter(
        f"({predicate}) IS NOT TRUE"
    )
    new_files, written = _write_data_files(survivors.unionByName(guarded), table_dir)
    hit = set(hit_files)
    guard = _rewrite_guard(manifest, "snapshot_replace_where")

    def files_fn(parent):
        guard(parent)
        return [f for f in base_files if f not in hit] + new_files

    return _commit(
        spark, table_dir, "replace_where", files_fn, ddl,
        meta={"predicate": predicate, "rewritten_files": len(hit_files)},
        stats_fn=_compose_stats(spark, new_files, None, written),
    )


def snapshot_file_changes(
    spark: SparkSession,
    table_dir: str,
    from_version: int,
    to_version: int | None = None,
) -> tuple[DataFrame | None, DataFrame | None, dict]:
    """File-confined CoW delta between two snapshots:
    ``(removed_rows, added_rows, info)``.

    ``removed_rows`` reads exactly the files referenced at
    ``from_version`` but no longer at ``to_version`` (default: the tip);
    ``added_rows`` the files new at ``to_version``.  Because every
    commit is copy-on-write — existing bytes are NEVER touched — a file
    carried by BOTH snapshots holds identical rows in each, so the pair
    is a COMPLETE row-level delta of the window: the new snapshot equals
    (old snapshot − removed_rows) ∪ added_rows, at a cost proportional
    to the files the window actually rewrote, never to table size.  At
    100 TB a one-partition delete prices as that one rewritten file plus
    its survivor file, not as 1e5 files full-outer-joined.

    Either side is None when its file set is empty.  Both sides read
    with their OWN version's pinned manifest schema (what those files
    meant in that snapshot).  ``info`` carries the file lists, both
    schemas, and ``info["all_compact"]`` — True when every commit in
    the window was a compaction (the window is data-identical: skip the
    bytes outright), False as soon as one wasn't, None when an expired
    intermediate manifest makes the question unanswerable (the file
    delta itself stays valid either way).  The op scan is lazy with
    early exit — a non-compaction first commit costs ONE extra manifest
    read regardless of window length, keeping the whole call at
    endpoint-manifests cost for ordinary windows."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    if to_version is None:
        to_version = versions[-1]
    version_set = set(versions)
    for v in (from_version, to_version):
        if v not in version_set:
            raise ValueError(f"version {v} not in log (have {versions[:5]}...)")
    if from_version > to_version:
        raise ValueError(
            f"from_version {from_version} is after to_version {to_version}"
        )
    old_m = _read_manifest(spark, table_dir, from_version)
    new_m = _read_manifest(spark, table_dir, to_version)
    old_files = set(old_m["files"])
    new_files = set(new_m["files"])
    removed = [f for f in old_m["files"] if f not in new_files]
    added = [f for f in new_m["files"] if f not in old_files]
    # a LAZY delete changes carried files' visible rows without touching
    # the file list: any carried file whose applicable filter set
    # differs between the endpoints goes on BOTH sides (old-filtered
    # rows out, new-filtered rows in), restoring the complete-delta
    # theorem at affected-file cost
    carried = old_files & new_files
    old_fmap, new_fmap = _filter_map(old_m), _filter_map(new_m)
    refiltered = sorted(
        f for f in carried if old_fmap.get(f) != new_fmap.get(f)
    )
    all_compact: bool | None = True
    for v in range(from_version + 1, to_version + 1):
        if v not in version_set:
            all_compact = None  # expired evidence: unknowable
            break
        op = (
            new_m["op"] if v == to_version
            else _read_manifest(spark, table_dir, v)["op"]
        )
        if op != "compact":
            all_compact = False
            break

    def _read(m: dict, files: list[str]) -> DataFrame | None:
        if not files:
            return None
        return _filtered_read(spark, m, files)

    info = {
        "from_version": from_version,
        "to_version": to_version,
        "removed_files": removed,
        "added_files": added,
        "refiltered_files": refiltered,
        "all_compact": all_compact,
        "from_schema": old_m["schema"],
        "to_schema": new_m["schema"],
    }
    return (
        _read(old_m, removed + refiltered),
        _read(new_m, added + refiltered),
        info,
    )


def snapshot_changes(
    spark: SparkSession,
    table_dir: str,
    keys: Sequence[str],
    from_version: int,
    to_version: int | None = None,
    confined: bool = False,
) -> DataFrame:
    """Row-level change feed between two snapshots (CDF after the fact):
    ``(keys..., diff_status, changed_cols)`` via the engine's
    ``table_diff`` — added/removed/changed/unchanged with null-safe
    per-column attribution.

    ``confined=False`` (default) full-outer joins the two complete
    snapshots and emits an ``unchanged`` row for every untouched key —
    the audit shape, at table-sized cost.  This is the original
    contract; the confined fast path below is opt-in because it emits a
    DIFFERENT result set (untouched keys are absent, not ``unchanged``)
    — an audit caller counting unchanged keys must not be switched
    silently.  **Changed in r11** (see README "Behavior changes"): the
    default briefly flipped to ``True`` in r10 and was reverted —
    callers built against r10 must pass ``confined=True`` explicitly.

    ``confined=True`` diffs ONLY the files the window rewrote
    (:func:`snapshot_file_changes`): files carried by both snapshots are
    byte-identical under CoW, so their rows are unchanged by
    construction and are NOT emitted — the join is rewritten-file-sized,
    not table-sized (a one-file delete out of 1e5 files diffs 2 files,
    not 2×1e5).  Rows that WERE rewritten but kept their values (e.g.
    survivors sharing a file with deleted rows) still surface as
    ``unchanged``.  Valid under the keyed-table discipline — each key
    holds at most one live row per snapshot — which is the same
    precondition the full-outer keyed diff needs to be well-defined at
    all (a key duplicated across a carried and an added file would
    already be a duplicate key in the new snapshot)."""
    from mini_project_204721_data_engineering_spark.operators.diff import table_diff

    if not confined:
        old = read_snapshot(spark, table_dir, version=from_version)
        new = read_snapshot(spark, table_dir, version=to_version)
        return table_diff(old, new, keys)
    removed, added, info = snapshot_file_changes(
        spark, table_dir, from_version, to_version
    )
    from pyspark.sql.types import _parse_datatype_string

    if removed is None:
        removed = spark.createDataFrame(
            [], _parse_datatype_string(info["from_schema"])
        )
    if added is None:
        added = spark.createDataFrame([], _parse_datatype_string(info["to_schema"]))
    return table_diff(removed, added, keys)


def _compact_pack(
    spark: SparkSession,
    manifest: dict,
    table_dir: str,
    target_file_bytes: int,
    small_file_bytes: int,
    zorder_by: Sequence[str] | None = None,
) -> tuple[list[str] | None, list[str] | None, StructType | None]:
    """The bin-packing PLAN + rewrite against a GIVEN manifest →
    ``(small_files, new_files, schema written)``, or ``(None, None, None)``
    when fewer than two files qualify (nothing worth packing).  ONE implementation for
    :func:`snapshot_compact` (tip manifest) and the multi-table
    transaction's compact spec (catalog-pinned manifest) — divergent
    planners would drift (size fallback, thresholds, partitioning)."""
    if target_file_bytes <= 0 or small_file_bytes <= 0:
        raise ValueError(
            "compact: target_file_bytes and small_file_bytes must be "
            f"positive (got {target_file_bytes}, {small_file_bytes})"
        )
    # byte IO only (size fallback + data-file writes): translate mock
    # paths onto file:, identity for every Hadoop-native store
    table_dir = manifest_io_for(table_dir, spark).spark_path(table_dir)
    fs, _, jvm = _fs_for(spark, table_dir)
    # sizes come from the manifest's file_meta — at 1e5 files that is
    # the difference between a dict lookup and 1e5 getFileStatus RPCs
    # just to DECIDE what to compact; only files predating row/byte
    # recording fall back to the filesystem
    meta = manifest.get("file_meta", {})
    sizes = {}
    for f in manifest["files"]:
        m = meta.get(f)
        if m is not None and "bytes" in m:
            sizes[f] = int(m["bytes"])
        else:
            sizes[f] = int(
                fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(f)).getLen()
            )
    small = [f for f in manifest["files"] if sizes[f] < small_file_bytes]
    if len(small) < 2:
        return None, None, None  # nothing worth packing
    total = sum(sizes[f] for f in small)
    n_out = max(1, (total + target_file_bytes - 1) // target_file_bytes)
    # read through pending lazy-delete filters: compaction is also the
    # natural drain point that materializes them into clean bytes
    packed = _filtered_read(spark, manifest, small)
    if zorder_by:
        from mini_project_204721_data_engineering_spark.sources.sink import zorder_layout

        packed = zorder_layout(packed, list(zorder_by), n_out)
    else:
        packed = packed.repartition(n_out)
    new_files, written = _write_data_files(packed, table_dir)
    return small, new_files, written


def snapshot_compact(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    small_file_bytes: int | None = None,
    zorder_by: Sequence[str] | None = None,
    bloom_cols: Sequence[str] | None = None,
    ndv_cols: Sequence[str] | None = None,
) -> dict:
    """Bin-pack small files into ~``target_file_bytes`` files as a new
    snapshot — the maintenance pass that keeps a streaming-fed table
    (one commit per micro-batch = one small file per trigger) from
    drowning the planner in files.  Only files under ``small_file_bytes``
    (default: target/2) rewrite; big files carry by reference.  Readers
    of prior snapshots are untouched (old files live until
    :func:`expire_snapshots`).  Safe against concurrent APPENDS (they
    only add files); a concurrent delete/compact that replaced one of
    the compacted files aborts with re-run guidance.

    ``zorder_by`` (the OPTIMIZE ZORDER composition): the packed rewrite
    is laid out along the Z-curve of the given columns (integer, float,
    decimal, date, timestamp, or string — encoded order-preservingly by
    ``sink._zorder_encode`` and laid out by ``sink.zorder_layout``) —
    range-partitioned on the Morton value so each output file owns a
    curve segment with a SMALL bounding box in every Z-column — and the
    commit records manifest min/max stats for those columns (sticky-set
    rules apply), so :func:`read_snapshot` manifest pruning on ANY of
    them skips most files immediately after the compact, not just on a
    leading sort key (pruning-effectiveness pytest-pinned).

    ``bloom_cols`` (sticky, as in :func:`snapshot_append`) rebuilds
    per-file bloom sidecars for the PACKED output files — compaction is
    also how a stream-fed table (whose per-batch commits skip the bloom
    job) gets its point-lookup pruning populated."""
    if small_file_bytes is None:
        small_file_bytes = target_file_bytes // 2
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    manifest = _read_manifest(spark, table_dir, versions[-1])
    from pyspark.sql.types import _parse_datatype_string as _pds

    if bloom_cols is not None:
        # caller mistakes raise immediately — BEFORE the repack, and
        # regardless of whether this particular call finds anything to
        # pack (a nothing-to-do no-op must not mask a typo that will
        # start raising weeks later when small files accumulate)
        _bloom_build_cols(_pds(manifest["schema"]), bloom_cols, explicit=True)
    if ndv_cols is not None:
        _ndv_build_cols(_pds(manifest["schema"]), ndv_cols, explicit=True)
    small, new_files, written = _compact_pack(
        spark, manifest, table_dir, target_file_bytes, small_file_bytes,
        zorder_by,
    )
    if small is None:
        return manifest  # nothing worth packing
    small_set = set(small)
    # compaction stays APPEND-tolerant (appends only add files), but the
    # filter state of the files it packed must not have moved: a
    # concurrent lazy delete covering one of them would be pruned by the
    # carry rule while these packed bytes never applied it
    base_small_sig = _filter_sig(manifest, small_set)

    def files_fn(parent):
        missing = small_set - set(parent["files"] if parent else [])
        if missing or _filter_sig(parent, small_set) != base_small_sig:
            raise RuntimeError(
                "concurrent commit replaced files (or changed the lazy-"
                "delete filter state of files) this compaction rewrote — "
                "re-run snapshot_compact on the new tip"
            )
        return [f for f in parent["files"] if f not in small_set] + new_files

    # schema re-derives from the WINNING parent: compaction tolerates
    # concurrent appends, and one of them may have additively evolved
    # the schema (merge_schema widening / new column) — committing the
    # planning-time schema would silently revert that evolution and pin
    # the interloper's wider file to a narrower read.  The packed files
    # read fine under the evolved schema (scan-time upcast / NULL new
    # columns), exactly like any other pre-evolution file.
    return _bloom_guarded_commit(
        spark, table_dir, new_files, bloom_cols, _pds(manifest["schema"]),
        lambda bloom_fn, ndv_fn: _commit(
            spark, table_dir, "compact", files_fn,
            lambda parent: (
                parent["schema"] if parent is not None else manifest["schema"]
            ),
            meta={"compacted_files": len(small), "produced_files": len(new_files),
                  **({"zorder_by": list(zorder_by)} if zorder_by else {})},
            stats_fn=_compose_stats(spark, new_files, zorder_by, written),
            bloom_fn=bloom_fn,
            ndv_fn=ndv_fn,
        ),
        ndv_cols=ndv_cols,
    )


def snapshot_incremental_read(
    spark: SparkSession,
    table_dir: str,
    last_version: int,
) -> tuple[DataFrame | None, int]:
    """Batch-incremental consumption of an APPEND-ONLY table: the rows
    landed after ``last_version``, as ``(df, new_version)`` — feed
    ``new_version`` back next poll (None df when nothing new).  This is
    the downstream-ETL half of exactly-once: the upstream stream commits
    through the txn watermark, the consumer advances its cursor only
    after its own output commits.

    Correct BY CONSTRUCTION only for append-shaped commits (append /
    merge-that-only-inserted / replace of nothing): if any commit in
    the window removed or replaced a file, added-files ≠ added-rows and
    this raises — use :func:`snapshot_changes` (keyed row diff) for
    tables that rewrite.  Never reads the data directory: ONLY
    manifest-referenced files, so racing writers' uncommitted files are
    invisible here exactly as they are to full reads."""
    versions = _list_versions(spark, table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    tip = versions[-1]
    if last_version == tip:
        return None, tip
    if last_version > tip:
        # a cursor AHEAD of the tip means the log was truncated or
        # recreated under the consumer — silently rebasing would skip
        # every row of the new log's early versions
        raise ValueError(
            f"cursor version {last_version} is ahead of the tip v{tip} — "
            "the log was recreated; re-baseline with a full read"
        )
    if last_version > 0 and last_version not in versions:
        raise ValueError(
            f"cursor version {last_version} expired from the log — "
            "re-baseline with a full read"
        )
    base_manifest = (
        _read_manifest(spark, table_dir, last_version)
        if last_version > 0
        else None
    )
    base_files = set(base_manifest["files"]) if base_manifest else set()
    tip_manifest = _read_manifest(spark, table_dir, tip)
    tip_files = set(tip_manifest["files"])
    removed = base_files - tip_files
    if removed:
        raise ValueError(
            f"non-append commit(s) between v{last_version} and v{tip} removed "
            f"{len(removed)} file(s) — incremental file reads would be wrong; "
            "use snapshot_changes for row-level diffs"
        )
    if _filter_sig(base_manifest, base_files) != _filter_sig(
        tip_manifest, base_files
    ):
        # a lazy delete changed carried files' ROWS without touching the
        # file list — added-files-only reading would silently miss it
        raise ValueError(
            f"lazy-delete filter(s) changed on carried files between "
            f"v{last_version} and v{tip} — incremental file reads would "
            "miss the deletions; use snapshot_changes for row-level diffs"
        )
    added = [f for f in tip_manifest["files"] if f not in base_files]
    if not added:
        return None, tip
    return _filtered_read(spark, tip_manifest, added), tip


def _filter_map(manifest: dict | None) -> dict:
    """file → sorted tuple of the lazy-delete entry identities covering
    it (predicate text or ``dv:<sidecar>`` — :func:`_entry_sig`) — ONE
    pass over the manifest's filter entries (O(Σ entry files)), so
    per-file signature comparisons never rescan every entry list."""
    acc: dict[str, list] = {}
    for e in (manifest or {}).get("row_filters", []):
        for f in e["files"]:
            acc.setdefault(f, []).append(_entry_sig(e))
    return {f: tuple(sorted(ps)) for f, ps in acc.items()}


def _filter_sig(manifest: dict | None, files: set) -> dict:
    """Canonical lazy-delete filter state RESTRICTED to ``files`` — two
    manifests whose signatures match hold row-identical data in those
    files (the carry rule only ever prunes entries; predicates are
    recorded verbatim)."""
    fmap = _filter_map(manifest)
    return {f: fmap[f] for f in files if f in fmap}


def _expr_mentions(expr: str, name: str) -> bool:
    """Does the SQL expression text reference ``name`` as an identifier?
    Tokenizer-based (case-insensitive, like Spark's analyzer);
    unparseable expressions fall back to a substring check —
    conservative in the refusing direction, which is the only direction
    these guards use it."""
    want = str(name).lower()
    try:
        return any(
            kind == "id" and str(tok).lower() == want
            for kind, tok in _predicate_tokens(str(expr))
        )
    except Exception:
        return want in str(expr).lower()


def _pending_predicate_mentions(manifest: dict | None, name: str) -> str | None:
    """The first pending predicate-mode lazy-delete filter referencing
    ``name``, or None.  DV entries are positional and never block a
    schema change."""
    for e in (manifest or {}).get("row_filters", []):
        if "predicate" in e and _expr_mentions(e["predicate"], name):
            return e["predicate"]
    return None


def _evo_state(parent: dict | None) -> tuple[dict, list]:
    return (
        dict((parent or {}).get("renames", {})),
        list((parent or {}).get("reserved_cols", [])),
    )


def _guard_reserved(parent: dict | None, ddl: str, op: str) -> None:
    """Refuse re-introducing a column name old data files still
    physically carry (dropped, or the FROM side of a rename): by-name
    parquet matching would silently RESURRECT those files' values under
    the new column."""
    if parent is None:
        return
    reserved = {str(c).lower() for c in parent.get("reserved_cols", [])}
    if not reserved:
        return
    from pyspark.sql.types import _parse_datatype_string

    have = {
        f.name.lower() for f in _parse_datatype_string(parent["schema"]).fields
    }
    added = {
        f.name.lower() for f in _parse_datatype_string(ddl).fields
    } - have
    hit = sorted(added & reserved)
    if hit:
        raise ValueError(
            f"{op}: column name(s) {hit} were previously dropped or renamed "
            "away and old data files still physically carry them — re-adding "
            "the name would resurrect those values under by-name reads.  "
            "Pick a different name, or snapshot_overwrite to rebuild the "
            "table (a full replace clears the reservation)."
        )


def _strip_entry_col(
    parent: dict | None, files: list, old: str, new: str | None, key: str, carry
):
    """Shared sidecar-entry adjustment for rename/drop (bloom AND ndv
    manifest sections share the shape): the sticky column set follows
    the rename (new appends build under the new name) while per-file
    ENTRIES for the old name are removed — sidecar rows record the
    column name at build time, so re-keying the manifest alone would
    make a probe by the new name find no rows (for bloom, an unsound
    prune; for ndv, a silent undercount); stripped files simply lose
    the capability on that column until the next sidecar-building
    rewrite (compact) re-covers them."""
    pb = (parent or {}).get(key) or {}
    sticky = [
        (new if c == old and new is not None else c)
        for c in pb.get("cols", [])
        if not (c == old and new is None)
    ]
    entries = []
    for e in carry(parent, files):
        if old in e.get("cols", []):
            e = {**e, "cols": [c for c in e["cols"] if c != old]}
            if "types" in e:
                e["types"] = {k: v for k, v in e["types"].items() if k != old}
            if not e["cols"]:
                continue  # nothing probeable left; sidecar GCs via expire
        entries.append(e)
    return {"cols": sticky, "entries": entries} if (sticky or entries) else None


def _strip_bloom_col(parent: dict | None, files: list, old: str, new: str | None):
    return _strip_entry_col(parent, files, old, new, "bloom", _carry_bloom)


def _strip_ndv_col(parent: dict | None, files: list, old: str, new: str | None):
    return _strip_entry_col(parent, files, old, new, "ndv", _carry_ndv)


def snapshot_rename_column(
    spark: SparkSession, table_dir: str, old: str, new: str
) -> dict:
    """Rename a column — pure metadata, zero data movement (the
    column-mapping capability Iceberg gets from field IDs, re-derived
    for this log's by-name read model; reference has fixed SQLAlchemy
    schemas and no online DDL — this is the lakehouse extension of its
    C13-style rename-at-ingest, `backend/app/utils.py:300`).

    Old data files keep their physical name; the reader repairs the
    chain in-plan (augmented read schema + one ``coalesce`` per renamed
    column — see :func:`_filtered_read`), so reads, stored predicates,
    metadata aggregates and WHERE pruning all see only the new name:

    - identity stats re-key to the new name (min/max/nulls/sums are
      name-independent values), so file skipping keeps working over
      files written before the rename;
    - per-file bloom ENTRIES for the column are dropped (sidecar rows
      record the build-time name — a manifest-only re-key would turn
      'no rows' into an unsound prune); the sticky ``bloom_cols`` spec
      follows the rename so future commits build under the new name;
    - the old name becomes RESERVED: re-adding it via merge_schema is
      refused (old files still carry it physically — by-name matching
      would resurrect their values), until a full
      :func:`snapshot_overwrite` rebuild clears the reservation.

    Refused while a pending predicate-mode lazy delete references the
    column (apply_filters first — the stored text can't be rewritten
    safely), or when a DERIVED stats expression references it (re-stat
    under the new name instead); time travel to pre-rename versions
    reads the old schema unchanged."""
    from pyspark.sql.types import StructField, StructType, _parse_datatype_string

    def validate(parent):
        if parent is None:
            raise ValueError(f"no snapshots at {table_dir}")
        sch = _parse_datatype_string(parent["schema"])
        names = {f.name for f in sch.fields}
        if old not in names:
            raise ValueError(
                f"snapshot_rename_column: {old!r} not in schema "
                f"{sorted(names)}"
            )
        if new.lower() in {n.lower() for n in names}:
            raise ValueError(
                f"snapshot_rename_column: {new!r} already exists in the schema"
            )
        if new.lower() in {
            str(c).lower() for c in parent.get("reserved_cols", [])
        }:
            raise ValueError(
                f"snapshot_rename_column: {new!r} is reserved (previously "
                "dropped or renamed away; old files still carry it) — pick "
                "another name or snapshot_overwrite to rebuild"
            )
        pred = _pending_predicate_mentions(parent, old)
        if pred is not None:
            raise ValueError(
                f"snapshot_rename_column: pending lazy-delete predicate "
                f"{pred!r} references {old!r} — snapshot_apply_filters "
                "first (stored predicate text cannot be rewritten safely)"
            )
        for alias, expr in (parent.get("stats_cols") or {}).items():
            if not (alias == old and expr == old) and _expr_mentions(expr, old):
                raise ValueError(
                    f"snapshot_rename_column: derived stats expression "
                    f"{alias!r} = {expr!r} references {old!r} — drop or "
                    "re-declare the stats spec under the new name first"
                )
            # the new name must not collide with a DERIVED stats alias:
            # per-file bounds recorded under that key belong to the
            # alias's expression, and a predicate on the renamed column
            # would prune by them — silently wrong file skipping.  (An
            # identity alias equal to `new` implies the column exists,
            # already refused above.)
            if alias.lower() == new.lower() and not (
                alias == old and expr == old
            ):
                raise ValueError(
                    f"snapshot_rename_column: {new!r} collides with the "
                    f"stats alias {alias!r} = {expr!r} — bounds stored "
                    "under that key would mis-prune the renamed column; "
                    "drop or re-declare the stats spec first"
                )
        # the new name must survive the schema-DDL round-trip, or every
        # FUTURE read fails parsing the committed manifest (widen parses
        # its type argument up front; rename owes the same discipline)
        from pyspark.sql.types import StructField as _SF, StructType as _ST

        cand = _ST(
            [
                _SF(new if f.name == old else f.name, f.dataType, f.nullable)
                for f in sch.fields
            ]
        )
        want_names = [new if f.name == old else f.name for f in sch.fields]
        try:
            back = _parse_datatype_string(cand.simpleString())
            ok = [f.name for f in back.fields] == want_names and [
                f.dataType for f in back.fields
            ] == [f.dataType for f in sch.fields]
        except Exception:
            ok = False
        if not ok:
            raise ValueError(
                f"snapshot_rename_column: {new!r} does not survive the "
                "schema DDL round-trip (metacharacters like ',' ':' '<' "
                "corrupt the manifest for every future read) — use a "
                "plain identifier"
            )

    def files_fn(parent):
        validate(parent)  # re-validated against every winning tip
        return list(parent["files"])

    def schema_fn(parent):
        sch = _parse_datatype_string(parent["schema"])
        return StructType(
            [
                StructField(
                    new if f.name == old else f.name, f.dataType, f.nullable
                )
                for f in sch.fields
            ]
        ).simpleString()

    def stats_fn(parent, files):
        sc = dict(parent.get("stats_cols") or {})
        stats = {f: dict(v) for f, v in (parent.get("stats") or {}).items()}
        if sc.get(old) == old:  # identity stats follow the rename
            sc.pop(old)
            sc[new] = new
            for v in stats.values():
                if old in v:
                    v[new] = v.pop(old)
        return (stats if sc else {}), sc, dict(parent.get("file_meta", {}))

    def evo_fn(parent):
        renames, reserved = _evo_state(parent)
        chain = renames.pop(old, [])  # a→b then b→c: c carries [b, a]
        renames[new] = [old] + chain
        reserved.append(old)
        return renames, reserved

    return _commit(
        spark, table_dir, "rename_column", files_fn, schema_fn,
        meta={"renamed_from": old, "renamed_to": new},
        stats_fn=stats_fn,
        bloom_fn=lambda parent, files: _strip_bloom_col(parent, files, old, new),
        ndv_fn=lambda parent, files: _strip_ndv_col(parent, files, old, new),
        evo_fn=evo_fn,
    )


def snapshot_widen_column(
    spark: SparkSession, table_dir: str, col: str, to_type: str
) -> dict:
    """Widen a column's type in place — pure metadata, zero data
    movement.  Exactly the lossless pairs the manifest-pinned read
    model already upcasts at scan time (the same rule merge_schema
    uses, :func:`_wider_type`): the integer chain
    tinyint→smallint→int→bigint, float→double, decimal precision
    growth at unchanged scale.  Anything else refuses — a semantic
    change needs a rewrite, not a DDL.

    Existing narrow files read through the parquet upcast (already the
    contract for merge_schema-widened tables); stats bounds and
    per-file sums are value-compatible across the chain (JSON ints /
    floats), and bloom probes hash literals at each entry's RECORDED
    build type, so point-lookup pruning survives the widening by
    construction (pytest-pinned when blooms shipped)."""
    from pyspark.sql.types import (
        StructField,
        StructType,
        _parse_datatype_string,
    )

    try:
        target = _parse_datatype_string(to_type)
    except Exception as e:
        raise ValueError(
            f"snapshot_widen_column: unparseable type {to_type!r}: {e}"
        ) from e

    def files_fn(parent):
        if parent is None:
            raise ValueError(f"no snapshots at {table_dir}")
        sch = _parse_datatype_string(parent["schema"])
        cur = next((f.dataType for f in sch.fields if f.name == col), None)
        if cur is None:
            raise ValueError(
                f"snapshot_widen_column: {col!r} not in schema "
                f"{[f.name for f in sch.fields]}"
            )
        if cur == target:
            raise ValueError(
                f"snapshot_widen_column: {col!r} is already "
                f"{cur.simpleString()}"
            )
        if _wider_type(cur, target) != target:
            raise ValueError(
                f"snapshot_widen_column: {cur.simpleString()} → "
                f"{target.simpleString()} is not a lossless widening "
                "(allowed: the integer chain, float→double, decimal "
                "precision growth at unchanged scale)"
            )
        return list(parent["files"])

    def schema_fn(parent):
        sch = _parse_datatype_string(parent["schema"])
        return StructType(
            [
                StructField(
                    f.name, target if f.name == col else f.dataType, f.nullable
                )
                for f in sch.fields
            ]
        ).simpleString()

    return _commit(
        spark, table_dir, "widen_column", files_fn, schema_fn,
        meta={"widened": col, "to": str(target.simpleString())},
        stats_fn=lambda parent, files: (
            dict(parent.get("stats", {})),
            dict(parent.get("stats_cols") or {}),
            dict(parent.get("file_meta", {})),
        ),
    )


def snapshot_drop_column(spark: SparkSession, table_dir: str, col: str) -> dict:
    """Drop a column — pure metadata (the schema no longer lists it;
    the pinned-schema read simply never decodes it from old files, so
    the bytes become dead weight collected as files naturally rewrite).
    The name becomes RESERVED against re-adding (old files still carry
    it physically — by-name matching would resurrect the old values);
    a full :func:`snapshot_overwrite` rebuild clears the reservation.
    Stats/bloom entries for the column (and any DERIVED stats
    expression referencing it) are removed.  Refused while a pending
    predicate-mode lazy delete references the column (apply_filters
    first), and for the table's only column."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    def files_fn(parent):
        if parent is None:
            raise ValueError(f"no snapshots at {table_dir}")
        sch = _parse_datatype_string(parent["schema"])
        names = [f.name for f in sch.fields]
        if col not in names:
            raise ValueError(
                f"snapshot_drop_column: {col!r} not in schema {names}"
            )
        if len(names) == 1:
            raise ValueError(
                "snapshot_drop_column: cannot drop the table's only column"
            )
        pred = _pending_predicate_mentions(parent, col)
        if pred is not None:
            raise ValueError(
                f"snapshot_drop_column: pending lazy-delete predicate "
                f"{pred!r} references {col!r} — snapshot_apply_filters first"
            )
        return list(parent["files"])

    def schema_fn(parent):
        sch = _parse_datatype_string(parent["schema"])
        return StructType(
            [f for f in sch.fields if f.name != col]
        ).simpleString()

    def stats_fn(parent, files):
        old_sc = parent.get("stats_cols") or {}
        sc = {
            a: e
            for a, e in old_sc.items()
            if a != col and not _expr_mentions(e, col)
        }
        gone = set(old_sc) - set(sc)
        stats = {}
        for f, v in (parent.get("stats") or {}).items():
            kept = {a: b for a, b in v.items() if a not in gone}
            if kept:
                stats[f] = kept
        return (stats if sc else {}), sc, dict(parent.get("file_meta", {}))

    def evo_fn(parent):
        renames, reserved = _evo_state(parent)
        chain = renames.pop(col, [])  # dropping a rename target buries it
        reserved += [col] + chain
        return renames, reserved

    return _commit(
        spark, table_dir, "drop_column", files_fn, schema_fn,
        meta={"dropped": col},
        stats_fn=stats_fn,
        bloom_fn=lambda parent, files: _strip_bloom_col(parent, files, col, None),
        ndv_fn=lambda parent, files: _strip_ndv_col(parent, files, col, None),
        evo_fn=evo_fn,
    )


def snapshot_restore(spark: SparkSession, table_dir: str, version: int) -> dict:
    """Roll the table BACK to a historical version — as a NEW commit
    referencing that version's files (Iceberg's rollback shape): the
    bad commits stay in the log for forensics, readers atomically cut
    over to the restored state, and expire_snapshots eventually
    collects the rolled-back data.  Zero data movement — pure
    metadata."""
    versions = _list_versions(spark, table_dir)
    if version not in versions:
        raise ValueError(f"version {version} not in log (have {versions[:5]}...)")
    target = _read_manifest(spark, table_dir, version)
    return _commit(
        spark, table_dir, "restore",
        lambda parent: list(target["files"]),
        target["schema"],
        meta={"restored_version": version},
        # the stream watermarks must match the restored DATA state, not
        # the rolled-back tip's: carrying the bad tip's txn forward
        # would make a corrected replay of its batches a silent no-op
        txn_replace=dict(target.get("txn", {})),
        stats_fn=lambda parent, files: (
            dict(target.get("stats", {})), target.get("stats_cols", []),
            dict(target.get("file_meta", {})),
        ),
        # restored DATA state includes the restored filter state — the
        # carry rule would wrongly keep the rolled-back tip's filters
        row_filters_fn=lambda parent, files: [
            dict(e) for e in target.get("row_filters", [])
        ],
        # and the restored files' bloom entries (same-table sidecars,
        # still present until expire)
        bloom_fn=lambda parent, files: (
            {
                "cols": list(target["bloom"].get("cols", [])),
                "entries": [dict(e) for e in target["bloom"].get("entries", [])],
            }
            if target.get("bloom")
            else None
        ),
        ndv_fn=lambda parent, files: (
            {
                "cols": list(target["ndv"].get("cols", [])),
                "entries": [dict(e) for e in target["ndv"].get("entries", [])],
            }
            if target.get("ndv")
            else None
        ),
        # the restored DATA state includes its schema-evolution
        # bookkeeping: the restored files carry the names that version
        # knew about, not the rolled-back tip's
        evo_fn=lambda parent: _evo_state(target),
        # ...and its partition-spec bookkeeping: the restored files'
        # stats were computed under that version's spec pins, not the
        # rolled-back tip's
        spec_fn=lambda parent: (
            dict(target.get("file_spec") or {}),
            list(target.get("spec_history") or []),
        ),
    )


def snapshot_clone(spark: SparkSession, source_dir: str, dest_dir: str) -> dict:
    """Zero-copy (shallow) clone: a NEW log whose v1 references the
    source tip's files — experimentation branches off production data
    without copying a byte (Delta's shallow clone).  The clone's own
    commits never touch source files.  THE HAZARD IS THE SOURCE'S GC:
    the source's :func:`expire_snapshots` cannot see clone references,
    so once the source stops referencing a borrowed DATA file its sweep
    deletes it out from under every clone (the documented shallow-clone
    VACUUM hazard in Delta too) — pin the source's retention to cover
    clone lifetimes, or re-materialize the clone
    (``snapshot_overwrite(read_snapshot(clone), clone)``) to cut the
    dependency.  Deletion-vector SIDECARS are exempt: they are COPIED
    into ``dest_dir/_dv`` at clone time (kilobyte-to-megabyte position
    lists, not data) and the clone's filter entries point at its own
    copies — the source expiring a drained takedown can no longer
    resurrect deleted rows in a live clone.  The clone's own GC is
    safe: it only deletes under ``dest_dir``'s data/ and _dv/, which
    borrowed data paths are not."""
    versions = _list_versions(spark, source_dir)
    if not versions:
        raise ValueError(f"no snapshots at {source_dir}")
    if _list_versions(spark, dest_dir):
        raise ValueError(f"{dest_dir} already has a log — clone needs a fresh dir")
    tip = _read_manifest(spark, source_dir, versions[-1])

    # copy DV sidecars BEFORE the manifest claims them (bytes-first, the
    # same crash discipline as data commits): a clone borrowing the
    # source's sidecar by reference would read through bytes the
    # source's expire_snapshots is entitled to delete
    bdest = _byte_dir(spark, dest_dir)  # sidecar copies are byte IO
    fs, _, jvm = _fs_for(spark, bdest)
    conf = spark._jsc.hadoopConfiguration()

    def copy_sidecar(src: str, subdir: str) -> str:
        src_p = jvm.org.apache.hadoop.fs.Path(src)
        dst_p = fs.makeQualified(
            _child(jvm, bdest, subdir, str(src_p.getName()))
        )
        copied = jvm.org.apache.hadoop.fs.FileUtil.copy(
            src_p.getFileSystem(conf), src_p, fs, dst_p, False, conf
        )
        if not copied:
            raise IOError(f"failed to copy sidecar {src} to {dst_p}")
        return str(dst_p.toString())

    dv_map: dict[str, str] = {}
    bloom_map: dict[str, str] = {}
    ndv_map: dict[str, str] = {}
    try:
        for e in tip.get("row_filters", []):
            if "dv" in e and e["dv"] not in dv_map:
                dv_map[e["dv"]] = copy_sidecar(e["dv"], "_dv")
        # bloom sidecars are borrowed-by-reference hazards exactly like
        # DV sidecars (the source's GC can't see clone references):
        # copy them too — position/bit lists, never data-sized
        for e in (tip.get("bloom") or {}).get("entries", []):
            if e["sidecar"] not in bloom_map:
                bloom_map[e["sidecar"]] = copy_sidecar(e["sidecar"], "_bloom")
        for e in (tip.get("ndv") or {}).get("entries", []):
            if e["sidecar"] not in ndv_map:
                ndv_map[e["sidecar"]] = copy_sidecar(e["sidecar"], "_ndv")
    except BaseException:
        # a mid-loop copy failure happens BEFORE any dest manifest
        # exists, and a logless dest dir has no expire_snapshots to
        # collect strays — sweep the copies made so far (an empty dest
        # log means nothing can reference them, so they all delete)
        _sweep_unreferenced_sidecars(
            spark,
            dest_dir,
            list(dv_map.values()) + list(bloom_map.values())
            + list(ndv_map.values()),
        )
        raise

    def files_fn(parent):
        if parent is not None:
            # a writer landed v1 in dest between our freshness check and
            # the commit — clobbering it would vanish committed data
            raise RuntimeError(
                f"{dest_dir} gained a commit during the clone — "
                "clone into a fresh directory"
            )
        return list(tip["files"])

    try:
        return _commit(
            spark, dest_dir, "clone", files_fn,
            tip["schema"],
            meta={"cloned_from": source_dir, "source_version": tip["version"]},
            stats_fn=lambda parent, files: (
                dict(tip.get("stats", {})), tip.get("stats_cols", []),
                dict(tip.get("file_meta", {})),
            ),
            # the borrowed files come WITH their pending lazy-delete
            # filters — a clone must not resurrect the source's deleted
            # rows; DV entries point at the clone's OWN sidecar copies
            row_filters_fn=lambda parent, files: [
                ({**e, "dv": dv_map[e["dv"]]} if "dv" in e else dict(e))
                for e in tip.get("row_filters", [])
            ],
            bloom_fn=lambda parent, files: (
                {
                    "cols": list(tip["bloom"].get("cols", [])),
                    "entries": [
                        {**e, "sidecar": bloom_map[e["sidecar"]]}
                        for e in tip["bloom"].get("entries", [])
                    ],
                }
                if tip.get("bloom")
                else None
            ),
            ndv_fn=lambda parent, files: (
                {
                    "cols": list(tip["ndv"].get("cols", [])),
                    "entries": [
                        {**e, "sidecar": ndv_map[e["sidecar"]]}
                        for e in tip["ndv"].get("entries", [])
                    ],
                }
                if tip.get("ndv")
                else None
            ),
            # borrowed files carry the source's physical names: the
            # rename chains and name reservations come with them
            evo_fn=lambda parent: _evo_state(tip),
            # ...and the source's spec pins: borrowed stats were
            # computed under the source's spec eras
            spec_fn=lambda parent: (
                dict(tip.get("file_spec") or {}),
                list(tip.get("spec_history") or []),
            ),
        )
    except BaseException:
        # an aborted clone must not strand its sidecar copies — the
        # shared sweep deletes only copies no dest manifest verifiably
        # references (the interrupt may have landed after the commit
        # won) and leaks on any doubt for the clone's own
        # expire_snapshots to collect
        _sweep_unreferenced_sidecars(
            spark,
            dest_dir,
            list(dv_map.values()) + list(bloom_map.values())
            + list(ndv_map.values()),
        )
        raise


def snapshot_files(
    spark: SparkSession,
    table_dir: str,
    version: int | None = None,
    as_of: float | None = None,
) -> list[dict]:
    """Per-file inventory of a snapshot — the observability companion
    to :func:`snapshot_history` (Delta's ``DESCRIBE DETAIL`` /
    Iceberg's ``files`` metadata table): one dict per live data file
    with its manifest-recorded rows/bytes, stats bounds, the pending
    lazy-delete entries covering it (predicate texts and DV sidecar
    count), and the bloom columns probeable on it.  Pure manifest
    arithmetic — zero Spark jobs, zero files opened; the result is
    O(files), the same driver-size contract as the manifest itself."""
    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    meta = manifest.get("file_meta", {})
    stats = manifest.get("stats", {})
    preds: dict[str, list] = {}
    dvs: dict[str, int] = {}
    for e in manifest.get("row_filters", []):
        for f in e["files"]:
            if "predicate" in e:
                preds.setdefault(f, []).append(e["predicate"])
            else:
                dvs[f] = dvs.get(f, 0) + 1
    blooms: dict[str, list] = {}
    for e in (manifest.get("bloom") or {}).get("entries", []):
        for f in e["files"]:
            blooms.setdefault(f, []).extend(e.get("cols", []))
    ndvs: dict[str, list] = {}
    for e in (manifest.get("ndv") or {}).get("entries", []):
        for f in e["files"]:
            ndvs.setdefault(f, []).extend(e.get("cols", []))
    fspec = manifest.get("file_spec", {})
    return [
        {
            "file": f,
            "rows": (meta.get(f) or {}).get("rows"),
            "bytes": (meta.get(f) or {}).get("bytes"),
            "stats": stats.get(f),
            "pending_predicates": preds.get(f, []),
            "pending_dv_entries": dvs.get(f, 0),
            "bloom_cols": sorted(set(blooms.get(f, []))),
            "ndv_cols": sorted(set(ndvs.get(f, []))),
            # None = current spec; an id names the spec_history era the
            # file's stats were computed under (spec evolution)
            "spec_id": fspec.get(f),
        }
        for f in manifest["files"]
    ]


def snapshot_layout_report(
    spark: SparkSession,
    table_dir: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    version: int | None = None,
    as_of: float | None = None,
) -> dict:
    """Table-health report from the MANIFEST alone (zero Spark jobs,
    zero files opened) — the observe half of the maintenance loop whose
    act half is :func:`snapshot_compact` / :func:`snapshot_apply_filters`.

    Returns, per snapshot:

    - ``files`` / ``rows_total`` / ``bytes_total`` / ``avg_file_bytes``
    - ``small_files``: files under ``target_file_bytes / 4`` (the
      bin-packing candidates — a streaming-fed table grows one per
      trigger)
    - ``stats_coverage``: per stats column, the fraction of files whose
      stats are USABLE under the current spec (spec-evolution pins and
      pre-stats commits lower it; compaction restores it)
    - ``clustering_depth``: per stats column, the MAX number of files a
      single point value can hit (endpoint-sweep stabbing number over
      the per-file [min, max] intervals) — depth 1 is perfectly
      clustered (every point lookup/range cut plans ~1 file), depth ≈
      file count means the column's stats prune nothing and a
      ``zorder_by`` compaction would help
    - ``pending_filters`` / ``pending_dv_entries`` / ``spec_pinned``
    - ``recommendations``: the actions the numbers justify, as strings
      naming the exact call

    Besides the human-readable ``recommendations``, the report carries
    machine-usable ``actions`` — write specs in the
    :func:`~.txn_catalog.multi_table_txn` shape (``{"op": "compact",
    ...}`` / ``{"op": "apply_filters"}``) — so the catalog-level sweep
    (:func:`~.txn_catalog.catalog_layout_report`) can hand them
    straight to the transaction API.

    The 100 TB posture: this is how a maintenance scheduler decides
    WHICH of 10⁴ tables need work without touching any of them."""
    manifest = _resolve_manifest(spark, table_dir, version, as_of)
    return _layout_report(manifest, target_file_bytes)


def _layout_report(manifest: dict, target_file_bytes: int) -> dict:
    """The pure (manifest-in, report-out) half of
    :func:`snapshot_layout_report`, shared with the catalog sweep —
    which assesses tables at their CATALOG-PINNED manifests (possibly
    staged, not yet published), so it cannot go through the table-log
    resolver."""
    files = manifest["files"]
    meta = manifest.get("file_meta", {})
    stats_cols = manifest.get("stats_cols") or {}
    n = len(files)
    bytes_total = sum(int((meta.get(f) or {}).get("bytes") or 0) for f in files)
    rows_total = sum(int((meta.get(f) or {}).get("rows") or 0) for f in files)
    small = [
        f
        for f in files
        if 0 < int((meta.get(f) or {}).get("bytes") or 0) < target_file_bytes // 4
    ]
    coverage: dict = {}
    depth: dict = {}
    for col in stats_cols:
        intervals = []
        have = 0
        for f in files:
            rng = (_effective_stats(manifest, f) or {}).get(col)
            if rng is not None:
                have += 1
                if rng[0] is not None and rng[1] is not None:
                    intervals.append((rng[0], rng[1]))
        coverage[col] = round(have / n, 3) if n else 1.0
        # endpoint sweep: +1 at each start, -1 AFTER each end; max depth
        # = the worst-case number of files a point value stabs.  Mixed
        # incomparable types (shouldn't happen within one column) fall
        # back to "unknown" rather than raising.
        try:
            events = []
            for lo, hi in intervals:
                events.append((lo, 0, 1))
                events.append((hi, 1, -1))
            events.sort(key=lambda e: (e[0], e[1]))
            cur = best = 0
            for _, _, d in events:
                cur += d
                best = max(best, cur)
            depth[col] = best
        except TypeError:
            depth[col] = None
    fmap = _filter_map(manifest)
    dv_entries = sum(
        1 for e in manifest.get("row_filters", []) if "dv" in e
    )
    pred_entries = sum(
        1 for e in manifest.get("row_filters", []) if "predicate" in e
    )
    spec_pinned = len(manifest.get("file_spec") or {})
    recs = []
    compact_reasons = []
    zorder: list[str] = []
    if len(small) > max(4, n // 10):
        recs.append(
            f"snapshot_compact: {len(small)} of {n} files are under "
            f"{target_file_bytes // 4} bytes (bin-pack them)"
        )
        compact_reasons.append("small_files")
    for col, d in depth.items():
        if d is not None and n >= 8 and d > max(4, n // 4):
            recs.append(
                f"snapshot_compact(zorder_by=[{col!r}]): clustering depth "
                f"{d} of {n} files — {col} stats barely prune"
            )
            compact_reasons.append("clustering")
            zorder.append(col)
    if pred_entries + dv_entries >= 4:
        recs.append(
            f"snapshot_apply_filters: {pred_entries} predicate + "
            f"{dv_entries} DV takedowns pending on every read"
        )
    if spec_pinned:
        recs.append(
            f"snapshot_compact: {spec_pinned} files still carry old-spec "
            "stats pins (migrate to the current spec)"
        )
        compact_reasons.append("spec_pins")
    low_cov = {c: v for c, v in coverage.items() if v < 0.8}
    if low_cov:
        recs.append(
            f"snapshot_compact: stats coverage below 80% on {sorted(low_cov)}"
        )
        compact_reasons.append("stats_coverage")
    # machine-usable write specs (multi_table_txn shape); apply_filters
    # FIRST — compaction after the drain repacks the clean bytes,
    # whereas the reverse order leaves the drain's rewrites unpacked
    actions: list[dict] = []
    if pred_entries + dv_entries >= 4:
        actions.append({"op": "apply_filters"})
    if compact_reasons:
        spec: dict = {"op": "compact", "target_file_bytes": target_file_bytes}
        if zorder:
            spec["zorder_by"] = zorder
        actions.append(spec)
    small_bytes = sum(int((meta.get(f) or {}).get("bytes") or 0) for f in small)
    filtered_bytes = sum(
        int((meta.get(f) or {}).get("bytes") or 0) for f in fmap
    )
    return {
        "files": n,
        "rows_total": rows_total,
        "bytes_total": bytes_total,
        "avg_file_bytes": bytes_total // n if n else 0,
        "small_files": len(small),
        "small_bytes": small_bytes,
        "stats_coverage": coverage,
        "clustering_depth": depth,
        "pending_filters": pred_entries,
        "pending_dv_entries": dv_entries,
        "spec_pinned": spec_pinned,
        "filtered_files": len(fmap),
        "filtered_bytes": filtered_bytes,
        "recommendations": recs,
        "actions": actions,
    }


def snapshot_history(spark: SparkSession, table_dir: str) -> list[dict]:
    """The log, oldest→newest: (version, ts, op, n_files, meta)."""
    return [
        {
            "version": m["version"], "ts": m["ts"], "op": m["op"],
            "n_files": len(m["files"]), "meta": m["meta"],
        }
        for v in _list_versions(spark, table_dir)
        for m in [_read_manifest(spark, table_dir, v)]
    ]


def _staged_catalog_referenced(
    spark: SparkSession, staged: dict, staged_path: str
) -> bool | None:
    """Is a staged manifest referenced by any version of its recorded
    catalog?  ``False`` only when the catalog is READABLE and no
    version's pins name this staged path or its transaction id —
    abandoned staging, safe to release.  ``None`` (keep, conservative)
    when the manifest predates the catalog_dir recording or the catalog
    log cannot be read."""
    meta = staged.get("meta") or {}
    cdir = meta.get("catalog_dir")
    tid = meta.get("catalog_txn")
    if not cdir or not tid:
        return None
    def plain(p) -> str:
        # pins record paths in the caller's spelling (often scheme-less
        # local paths, or the mock store's mock:-scheme keys);
        # globStatus yields qualified file:/ URIs — one normalization
        # or every comparison silently misses
        s = str(p)
        if s.startswith("file:"):
            return s[5:]
        if s.startswith("mock:"):
            return s[5:]
        return s

    try:
        versions = _list_versions(spark, cdir)
        if not versions:
            return False  # catalog gone: nothing can resolve through it
        sv = staged.get("version")
        sp = plain(staged_path)
        for v in versions:
            cm = _read_manifest(spark, cdir, v)
            for pin in (cm.get("tables") or {}).values():
                if plain(pin.get("staged", "\x00")) == sp:
                    return True
                # tid alone is too broad: an intra-transaction restage
                # leaves a SAME-tid staged file at a superseded version
                # that no pin names — match tid only at the pinned
                # version, or the stale copy pins its parent's data
                # files forever
                if (
                    pin.get("txn_id") == tid
                    and pin.get("version") == sv
                    # trailing separator: /data/facts2 must not match a
                    # sibling pin at /data/facts (prefix collision)
                    and sp.startswith(
                        plain(pin.get("dir", "\x00")).rstrip("/") + "/"
                    )
                ):
                    return True
        return False
    except Exception:
        return None


def expire_snapshots(
    spark: SparkSession, table_dir: str, keep_last: int = 1,
    min_age_seconds: float = 0.0,
    orphan_min_age_seconds: float = 3600.0,
) -> dict:
    """Retention + GC: drop all but the newest ``keep_last`` manifests,
    then delete every data file no surviving manifest references —
    including orphans stranded by crashed commits.  Time travel beyond
    the horizon is gone after this; readers of SURVIVING snapshots are
    unaffected (their files are all referenced).  Returns counts.

    ``min_age_seconds`` keeps any snapshot committed more recently than
    the window regardless of ``keep_last`` — the grace period for
    in-flight readers whose plans still point at a just-superseded
    snapshot's files (Iceberg's expire-older-than idea).
    ``orphan_min_age_seconds`` (default 1 h) bounds the orphan sweep:
    an unreferenced data file younger than the window is presumed an
    IN-FLIGHT commit (bytes land before the manifest) and left alone —
    deleting it would corrupt the commit that is about to claim it."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    # retention is plain byte IO (list/stat/delete — no atomicity
    # claims), which Hadoop handles natively on real stores; the mock
    # object store translates onto file: here so GC reaches the same
    # physical tree the seam wrote (identity everywhere else)
    table_dir = manifest_io_for(table_dir, spark).spark_path(table_dir)
    versions = _list_versions(spark, table_dir)
    if not versions:
        return {"expired_manifests": 0, "deleted_files": 0,
                "deleted_dv_sidecars": 0, "deleted_bloom_sidecars": 0,
                "deleted_ndv_sidecars": 0}
    keep = set(versions[-keep_last:])
    if min_age_seconds > 0:
        cutoff = time.time() - min_age_seconds
        keep.update(
            v for v in versions
            if _read_manifest(spark, table_dir, v)["ts"] > cutoff
        )
    referenced: set[str] = set()
    referenced_dv: set[str] = set()  # DV sidecars live in row_filters
    referenced_bloom: set[str] = set()  # bloom sidecars live in bloom.entries
    referenced_ndv: set[str] = set()  # ndv sketch sidecars, ndv.entries
    keep_manifests = [_read_manifest(spark, table_dir, v) for v in keep]
    # staged manifests (multi-table transactions, txn_catalog.py) may be
    # the ONLY reference to a committed-but-unpublished transaction's
    # data files — sweeping those would corrupt a durable transaction.
    # But an ABANDONED staging (lost catalog race, crash before the
    # catalog commit) must not pin its orphans forever: each staged
    # manifest records its catalog (meta.catalog_dir), so honor it only
    # when some catalog version actually references it — published-slot
    # redundancy and catalog non-reference both release it (the staged
    # FILE is deleted in the redundant case; published manifests govern
    # their own retention).  Unreadable catalog → keep (conservative).
    fs, _, jvm = _fs_for(spark, table_dir)
    staged_glob = _child(jvm, table_dir, _MANIFEST_DIR, "staged-*.json")
    # same grace window as every other sweep here: a staged file younger
    # than the horizon may belong to an IN-FLIGHT transaction whose
    # catalog commit hasn't landed yet — deleting it would make that
    # commit durably unresolvable the instant it wins
    staged_cutoff_ms = (
        time.time() - max(min_age_seconds, orphan_min_age_seconds)
    ) * 1000
    for s in fs.globStatus(staged_glob) or []:
        if not s.isFile():
            continue
        young = s.getModificationTime() > staged_cutoff_ms
        spath = str(s.getPath().toString())
        try:
            stream = fs.open(s.getPath())
            try:
                raw = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
            finally:
                stream.close()
            sm = json.loads(raw.decode("utf-8"))
        except Exception:
            continue  # torn staged write: references nothing durable
        ref = _staged_catalog_referenced(spark, sm, spath)
        if ref is False:
            if young:
                keep_manifests.append(sm)  # maybe in-flight: keep refs,
                continue  # delete only after the grace window
            fs.delete(s.getPath(), False)  # abandoned: release its pins
            continue
        if sm.get("version") in keep:
            # the slot is published AND SURVIVES THIS RUN — only then is
            # the staged copy redundant (an expired published version
            # would leave the catalog pin with no resolution target and
            # its data swept: merely `in versions` is not enough)
            try:
                pub = _read_manifest(spark, table_dir, sm["version"])
            except Exception:
                pub = None
            if pub is not None and pub.get("meta", {}).get(
                "catalog_txn"
            ) == sm.get("meta", {}).get("catalog_txn"):
                # slot published by OUR transaction: the kept manifest
                # governs; the staged copy is redundant bytes.  A
                # FOREIGN manifest in the slot (diverged log) keeps the
                # staged copy — it is still the catalog's resolution
                # target.
                fs.delete(s.getPath(), False)
                continue
        keep_manifests.append(sm)
    for m in keep_manifests:
        referenced.update(m["files"])
        referenced_dv.update(
            e["dv"] for e in m.get("row_filters", []) if "dv" in e
        )
        referenced_bloom.update(
            e["sidecar"] for e in (m.get("bloom") or {}).get("entries", [])
        )
        referenced_ndv.update(
            e["sidecar"] for e in (m.get("ndv") or {}).get("entries", [])
        )
    expired = 0
    for v in versions:
        if v not in keep:
            fs.delete(_child(jvm, table_dir, _MANIFEST_DIR, _V_FMT % v), False)
            expired += 1
    deleted = 0
    # the orphan sweep must not eat the data of an IN-FLIGHT commit
    # (bytes land before the manifest claims them): only unreferenced
    # files older than the grace window go — Iceberg's
    # remove_orphan_files age-cutoff idea (its default is 3 days)
    orphan_cutoff_ms = (time.time() - max(min_age_seconds, orphan_min_age_seconds)) * 1000
    statuses = fs.globStatus(_child(jvm, table_dir, _DATA_DIR, "*", "*"))
    for s in statuses or []:
        p = str(s.getPath().toString())
        if (
            s.isFile()
            and p not in referenced
            and not s.getPath().getName().startswith("_")
            and s.getModificationTime() <= orphan_cutoff_ms
        ):
            fs.delete(s.getPath(), False)
            deleted += 1
    # sweep now-empty commit dirs (same age guard: a just-created dir
    # may be an in-flight write whose parts haven't landed yet).  The
    # cutoff is re-taken NOW because the deletions above bumped the
    # mtime of every dir they emptied: with a zero grace window that
    # makes same-run cleanup possible; with a positive window an
    # emptied dir deliberately waits for a LATER expire run (its fresh
    # mtime is indistinguishable from an in-flight write's).
    dir_cutoff_ms = (
        time.time() - max(min_age_seconds, orphan_min_age_seconds)
    ) * 1000
    for s in fs.globStatus(_child(jvm, table_dir, _DATA_DIR, "*")) or []:
        if s.isDirectory() and s.getModificationTime() <= dir_cutoff_ms:
            kids = fs.listStatus(s.getPath())
            if not [k for k in kids if not str(k.getPath().getName()).startswith("_")]:
                fs.delete(s.getPath(), True)
    # deletion-vector sidecars: referenced by manifests' row_filters
    # entries (collected in the keep loop above), not by
    # manifest["files"] — GC the dirs no surviving manifest references,
    # under the same in-flight age guard (a DV commit writes its
    # sidecar BEFORE the manifest claims it)
    deleted_dv = 0
    for s in fs.globStatus(_child(jvm, table_dir, "_dv", "*")) or []:
        p = str(s.getPath().toString())
        if p not in referenced_dv and s.getModificationTime() <= dir_cutoff_ms:
            fs.delete(s.getPath(), True)
            deleted_dv += 1
    # bloom sidecars GC identically (written before the manifest claims
    # them, so the same in-flight age guard applies)
    deleted_bloom = 0
    for s in fs.globStatus(_child(jvm, table_dir, "_bloom", "*")) or []:
        p = str(s.getPath().toString())
        if p not in referenced_bloom and s.getModificationTime() <= dir_cutoff_ms:
            fs.delete(s.getPath(), True)
            deleted_bloom += 1
    # ndv sketch sidecars GC identically
    deleted_ndv = 0
    for s in fs.globStatus(_child(jvm, table_dir, "_ndv", "*")) or []:
        p = str(s.getPath().toString())
        if p not in referenced_ndv and s.getModificationTime() <= dir_cutoff_ms:
            fs.delete(s.getPath(), True)
            deleted_ndv += 1
    return {
        "expired_manifests": expired,
        "deleted_files": deleted,
        "deleted_dv_sidecars": deleted_dv,
        "deleted_bloom_sidecars": deleted_bloom,
        "deleted_ndv_sidecars": deleted_ndv,
    }
