"""Structured-Streaming source FOR snapshot tables — `readStream` tails
the commit log as a CDC feed.

The batch-side cursor (:func:`~..sources.snapshots.snapshot_incremental_read`)
and change feed (:func:`~..sources.snapshots.snapshot_changes`) already
exist; this closes the loop with a real ``spark.readStream`` source
(PySpark 4's Python DataSource streaming API), so Structured Streaming
operators — windowed aggregates, stateful processors — can consume a
snapshot table directly::

    from mini_project_204721_data_engineering_spark.streaming.snapshot_source import (
        SnapshotFeedDataSource,
    )
    spark.dataSource.register(SnapshotFeedDataSource)
    feed = (spark.readStream.format("snapshot_feed")
            .option("table_dir", path)
            .load())          # schema = table schema + _change_type,
                              #          _commit_version

Offsets ARE manifest versions, so the feed is replayable and
exactly-once under Structured Streaming's offset-log checkpoint: a
restarted query re-reads exactly the committed-version window it was
processing.  Each micro-batch spans the versions between two offsets,
and each version contributes its FILE DIFF:

- append            → added files emitted as ``insert`` rows
- CoW delete /      → removed files emitted as ``delete`` rows, added
  replace-where /      (survivor/new) files as ``insert`` rows — the
  merge / overwrite     net multiset applied downstream equals the
                        table state (Iceberg changelog semantics;
                        a rewritten-but-unchanged row appears as a
                        delete+insert pair, never as a lost update)
- compaction        → emits NOTHING (byte-identical rewrite; the cursor
                      metadata-advances)
- restore           → file diff of the rewind (delete+insert pairs);
                      a rewind past a DV takedown re-INSERTS the
                      takedown's positions on still-carried files
                      (those rows are visible again), and a re-restore
                      forward re-deletes them — the DV algebra is
                      symmetric in both directions
- DV lazy delete    → the deletion-vector sidecar enumerates exact
                      (file, row-position) hits, recorded from the rows
                      VISIBLE at commit time — each covered file emits
                      its sidecar positions as ``delete`` rows (read
                      the sidecar + the file once; no file diff needed)
- additive schema   → a commit that ADDS nullable columns or LOSSLESSLY
  evolution            widens types is representable as long as the
                       feed's pinned schema (the tip at query start) is
                       the widest in the window: old-schema files align
                       batch-wise (missing columns NULL, types upcast).

A file REMOVED while carrying DV takedowns (a CoW rewrite or
``snapshot_apply_filters`` drain after a DV) is also representable:
its sidecars enumerate the invisible positions, so the removed file
emits its VISIBLE rows — raw bytes MINUS sidecar positions — as
``delete`` rows (the complement of the DV-commit emission above).

Column RENAMES stream through the chain repair (r15): the feed keeps
emitting under its PINNED spelling and maps each file's physical name
through the manifest rename chains — a rename-only commit inside the
window (or a replay of pre-rename versions after the stream pinned the
new name) needs no restart, and a pre-rename file deleted after the
rename emits its rows with real values, not NULLs.

Refused loudly (the stream query fails rather than silently corrupting
downstream state): DROPPED or narrowed columns, any genuinely NEW
column not resolvable into the feed's pinned schema (added AFTER the
query started — restart against the new schema), and predicate-shaped
lazy deletes in any form (no positions recorded, so neither the
takedown nor a later removal of its covered files can be reconstructed
— drain via ``snapshot_apply_filters`` or use DV/CoW deletes while a
stream is attached).

Scale: partitions are per (file, change_type) — at 100 TB each
micro-batch plans one partition per changed file, the same granularity
a parquet scan would use; executors read ONLY changed files with
pyarrow and yield schema-aligned Arrow RecordBatches (a per-partition
tuple fallback covers exotic type drift).  Large changed files split
per row group.

ENROLLED tables (the multi-table transaction catalog,
`txn_catalog.py`) stream through the CATALOG addressing mode instead::

    spark.readStream.format("snapshot_feed")
         .option("catalog_dir", cat).option("table", "facts").load()

Offsets are then CATALOG versions and each window version resolves the
table's catalog-pinned manifest (published slot or staged fallback) —
tailing an enrolled table's own log could stall behind lazy
publication, and its version numbers would not line up across tables.
Two catalog-mode streams over `facts` and `lineage` share offsets, so
equal ``_commit_version`` values came from the same atomic transaction
— the feed-side form of the catalog's cross-table snapshot guarantee.

Manifest I/O goes through :mod:`..sources.manifest_io` — the same
seam the commit path uses — so the driver-side planner (which has no
SparkSession) reads ``file:`` tables with plain-Python IO and any
registered object-store scheme through its adapter.  Data bytes are
read with pyarrow from the Spark-readable paths manifests record.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from urllib.parse import unquote

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from ..sources.manifest_io import _strip_file as _local  # pyarrow paths
from ..sources.manifest_io import manifest_io_for

__all__ = ["SnapshotFeedDataSource", "snapshot_feed_schema"]


def _canon_uri(p: str) -> str:
    """Canonicalize Spark's ``_metadata.file_path`` URI spelling
    (``file:///a%20dir/x`` — percent-ENCODED) to the manifest's Hadoop
    ``Path.toString`` spelling (``file:/a dir/x`` — decoded): unquote
    exactly ONCE and collapse the scheme separator, pure-Python
    (executors have no JVM access here).  The manifest side must NOT
    be unquoted — it is already decoded, and a table path containing a
    LITERAL percent escape (a directory named ``a%20b``) would
    otherwise decode a second time and never match (the sidecar
    records it as ``a%2520b``, whose single unquote restores the
    literal ``a%20b``)."""
    p = unquote(p)
    return _canon_manifest(p)


def _canon_manifest(p: str) -> str:
    """The manifest-spelling half of the canonicalization: scheme
    separator only, no percent-decoding."""
    if p.startswith("file://"):
        p = "file:" + p[len("file://") :]
    return p


def _versions(table_dir: str) -> list[int]:
    return manifest_io_for(table_dir).list_versions(table_dir)


def _manifest(table_dir: str, version: int) -> dict:
    return manifest_io_for(table_dir).read_manifest(table_dir, version)


def _resolve_pin(catalog_dir: str, name: str, catalog_version: int):
    """Pure-Python (sessionless) mirror of
    :func:`~..sources.txn_catalog.catalog_resolve`: the table manifest
    a catalog version pins — the published ``v{V}.json`` when it exists
    AND belongs to the pinning transaction, else the staged manifest
    recorded in the pin (a transaction is durable the instant its
    catalog version lands, publication or not).  None for an
    enrolled-but-empty table."""
    import json

    cm = _manifest(catalog_dir, catalog_version)
    pins = cm["tables"]
    if name not in pins:
        raise ValueError(
            f"snapshot_feed: table {name!r} not enrolled in "
            f"{catalog_dir} (have {sorted(pins)})"
        )
    pin = pins[name]
    if pin["version"] == 0:
        return None
    tid = pin.get("txn_id")
    try:
        m = _manifest(pin["dir"], pin["version"])
        if tid is None or m.get("meta", {}).get("catalog_txn") == tid:
            return m
        # foreign manifest in our slot (direct write to an enrolled
        # table): the staged copy is the catalog's truth — surface the
        # fork like the batch-side catalog_resolve does
        import warnings

        warnings.warn(
            f"table log {pin['dir']} diverged from catalog at "
            f"v{pin['version']} (direct write to an enrolled table?); "
            "the stream resolves through the staged manifest",
            stacklevel=2,
        )
    except Exception:
        if "staged" not in pin:
            raise
    raw = manifest_io_for(pin["staged"]).read_bytes(pin["staged"])
    return json.loads(raw.decode("utf-8"))


def _parse_simple_string(s: str):
    """Parse a ``DataType.simpleString()`` spelling (what manifests pin)
    WITHOUT a SparkSession — the Python DataSource planner runs in a
    sessionless worker where ``_parse_datatype_string`` raises.  Covers
    the atomic types plus decimal/array/map/struct nesting; field names
    with ``:,<>`` in them are not representable in simpleString form to
    begin with."""
    from pyspark.sql import types as T

    atomic = {
        "boolean": T.BooleanType(),
        "tinyint": T.ByteType(),
        "smallint": T.ShortType(),
        "int": T.IntegerType(),
        "bigint": T.LongType(),
        "float": T.FloatType(),
        "double": T.DoubleType(),
        "string": T.StringType(),
        "binary": T.BinaryType(),
        "date": T.DateType(),
        "timestamp": T.TimestampType(),
        "timestamp_ntz": T.TimestampNTZType(),
        "void": T.NullType(),
    }

    def split_top(body: str) -> list[str]:
        out, depth, cur = [], 0, []
        for ch in body:
            if ch == "<" or ch == "(":
                depth += 1
            elif ch == ">" or ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(cur))
                cur = []
            else:
                cur.append(ch)
        if cur:
            out.append("".join(cur))
        return out

    def parse(t: str):
        t = t.strip()
        if t in atomic:
            return atomic[t]
        if t.startswith("decimal(") and t.endswith(")"):
            p, sc = t[len("decimal(") : -1].split(",")
            return T.DecimalType(int(p), int(sc))
        if t.startswith("array<") and t.endswith(">"):
            return T.ArrayType(parse(t[len("array<") : -1]))
        if t.startswith("map<") and t.endswith(">"):
            k, v = split_top(t[len("map<") : -1])
            return T.MapType(parse(k), parse(v))
        if t.startswith("struct<") and t.endswith(">"):
            fields = []
            body = t[len("struct<") : -1]
            if body:
                for part in split_top(body):
                    name, _, ft = part.partition(":")
                    fields.append(T.StructField(name, parse(ft), True))
            return T.StructType(fields)
        raise ValueError(f"snapshot_feed: unsupported manifest type {t!r}")

    return parse(s)


def _with_change_cols(base):
    from pyspark.sql.types import LongType, StringType, StructField

    return base.add(
        StructField("_change_type", StringType(), False)
    ).add(StructField("_commit_version", LongType(), False))


def snapshot_feed_schema(table_dir: str):
    """The feed's schema: the table's TIP schema plus the two change
    columns.  Computed up front so a caller can assert compatibility."""
    versions = _versions(table_dir)
    if not versions:
        raise ValueError(f"no snapshots at {table_dir}")
    base = _parse_simple_string(_manifest(table_dir, versions[-1])["schema"])
    return _with_change_cols(base)


_INT_CHAIN = ("tinyint", "smallint", "int", "bigint")


def _widenable(src: str, dst: str) -> bool:
    """True when a column stored as ``src`` can surface as ``dst``
    losslessly — the same chains the table's merge_schema admits
    (int-chain widening, float→double, decimal precision growth at
    fixed scale); nested types must match exactly."""
    if src == dst:
        return True
    if src in _INT_CHAIN and dst in _INT_CHAIN:
        return _INT_CHAIN.index(src) <= _INT_CHAIN.index(dst)
    if src == "float" and dst == "double":
        return True
    if src.startswith("decimal(") and dst.startswith("decimal("):
        ps, ss = src[len("decimal(") : -1].split(",")
        pd, sd = dst[len("decimal(") : -1].split(",")
        return int(ss) == int(sd) and int(ps) <= int(pd)
    return False


def _fields_of(ddl: str) -> dict:
    """simpleString table schema → {column: type simpleString}."""
    return {
        f.name: f.dataType.simpleString()
        for f in _parse_simple_string(ddl).fields
    }


def _typed_sig(manifest: dict | None, files: set) -> dict:
    """file → set of TYPED filter identities (('predicate', text) or
    ('dv', sidecar)) for exactly the given files — unlike
    snapshots.py's ``_filter_sig`` raw strings, the kind survives, which the
    additive-DV classification needs."""
    out: dict = {}
    for e in (manifest or {}).get("row_filters", []):
        ident = (
            ("predicate", e["predicate"])
            if "predicate" in e
            else ("dv", e["dv"])
        )
        for f in e.get("files", []):
            if f in files:
                out.setdefault(f, set()).add(ident)
    return out


def dv_positions(sidecar: str, path: str, pq) -> list[int]:
    """One file's hit positions from a deletion-vector sidecar —
    the sidecar is takedown-hit-sized (positions, not rows), so one
    read per covered file is cheap; spellings are canonicalized
    because sidecars record Spark's ``_metadata.file_path`` URI form
    while manifests record ``Path.toString``.  Shared by the stream
    feed and the batch DataSource (sources/snapshot_batch.py)."""
    t = pq.read_table(_local(sidecar), columns=["file", "pos"])
    want = _canon_manifest(path)
    return sorted(
        p
        for f, p in zip(
            t.column("file").to_pylist(), t.column("pos").to_pylist()
        )
        if _canon_uri(f) == want
    )


def pos_filter(
    batches,
    positions: list[int],
    pa,
    exclude: bool = False,
    base: int = 0,
):
    """Restrict row-ordered batches to the given global row indexes
    — or, with ``exclude``, to their COMPLEMENT (the visible rows
    of a removed DV-covered file).  Parquet row_index is the file's
    physical row order, which ``iter_batches`` preserves; ``base``
    is the row-group partition's starting global row index (0 for a
    whole-file partition).  Shared by the stream feed and the batch
    DataSource."""
    from bisect import bisect_left

    off = base
    for b in batches:
        n = b.num_rows
        lo = bisect_left(positions, off)
        hi = bisect_left(positions, off + n)
        if exclude:
            hit = {p - off for p in positions[lo:hi]}
            if not hit:
                yield b
            elif len(hit) < n:
                yield b.take(
                    pa.array(
                        [i for i in range(n) if i not in hit],
                        type=pa.int64(),
                    )
                )
            # fully-hit batch: nothing visible, nothing emitted
        elif hi > lo:
            yield b.take(
                pa.array(
                    [p - off for p in positions[lo:hi]], type=pa.int64()
                )
            )
        off += n


class _FilePartition(InputPartition):
    def __init__(
        self,
        path: str,
        change_type: str,
        version: int,
        row_group: int | None = None,
        dv: str | None = None,
        dv_exclude: tuple | None = None,
        rg_offset: int = 0,
        aliases: dict | None = None,
    ):
        self.path = path
        self.change_type = change_type
        self.version = version
        self.row_group = row_group  # None = whole file
        self.dv = dv  # deletion-vector sidecar: emit ONLY its positions
        # sidecars whose positions are EXCLUDED: a removed file that
        # carried DV takedowns emits its VISIBLE rows (raw minus
        # positions) — the complement of the dv include mode
        self.dv_exclude = dv_exclude
        # the row group's starting global row index (position filters
        # compare against whole-file _metadata.row_index values)
        self.rg_offset = rg_offset
        # rename-chain repair (r15): pinned column name → tuple of the
        # PHYSICAL spellings a file of this version may carry (the
        # name's whole equivalence class under the manifest's rename
        # chains).  None = names match physically.
        self.aliases = aliases


class _SnapshotStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema):
        self.table_dir = options.get("table_dir") or options.get("path")
        if not self.table_dir:
            raise ValueError(
                "snapshot_feed: .option('table_dir', <snapshot table>) "
                "is required"
            )
        self.starting = int(options.get("startingversion", 0))
        # backpressure (Delta's maxFilesPerTrigger idea): cap how many
        # CHANGED FILES a micro-batch may span — latestOffset stops
        # advancing once the budget fills (always ≥ 1 version, so a
        # single huge commit still processes).  None = unbounded.
        mfpt = options.get("maxfilespertrigger")
        self.max_files = int(mfpt) if mfpt is not None else None
        self._last_end: int | None = None  # tracked from planning/commits
        self.schema = schema
        self._data_cols = [
            f.name
            for f in schema.fields
            if f.name not in ("_change_type", "_commit_version")
        ]
        versions = self._vs()
        if not versions:
            raise ValueError(f"no snapshots at {self.table_dir}")
        # the feed replays versions (starting, tip] one by one — every
        # one of them must still exist (expire_snapshots may have
        # truncated the early log; FileNotFoundError mid-plan would be
        # an unreadable way to learn that)
        if self.starting + 1 < versions[0]:
            raise ValueError(
                f"startingVersion {self.starting} expired from the log "
                f"(earliest manifest is v{versions[0]}) — re-baseline "
                "with a batch read and a fresh checkpoint"
            )
        if self.starting > versions[-1] or (
            self.starting > 0 and self.starting not in versions
        ):
            raise ValueError(
                f"startingVersion {self.starting} not in the log "
                f"(have v{versions[0]}..v{versions[-1]})"
            )
        # the pinned data schema derives from the QUERY schema Spark
        # resolved at .load() (self.schema minus the two change
        # columns), NOT from a fresh tip read: a commit landing between
        # schema resolution and reader construction would otherwise
        # make the guard validate against a WIDER schema than batches
        # are actually aligned to — a post-.load() added column would
        # pass _check_schema and then silently drop its values
        from pyspark.sql.types import StructType

        data_struct = StructType(
            [
                f
                for f in schema.fields
                if f.name not in ("_change_type", "_commit_version")
            ]
        )
        self._schema_ddl = data_struct.simpleString()
        self._feed_fields = {
            f.name: f.dataType.simpleString() for f in data_struct.fields
        }
        anchor = self._m(versions[-1])
        self._table_id = (anchor or {}).get("table_id")
        # the rename chains known AT PIN TIME: replaying versions from
        # BEFORE a rename needs the tip's chain to map their old names
        # into the pinned schema (those manifests predate the chain)
        self._anchor_renames = dict((anchor or {}).get("renames") or {})
        if self.starting > 0:
            start_m = self._m(self.starting)
            if any(
                "predicate" in e
                for e in (start_m or {}).get("row_filters") or []
            ):
                raise ValueError(
                    "snapshot_feed: table has pending PREDICATE-shaped "
                    "lazy deletes at the starting version — no row "
                    "positions are recorded for those, so their "
                    "eventual drain has no feed representation; apply "
                    "them (snapshot_apply_filters) before attaching a "
                    "stream.  (DV-shaped takedowns are fine: their "
                    "sidecars enumerate positions.)"
                )

    # -- version resolution (overridden by the catalog-consistent mode) --
    def _vs(self) -> list[int]:
        return _versions(self.table_dir)

    def _m(self, version: int) -> dict | None:
        return _manifest(self.table_dir, version)

    # -- offsets ---------------------------------------------------------
    def _dbg(self, msg: str) -> None:
        """Offset-protocol trace hook (diagnostics): set SNAPFEED_TRACE
        to a file path to record the initialOffset/latestOffset/
        partitions call sequence the runner actually performs — this is
        how the r15 first-batch finding below was established."""
        import os

        lp = os.environ.get("SNAPFEED_TRACE")
        if lp:
            with open(lp, "a") as f:
                f.write(msg + "\n")

    def initialOffset(self) -> dict:
        self._dbg("initialOffset")
        # anchor the rate limiter whenever Spark asks for the initial
        # offset — NOTE (r15, traced): the runner asks for latestOffset
        # BEFORE initialOffset even on a fresh query, so this anchor
        # does NOT bound the first micro-batch (see latestOffset); it
        # only positions later calls
        self._last_end = self.starting
        return {"version": self.starting}

    def latestOffset(self) -> dict:
        self._dbg(f"latestOffset last_end={self._last_end}")
        versions = self._vs()
        tip = versions[-1] if versions else self.starting
        if self.max_files is None or self._last_end is None:
            # no budget, or the FIRST call after any attach.  The first
            # micro-batch of an attach — fresh OR restart — necessarily
            # runs unbounded (r15, traced against the real runner):
            # Spark asks for the latest offset BEFORE revealing the
            # start position (initialOffset on a fresh query, the
            # checkpoint on a restart), and returning a capped guess
            # walked from `starting` would move the offset BACKWARDS on
            # a restart whose checkpoint is ahead of it — Spark would
            # then log the lower offset and re-emit committed rows (a
            # rewind, strictly worse than one big batch).  Every batch
            # AFTER the first is budget-capped: partitions() records
            # the true end and later calls walk from it.  Big-backlog
            # attaches that must bound their first batch position the
            # start with .option("startingVersion", ...) near the tip.
            return {"version": tip}
        lo, budget, end = self._last_end, self.max_files, self._last_end
        try:
            prev_m = None
            for v in range(lo + 1, tip + 1):
                m = self._m(v)
                if prev_m is None:
                    prev_m = (
                        self._m(v - 1)
                        if v - 1 > 0
                        else {"files": []}
                    )
                prev_files = set(prev_m["files"])
                cur = set(m["files"])
                if m.get("op") == "compact":
                    changed = 0
                else:
                    changed = len(cur ^ prev_files)
                    # DV coverage changes move no files but cost one
                    # read per (sidecar, file) pair in EITHER direction
                    # — a takedown, an entry gaining a file, or a
                    # restore reinstating positions all emit work
                    def dv_pairs(man):
                        return {
                            (e["dv"], f)
                            for e in man.get("row_filters") or []
                            if "dv" in e
                            for f in e.get("files", [])
                        }

                    changed += len(dv_pairs(m) ^ dv_pairs(prev_m))
                if end > lo and budget - changed < 0:
                    break  # budget exhausted; leave this version for later
                budget -= changed
                end = v
                prev_m = m
        except Exception:
            # a manifest in the window is unreadable (retention passed
            # the offset): advance to the TIP so partitions() runs and
            # raises ITS clear re-baseline error — capping here would
            # stall the stream silently (end stuck at lo, no batch ever
            # planned, no error ever surfaced)
            return {"version": tip}
        return {"version": end}

    # -- planning (driver) -----------------------------------------------
    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        self._dbg(f"partitions {start} {end}")
        lo, hi = int(start["version"]), int(end["version"])
        self._last_end = hi  # the rate limiter advances from here
        parts: list[InputPartition] = []
        live = set(self._vs())
        missing = [v for v in range(max(lo, 1), hi + 1) if v not in live]
        if missing:
            raise ValueError(
                f"snapshot_feed: version(s) v{missing[0]}.. expired from "
                "the log under the stream (retention passed the "
                "checkpointed offset) — re-baseline with a batch read "
                "and a fresh checkpoint"
            )
        prev = self._m(lo) if lo > 0 else None
        if prev is not None and self._table_id and prev.get("table_id") != self._table_id:
            raise ValueError(
                "snapshot_feed: the table log was recreated under the "
                "stream (table_id changed) — restart from a fresh "
                "checkpoint"
            )
        for v in range(lo + 1, hi + 1):
            m = self._m(v)
            self._check_schema(m, prev, v)
            pf = set((prev or {}).get("files") or [])
            mf = set(m["files"])
            carried = pf & mf
            new_dv, gone_dv = self._classify_filters(
                m, prev, carried, pf, mf, v
            )
            if m.get("op") == "compact":
                # byte-identical rewrite: cursor advances, nothing emits
                prev = m
                continue
            meta = m.get("file_meta", {})
            pmeta = (prev or {}).get("file_meta", {})
            # rename repair: removed files were written under PREV's
            # naming history, everything else under m's
            am = self._alias_map(m)
            pam = self._alias_map(prev)
            removed_sig = _typed_sig(prev, pf - mf)
            added_sig = _typed_sig(m, mf - pf)
            for f in sorted(mf - pf):
                idents = added_sig.get(f, set())
                apreds = [i for k, i in idents if k == "predicate"]
                if apreds:
                    raise ValueError(
                        f"snapshot_feed: v{v} adds file(s) covered by "
                        "PREDICATE-shaped lazy deletes — their visible "
                        "rows cannot be reconstructed from positions; "
                        "drain before the stream"
                    )
                advs = tuple(sorted(i for k, i in idents if k == "dv"))
                if advs:
                    # an ADDED file already under DV coverage (a restore
                    # resurrecting a drained file, a clone's v1 carrying
                    # filters, or the catalog mode's first window over a
                    # takedown-carrying table): its raw-byte insert
                    # would overstate — emit VISIBLE rows instead (raw
                    # minus positions, the dv_exclude mode)
                    parts.extend(
                        self._split(
                            f, "insert", v, meta, dv_exclude=advs,
                            aliases=am,
                        )
                    )
                else:
                    parts.extend(
                        self._split(f, "insert", v, meta, aliases=am)
                    )
            for f in sorted(pf - mf):
                idents = removed_sig.get(f, set())
                preds = [i for k, i in idents if k == "predicate"]
                if preds:
                    raise ValueError(
                        f"snapshot_feed: v{v} removed file(s) carrying "
                        "PREDICATE-shaped lazy deletes — no positions "
                        "recorded, so their visible rows cannot be "
                        "reconstructed; drain (snapshot_apply_filters) "
                        "before the stream"
                    )
                dvs = tuple(sorted(i for k, i in idents if k == "dv"))
                if dvs:
                    # DV-covered removal IS representable: the sidecars
                    # enumerate the invisible positions, so the removed
                    # file's VISIBLE rows (raw minus positions) emit as
                    # deletes — CoW rewrites and apply_filters drains
                    # of DV takedowns stream instead of refusing
                    parts.extend(
                        self._split(
                            f, "delete", v, pmeta, dv_exclude=dvs,
                            aliases=pam,
                        )
                    )
                else:
                    parts.extend(
                        self._split(f, "delete", v, pmeta, aliases=pam)
                    )
            for sidecar, covered in new_dv:
                # a DV takedown's sidecar enumerates the exact hit
                # positions per file, recorded from the rows VISIBLE at
                # commit time (stacked takedowns never re-list already-
                # deleted positions) — each covered file emits its
                # sidecar positions as delete rows
                for f in sorted(covered):
                    parts.extend(
                        self._split(f, "delete", v, meta, dv=sidecar,
                                    aliases=am)
                    )
            for sidecar, uncovered in gone_dv:
                # the symmetric case: a restore rewinding past a DV
                # takedown makes its positions VISIBLE again on the
                # still-carried files — emit them as inserts (the rows'
                # content is exactly the sidecar positions of the file,
                # which this snapshot still references)
                for f in sorted(uncovered):
                    parts.extend(
                        self._split(f, "insert", v, meta, dv=sidecar,
                                    aliases=am)
                    )
            prev = m
        return parts

    def _equiv_classes(self, *manifests) -> list[set]:
        """Column-name equivalence classes under the UNION of the
        anchor's rename chains and the given manifests' — a restore can
        rewind a manifest to a pre-rename schema whose own chain is
        empty, so resolving names across a window needs every chain
        that ever covered it (each file still physically holds exactly
        one member of its class; the reserved-name guard keeps classes
        disjoint)."""
        chains: dict[str, set] = {}
        for src in (
            self._anchor_renames,
            *((x or {}).get("renames") or {} for x in manifests),
        ):
            for cur, olds in src.items():
                chains.setdefault(cur, set()).update(olds)
        classes: list[set] = []
        for cur, olds in chains.items():
            grp = {cur, *olds}
            for c in [c for c in classes if c & grp]:
                classes.remove(c)
                grp |= c
            classes.append(grp)
        return classes

    @staticmethod
    def _cls(name: str, classes: list) -> set:
        for g in classes:
            if name in g:
                return g
        return {name}

    def _check_schema(self, m: dict, prev: dict | None, v: int) -> None:
        """Additive schema evolution inside the window is representable
        (the reader NULL-aligns missing columns and upcasts widenable
        types batch-wise), and — r15 — so are RENAMES: a renamed column
        maps through the manifest's rename chain to its pinned spelling
        (the feed keeps emitting under the pinned name; the rows are
        the same rows).  Drops and narrowings still refuse, naming the
        actual transition version.  Two rules: every column of v's
        schema must RESOLVE into the feed's pinned schema (directly or
        through a chain — a genuinely NEW column added after the query
        started has no resolution and needs a restart), and every
        column of v-1 must survive into v (directly or renamed)."""
        if m["schema"] == self._schema_ddl and (
            prev is None or prev["schema"] == self._schema_ddl
        ) and not (m.get("renames") or self._anchor_renames):
            return
        classes = self._equiv_classes(m, prev)
        fields = _fields_of(m["schema"])
        for name, typ in fields.items():
            tgts = [
                n for n in sorted(self._cls(name, classes))
                if n in self._feed_fields
            ]
            if not tgts:
                raise ValueError(
                    f"snapshot_feed: v{v} carries column {name!r} with no "
                    "spelling in the feed's pinned schema (a column added "
                    "after the query started) — restart the stream "
                    "against the new schema"
                )
            tgt = name if name in self._feed_fields else tgts[0]
            if not _widenable(typ, self._feed_fields[tgt]):
                raise ValueError(
                    f"snapshot_feed: v{v} column {name!r} type {typ!r} "
                    f"does not widen to the feed's {self._feed_fields[tgt]!r}"
                    " — restart the stream against the new schema"
                )
        if prev is not None and not prev.get("_synthetic"):
            for name, typ in _fields_of(prev["schema"]).items():
                cands = [
                    n for n in sorted(self._cls(name, classes))
                    if n in fields
                ]
                if not cands or not any(
                    _widenable(typ, fields[c]) for c in cands
                ):
                    raise ValueError(
                        f"snapshot_feed: non-additive schema change at "
                        f"v{v} (column {name!r} dropped or narrowed) — "
                        "not representable in a running feed; restart "
                        "against the new schema"
                    )

    def _classify_filters(
        self, m: dict, prev: dict | None, carried: set, pf: set,
        mf: set, v: int
    ) -> tuple[list, list]:
        """Merge-on-read filter changes on carried files are
        representable when DV-shaped in EITHER direction — return
        ``(added, gone)``, each ``[(sidecar, files)]`` at PER-FILE
        granularity: an ADDED (sidecar, file) pair emits that file's
        positions as deletes (a takedown; an existing entry gaining one
        more carried file emits only THAT file — re-emitting the whole
        entry would double-delete), and a VANISHED pair emits the
        positions as INSERTS (a restore rewinding past the takedown —
        those rows are visible again and their content is exactly the
        sidecar positions of the still-present file).  Predicate-shaped
        changes (no recorded positions) and filter coverage of a file
        this same commit adds refuse loudly."""
        psig = _typed_sig(prev, carried)
        csig = _typed_sig(m, carried)
        new_pairs: dict = {}  # sidecar -> files newly covered
        gone_pairs: dict = {}  # sidecar -> files no longer covered
        if psig != csig:
            for f in carried:
                pids = psig.get(f, set())
                cids = csig.get(f, set())
                for kind, ident in (cids - pids) | (pids - cids):
                    if kind != "dv":
                        raise ValueError(
                            f"snapshot_feed: predicate-shaped lazy-"
                            f"delete filter change at v{v} — no row "
                            "positions recorded, not representable in "
                            "the feed; use DV (lazy='dv') or CoW "
                            "deletes while a stream is attached"
                        )
                for _, ident in cids - pids:
                    new_pairs.setdefault(ident, set()).add(f)
                for _, ident in pids - cids:
                    gone_pairs.setdefault(ident, set()).add(f)
        # an entry referencing a file outside the snapshot is a
        # malformed commit (hand-written log) — refuse; filter coverage
        # of files this commit ADDS is handled by the caller (their
        # inserts emit raw-minus-positions, the dv_exclude mode)
        for e in m.get("row_filters") or []:
            if not set(e.get("files", [])) <= mf:
                raise ValueError(
                    f"snapshot_feed: v{v} filter entry references "
                    "file(s) outside the snapshot — malformed commit"
                )
        return (
            sorted((s, fl) for s, fl in new_pairs.items()),
            sorted((s, fl) for s, fl in gone_pairs.items()),
        )

    def _alias_map(self, m: dict | None) -> dict | None:
        """Pinned column name → tuple of every PHYSICAL spelling a file
        under manifest ``m`` may carry, from the union of m's rename
        chains and the anchor's (a replayed pre-rename version's files
        carry names only the anchor's chain knows; a post-rename commit
        during the stream carries names only ITS chain knows).  Chains
        sharing a name merge into one equivalence class — each file
        physically holds exactly one member (the reserved-name guard).
        None when no chain touches a pinned column."""
        classes = self._equiv_classes(m)
        out = {}
        for pinned in self._data_cols:
            for grp in classes:
                if pinned in grp and len(grp) > 1:
                    out[pinned] = tuple(sorted(grp))
                    break
        return out or None

    _SPLIT_BYTES = 64 * 1024 * 1024

    def _split(
        self,
        f: str,
        change_type: str,
        v: int,
        meta: dict,
        dv: str | None = None,
        dv_exclude: tuple | None = None,
        aliases: dict | None = None,
    ) -> list[_FilePartition]:
        """One partition per ROW GROUP for large changed files (manifest
        byte counts decide; the footer is read driver-side only when a
        file crosses the threshold) — a 1 GB rewritten file becomes ~8
        parallel reads instead of one straggler task.  DV-filtered
        partitions (include or exclude) split too: each carries its row
        group's STARTING ROW OFFSET so the position filter's global
        row-index math stays exact."""
        size = int((meta.get(f) or {}).get("bytes") or 0)
        if size > self._SPLIT_BYTES:
            try:
                import pyarrow.parquet as pq

                md = pq.ParquetFile(_local(f)).metadata
                n = md.num_row_groups
                if n > 1:
                    out, off = [], 0
                    for g in range(n):
                        out.append(
                            _FilePartition(
                                f, change_type, v, row_group=g,
                                dv=dv, dv_exclude=dv_exclude,
                                rg_offset=off, aliases=aliases,
                            )
                        )
                        off += md.row_group(g).num_rows
                    return out
            except Exception:
                pass  # unreadable footer: one whole-file partition
        return [_FilePartition(f, change_type, v, dv=dv,
                               dv_exclude=dv_exclude, aliases=aliases)]

    # -- execution (executors) --------------------------------------------
    def read(self, partition: _FilePartition):
        """Arrow-batched: parquet row groups stream through as
        RecordBatches aligned to the feed schema (missing columns null,
        types cast to the pinned schema — the merge_schema read rule) —
        no per-row Python objects on the hot path.  Any file whose
        batches cannot be aligned (exotic type drift) degrades to the
        tuple path for THAT partition, never fails the feed."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        pf = pq.ParquetFile(_local(partition.path))
        positions = None
        exclude = False
        if partition.dv is not None:
            positions = self._dv_positions(partition.dv, partition.path, pq)
            if not positions:
                return
        elif partition.dv_exclude:
            hit: set = set()
            for sidecar in partition.dv_exclude:
                hit.update(
                    self._dv_positions(sidecar, partition.path, pq)
                )
            if hit:
                positions, exclude = sorted(hit), True

        def fresh_batches():
            if partition.row_group is None:
                it = pf.iter_batches(batch_size=64 * 1024)
            else:
                it = pf.iter_batches(
                    batch_size=64 * 1024, row_groups=[partition.row_group]
                )
            if positions is not None:
                return self._pos_filter(
                    it, positions, pa, exclude,
                    base=getattr(partition, "rg_offset", 0),
                )
            return it

        try:
            from pyspark.sql.pandas.types import to_arrow_schema

            target = to_arrow_schema(self.schema)
        except Exception:
            target = None
        ct, cv = partition.change_type, partition.version
        aliases = getattr(partition, "aliases", None)
        if target is not None:
            try:
                # EAGER alignment: materialize every aligned batch
                # BEFORE yielding any — a mid-stream failure (unsafe
                # cast on values in a later batch) after partial yield
                # would duplicate the already-consumed rows when the
                # tuple fallback replays the partition.  Memory is
                # bounded by the partition (≤ one row group after
                # splitting), the same bound the scan itself has.
                aligned = list(
                    self._arrow_batches(
                        fresh_batches(), target, ct, cv, pa, aliases
                    )
                )
            except Exception:
                aligned = None
            if aligned is not None:
                yield from aligned
                return
            # reopen and degrade to tuples (batches are spent)
        yield from self._tuple_rows(fresh_batches(), ct, cv, aliases)

    def _dv_positions(self, sidecar: str, path: str, pq) -> list[int]:
        return dv_positions(sidecar, path, pq)

    _pos_filter = staticmethod(lambda *a, **kw: pos_filter(*a, **kw))

    def _arrow_batches(
        self, batches, target, ct: str, cv: int, pa, aliases=None
    ):
        al = aliases or {}
        for b in batches:
            present = {n: i for i, n in enumerate(b.schema.names)}
            arrays = []
            for field in target:
                if field.name == "_change_type":
                    arrays.append(pa.array([ct] * b.num_rows, type=field.type))
                elif field.name == "_commit_version":
                    arrays.append(pa.array([cv] * b.num_rows, type=field.type))
                else:
                    # a file carries its pinned name directly, ONE other
                    # spelling of its rename class (chain repair), or
                    # neither (pre-merge_schema file: NULL-fill)
                    src = field.name if field.name in present else next(
                        (c for c in al.get(field.name, ()) if c in present),
                        None,
                    )
                    if src is not None:
                        col = b.column(present[src])
                        if col.type != field.type:
                            col = col.cast(field.type)
                        arrays.append(col)
                    else:
                        arrays.append(pa.nulls(b.num_rows, type=field.type))
            yield pa.RecordBatch.from_arrays(arrays, schema=target)

    def _tuple_rows(
        self, batches, ct: str, cv: int, aliases=None
    ) -> Iterator[tuple]:
        names = self._data_cols
        al = aliases or {}
        for b in batches:
            present = set(b.schema.names)
            cols = {}
            for c in names:
                src = c if c in present else next(
                    (o for o in al.get(c, ()) if o in present), None
                )
                cols[c] = b.column(src).to_pylist() if src else None
            for i in range(b.num_rows):
                yield tuple(
                    (cols[c][i] if cols[c] is not None else None)
                    for c in names
                ) + (ct, cv)

    def commit(self, end: dict) -> None:
        pass


class _CatalogStreamReader(_SnapshotStreamReader):
    """Catalog-CONSISTENT feed over ONE enrolled table: offsets are
    CATALOG versions, and every window version resolves the table's
    catalog-pinned manifest (published slot, or the staged fallback for
    a committed-but-unpublished transaction).  This is how enrolled
    tables stream: tailing their OWN log can stall arbitrarily long
    behind lazy publication, and its offsets would not line up across
    tables — here two streams over `facts` and `lineage` share catalog
    offsets, so equal ``_commit_version`` values came from the SAME
    atomic transaction (the feed-side form of the catalog's cross-table
    snapshot guarantee).  Versions where this table's pin did not move
    diff to nothing and emit nothing."""

    def __init__(self, options: dict, schema):
        self.catalog_dir = options.get("catalog_dir")
        self.name = options.get("table")
        super().__init__(
            {**options, "table_dir": f"{self.catalog_dir}::{self.name}"},
            schema,
        )

    def _vs(self) -> list[int]:
        return _versions(self.catalog_dir)

    def _m(self, version: int) -> dict:
        m = _resolve_pin(self.catalog_dir, self.name, version)
        if m is None:  # enrolled but not yet written at this version
            # _synthetic: no row exists, so no SCHEMA CLAIM either —
            # the additivity check must not treat the placeholder's
            # pinned-schema spelling as a real narrower-to-wider
            # transition when the table's first commit lands narrow
            m = {
                "files": [], "schema": self._schema_ddl,
                "op": "init", "_synthetic": True,
            }
            tid = getattr(self, "_table_id", None)
            if tid:
                m["table_id"] = tid
        return m


class SnapshotFeedDataSource(DataSource):
    """``spark.readStream.format("snapshot_feed")`` — see module doc.

    Two addressing modes: ``.option("table_dir", path)`` tails a
    table's own log; ``.option("catalog_dir", path).option("table",
    name)`` tails an ENROLLED table through the catalog (offsets =
    catalog versions, transaction-consistent across tables)."""

    @classmethod
    def name(cls) -> str:
        return "snapshot_feed"

    def schema(self):
        cdir = self.options.get("catalog_dir")
        name = self.options.get("table")
        if cdir and name:
            versions = _versions(cdir)
            if not versions:
                raise ValueError(f"no catalog at {cdir}")
            m = _resolve_pin(cdir, name, versions[-1])
            if m is None:
                raise ValueError(
                    f"snapshot_feed: enrolled table {name!r} has no "
                    "committed data yet — commit once before attaching "
                    "a stream (the feed schema pins to it)"
                )
            return _with_change_cols(_parse_simple_string(m["schema"]))
        table_dir = self.options.get("table_dir") or self.options.get("path")
        if not table_dir:
            raise ValueError(
                "snapshot_feed: .option('table_dir', <snapshot table>) "
                "or .option('catalog_dir', ...).option('table', ...) "
                "is required"
            )
        return snapshot_feed_schema(table_dir)

    def streamReader(self, schema):
        opts = dict(self.options)
        if opts.get("catalog_dir") and opts.get("table"):
            return _CatalogStreamReader(opts, schema)
        return _SnapshotStreamReader(opts, schema)
