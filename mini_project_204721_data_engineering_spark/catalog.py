"""Table catalog for the synthetic star schema.

The driver provides deterministic parquet tables (TESTDATA.md):
``region nation customer supplier part orders lineitem events documents``.
They stand in for the reference's star schema
(reference ``backend/app/models.py:26-87``): ``nation``/``region`` play the
province/district dimensions, ``orders``/``lineitem`` play the fact tables,
``events`` plays the incident log, and ``documents`` is the free-text
input of the cleaning chain (``queries/cleaning.py``).

Resolve once, read pinned
-------------------------
A bare ``spark.read.parquet`` infers the schema on every call, and parquet
inference is a Spark job (a footer read on an executor).  The catalog
resolves each table once instead — its Spark schema plus the ``events``
nanos fix-up flag — and every later :func:`load_table` is a pinned read,
``spark.read.schema(pinned).parquet(path)``: no job, no session conf.

- **Version token.**  A resolution is keyed by the table's absolute path
  and a token of what is on disk: ``(st_size, st_mtime_ns, st_ino)`` for a
  file, the sorted ``(name, size, mtime_ns)`` of its part files for a
  directory.  The token is re-taken (a ``stat``) on every call, so a
  rewritten table re-resolves before it is read; a stale schema cannot
  be served.
- **Per session.**  Inference depends on session confs
  (``inferTimestampNTZ``, ``binaryAsString``, ``int96AsTimestamp``), so
  resolutions live in a ``WeakKeyDictionary`` keyed by the SparkSession:
  a new or restarted session resolves again, and a session's entries go
  with it.  A conf changed on a live session applies to tables resolved
  after the change.
- The schema is kept, and so is the analysed relation of the first read
  of a version.  Each later call builds a new DataFrame over a new
  instance of that relation: attribute ids are fresh, so self-joins
  behave as with a plain read, and no file listing or py4j reader chain
  is repeated.
- **Version in the plan.**  Every read carries its version digest (a hash
  of the path and token) as the ``graft.version`` reader option, so two
  versions of one path are different plans.  The read lists the files
  when it is created, after the token was taken; the token is taken
  again after the read, which is retried while the table moved in
  between.  So a read's schema and digest always belong to the files it
  lists.

Version-keyed views
-------------------
The served queries are single ``spark.sql`` statements run through
:func:`served_sql`, which names their tables by :func:`table_view`: a
session temp view over the same pinned read (``events`` nanos fix-up
included).

- **Name = version.**  The view name is derived from the table's absolute
  path and its version token, so a rewritten table gets a NEW view and
  the old name is never handed out again.  The first call per (session,
  path, token) registers the view (a pinned read plus
  ``createOrReplaceTempView``); every later call re-takes the token (a
  ``stat``) and returns the name with no py4j call.
- **Listing.**  A view keeps the file listing its read took: the same
  read as :func:`load_table`'s, so a name always means one set of files.
- **Version in the plan.**  Spark's own cache matches plans by path, not
  by what is on disk; with the digest in the relation, a persisted plan
  of one version never stands in for another version's read.
- **Lifetime.**  Views are session temp views, and a new session
  registers its own.  A served build (:func:`served_sql`) holds the names
  it formats into its statement until its analysis returns.  Once a newer
  version's view is registered, the superseded view is dropped as soon as
  no build holds it, together with every served result that reads it.
  So a table rewritten n times in one session keeps one view, plus one
  per superseded version a build is analysing at that moment.  A name
  from :func:`table_view` itself is held by nothing: it stays registered
  until the table is rewritten and a later call registers the new view.

Result reuse
------------
:func:`served_sql` runs the served named queries (the dashboard,
``avg_level_by_brand``, ``order_scalar_stats``) and keeps each result,
so a repeated request in one table version is a dictionary lookup.
:func:`served_plan` does the same for a DataFrame built through the
DataFrame API: ``ListQuery.page_df`` hands it every list page.

- **Key.**  For :func:`served_sql`, the formatted statement text plus its
  named parameters.  The text names each table by its version-keyed
  view, so a rewritten table yields a new key: a stale hit cannot
  happen, and no version bookkeeping is needed.
- **Plan key.**  For :func:`served_plan`, the plan's ``semanticHash``
  plus the output schema (names and types), and a hit is confirmed by
  ``sameSemantics`` against the kept plan.  The schema is in the key
  because Spark's canonical plan drops output names: two pages that
  differ only in a column alias are the same canonical plan.  Each read
  carries its version digest (see "Resolve once, read pinned"), so a
  rewritten table yields a different plan.
- **Only versioned plans are kept.**  A plan is kept only if every leaf
  of its analysed plan and of its subqueries is a catalog read with a
  digest; any other plan (``createDataFrame``, a plain
  ``spark.read.parquet``) is returned as it came, since nothing in it
  names the version of what it reads.  The leaves are checked on a miss
  only: a hit matches a plan that passed.  A hit costs four py4j calls
  (hash, schema, its JSON, compare) and returns the kept DataFrame
  itself.
- **Value.**  A persisted DataFrame (``MEMORY_AND_DISK``, lineage kept).
  Its first action fills Spark's cache, and every later action reads the
  cached rows.  Callers still get a DataFrame (``toPandas``, ``collect``),
  and concurrent actions on one DataFrame are safe.  No Arrow copy is
  kept: serving one would take a ``createDataFrame`` per request, a new
  plan and the rows shipped back to the JVM, which measured slower than
  reading the persisted rows.
- **Bounds.**  At most ``_RESULTS_KEPT`` results per session, in LRU
  order, statement- and plan-keyed ones in one store; an evicted result
  is unpersisted.  A statement's result is also unpersisted when a view
  it reads is dropped (see "Lifetime"); a page of a superseded version
  ages out by LRU, since no later plan can match it.  Results live per
  session in a ``WeakKeyDictionary``, like the resolutions and views,
  and a new session builds its own.  A session dropped while it still
  keeps results does not unpersist them; the served sessions live as
  long as their process.
- **Sharing.**  Spark's cache is shared across sessions, so two
  sessions' results of one statement and version share one cached copy,
  and unpersisting either one uncaches it for both.  The other session's
  result then reads from its lineage again: the same rows, only slower.
  Two kept pages that differ only in output names share one cached copy
  the same way: Spark's cache matches plans as the canonical form does.

Scale notes
-----------
- ``region`` (5 rows) and ``nation`` (25) are always broadcast — like the
  reference's 928-district dimension, they are broadcast-sized at any SF.
- ``customer``/``supplier``/``part`` are "medium dims": broadcastable at
  test SF, shuffle-joined at 100 TB.  We do NOT hard-broadcast them;
  AQE picks the strategy from observed sizes.
- Fact tables (``lineitem``, ``orders``, ``events``) are plain parquet
  scans — filters and column pruning reach the scan (verify via
  ``plans.explain_checks``).
"""

from __future__ import annotations

import hashlib
import os
import stat
import threading
import weakref
from collections import Counter, OrderedDict
from typing import Any, NamedTuple

import pyarrow as pa
import pyarrow.dataset as ds
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import from_arrow_schema
from pyspark.sql.types import StructType

__all__ = [
    "TABLES",
    "SMALL_DIMS",
    "load_table",
    "load_tables",
    "served_plan",
    "served_sql",
    "table_view",
]

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)

#: dimensions that are broadcast-sized at every scale factor
SMALL_DIMS = frozenset({"region", "nation"})


class _Resolved(NamedTuple):
    token: tuple
    schema: StructType
    nanos: bool  # ts is raw TIMESTAMP(NANOS) read as bigint
    #: the analysed relation of a read of this version (a JVM plan), once
    #: one read has listed the files with the token unchanged
    relation: Any = None


#: session -> {absolute table path -> resolution}
_RESOLVED: weakref.WeakKeyDictionary[SparkSession, dict[str, _Resolved]] = (
    weakref.WeakKeyDictionary()
)
#: session -> its JVM ``Dataset`` class (the lookup is several py4j calls)
_DATASET: weakref.WeakKeyDictionary[SparkSession, Any] = weakref.WeakKeyDictionary()
#: session -> {absolute table path -> (token, view name)}
_VIEWS: weakref.WeakKeyDictionary[SparkSession, dict[str, tuple[tuple, str]]] = (
    weakref.WeakKeyDictionary()
)
#: served results kept per session (LRU; an evicted one is unpersisted)
_RESULTS_KEPT = 128
#: reader option that carries a read's version digest
VERSION_OPTION = "graft.version"


class _Served:
    """One session's served-build state; guarded by ``_LOCK``."""

    def __init__(self) -> None:
        #: (statement text, args) -> (views it reads, persisted DataFrame)
        self.results: OrderedDict[tuple, tuple[frozenset[str], DataFrame]] = OrderedDict()
        #: view name -> served builds holding it
        self.held: Counter[str] = Counter()
        #: views replaced by a newer version but still held
        self.superseded: set[str] = set()


#: session -> served-build state
_SERVED: weakref.WeakKeyDictionary[SparkSession, _Served] = weakref.WeakKeyDictionary()
_LOCK = threading.Lock()
#: serializes view registration and drops; hits never take it.  Taken
#: before ``_LOCK``, never while holding it
_REGISTER = threading.Lock()


def _version_token(path: str) -> tuple:
    """What is on disk at ``path`` now; hidden ``_``/``.`` names are
    skipped as Spark's file index skips them."""
    st = os.stat(path)
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    parts = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                full = os.path.join(root, f)
                fs = os.stat(full)
                parts.append((os.path.relpath(full, path), fs.st_size, fs.st_mtime_ns))
    return tuple(sorted(parts))


def _resolve(spark: SparkSession, path: str, name: str) -> tuple[StructType, bool]:
    """(schema, nanos) for one table — the only place inference runs."""
    if name == "events":
        # Spark 4 refuses to infer TIMESTAMP(NANOS) (PARQUET_TYPE_ILLEGAL),
        # but reads it as bigint under a pinned schema: take that schema
        # from the footer instead of toggling a session conf
        footer = ds.dataset(path, format="parquet").schema
        i = footer.get_field_index("ts")
        ts = footer.field(i).type if i >= 0 else pa.null()
        if pa.types.is_timestamp(ts) and ts.unit == "ns":
            return from_arrow_schema(footer.set(i, pa.field("ts", pa.int64()))), True
    return spark.read.parquet(path).schema, False


def _pinned(spark: SparkSession, key: str, token: tuple, name: str) -> _Resolved:
    """The resolution of the table at absolute path ``key`` as of ``token``."""
    with _LOCK:
        hit = _RESOLVED.setdefault(spark, {}).get(key)
    if hit is None or hit.token != token:
        # two threads may both resolve a new version; both get the same answer
        hit = _Resolved(token, *_resolve(spark, key, name))
        with _LOCK:
            _RESOLVED[spark][key] = hit
    return hit


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one synthetic table as a DataFrame (lazy parquet scan).

    The first call per (session, table, version token) resolves the
    schema — one Spark inference job, or a footer read for nanos
    ``events``; every later call is a new instance of that version's
    pinned read and starts no Spark job (see the module docstring).

    ``events.parquet`` ``ts`` has shipped in two physical forms across
    driver rounds; both are handled:

    - TIMESTAMP(NANOS) (r1-r2 data): Spark has no native type for it.  The
      schema comes from the parquet footer (pyarrow) with ``ts`` pinned to
      ``bigint``, which Spark reads as raw nanos with no conf set; a
      microsecond timestamp is rebuilt with integer division (``div``;
      float division would lose precision above 2^53 ns ≈ 1970+104 days).
    - timestamp[us] with isAdjustedToUTC=false (r4+ data): resolves to
      ``TIMESTAMP_NTZ`` under Spark's ``inferTimestampNTZ`` default and
      passes through as NTZ, so downstream code must use NTZ-safe
      expressions (``timestamp_diff``, never ``unix_micros``).
    """
    key = _table_path(sf_dir, name)
    return _listed(spark, key, name, _version_token(key))[0]


def table_view(spark: SparkSession, sf_dir: str, name: str) -> str:
    """Name of a session temp view over table ``name`` as it is on disk
    now, for ``spark.sql`` statements (see "Version-keyed views" in the
    module docstring): registered on the first call per (session, path,
    version token), a ``stat`` and a dict lookup after that."""
    return _view(spark, _table_path(sf_dir, name), name, hold=False)


def served_sql(
    spark: SparkSession,
    sf_dir: str,
    template: str,
    tables: tuple[str, ...],
    args: dict[str, Any] | None = None,
) -> DataFrame:
    """``spark.sql`` of ``template`` formatted with the version-keyed view
    of each table in ``tables`` (``{orders}`` → :func:`table_view`), with
    named parameters ``args``.  The result is persisted and kept per
    session, so a repeat in the same table versions returns the same
    DataFrame with no py4j call (see "Result reuse" in the module
    docstring)."""
    state = _state(spark)
    held: list[str] = []
    try:
        views = {}
        for t in tables:
            views[t] = _view(spark, _table_path(sf_dir, t), t, hold=True)
            held.append(views[t])
        key = (template.format(**views), tuple(sorted((args or {}).items())))
        with _LOCK:
            hit = state.results.get(key)
            if hit is not None:
                state.results.move_to_end(key)
                return hit[1]
        return _keep(state, key, frozenset(held), spark.sql(key[0], args=args).persist())
    finally:
        _release(spark, held)


def served_plan(df: DataFrame) -> DataFrame:
    """``df``, or the kept result of an earlier DataFrame with the same
    plan over the same table versions (see "Result reuse" in the module
    docstring).

    A plan is kept, persisted, only when every leaf of it (subqueries
    included) is a catalog read that carries its version digest; any
    other plan is returned as it came.  A repeat returns the kept
    DataFrame itself, whose actions read the cached rows."""
    jdf = df._jdf
    # the canonical plan drops output names: the schema is in the key
    key = ("plan", jdf.semanticHash(), jdf.schema().json())
    state = _state(df.sparkSession)
    with _LOCK:
        hit = state.results.get(key)
        if hit is not None:
            state.results.move_to_end(key)
    if hit is not None:
        # a hit matches a plan that passed the leaf check on its miss
        return hit[1] if hit[1]._jdf.sameSemantics(jdf) else df
    if _versions(jdf) is None:
        return df
    kept = _keep(state, key, frozenset(), df.persist())
    if kept is df or kept._jdf.sameSemantics(jdf):
        return kept
    # another plan under the same hash and schema: serve this one unkept
    df.unpersist()
    return df


def _keep(state: _Served, key: tuple, views: frozenset[str], df: DataFrame) -> DataFrame:
    """Keep the persisted ``df`` under ``key`` and return the result kept
    there; past ``_RESULTS_KEPT`` the oldest is evicted and unpersisted.
    Two threads may both build a new key; both return the one kept, and
    Spark caches one copy of the plan for both."""
    with _LOCK:
        kept = state.results.setdefault(key, (views, df))[1]
        state.results.move_to_end(key)
        evicted = [
            state.results.popitem(last=False)[1][1]
            for _ in range(len(state.results) - _RESULTS_KEPT)
        ]
    for old in evicted:
        old.unpersist()
    return kept


def _versions(jdf) -> list[str] | None:
    """The version digest of every leaf of ``jdf``'s analysed plan and
    its subqueries, or ``None`` if a leaf is not a catalog read."""
    plan = jdf.queryExecution().analyzed()
    subqueries = plan.subqueriesAll()
    digests = []
    for p in [plan] + [subqueries.apply(i) for i in range(subqueries.size())]:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                return None
            rel = leaf.relation()
            if rel.getClass().getSimpleName() != "HadoopFsRelation":
                return None
            digest = rel.options().get(VERSION_OPTION)
            if digest.isEmpty():
                return None
            digests.append(digest.get())
    return digests or None


def _state(spark: SparkSession) -> _Served:
    with _LOCK:
        return _SERVED.setdefault(spark, _Served())


def _view(spark: SparkSession, key: str, name: str, hold: bool) -> str:
    """:func:`table_view` for absolute path ``key``; ``hold`` takes a hold
    on the returned name (released by :func:`_release`)."""
    token = _version_token(key)
    state = _state(spark)
    with _LOCK:
        hit = _VIEWS.setdefault(spark, {}).get(key)
        if hit is not None and hit[0] == token:
            if hold:
                state.held[hit[1]] += 1
            return hit[1]
    with _REGISTER:
        with _LOCK:
            hit = _VIEWS[spark].get(key)
            if hit is not None and hit[0] == token:  # registered meanwhile
                if hold:
                    state.held[hit[1]] += 1
                return hit[1]
        df, token, digest = _listed(spark, key, name, token)
        view = f"graft_{name}_{digest}"
        df.createOrReplaceTempView(view)
        with _LOCK:
            if hold:
                state.held[view] += 1
            state.superseded.discard(view)
            if hit is not None and hit[1] != view:
                state.superseded.add(hit[1])
            _VIEWS[spark][key] = (token, view)
        _drop_superseded(spark, state)
    return view


def _release(spark: SparkSession, names: list[str]) -> None:
    """Give up a build's holds; drop what no build holds any more."""
    if not names:
        return
    state = _state(spark)
    with _LOCK:
        state.held -= Counter(names)  # in place; keeps positive counts only
        if not any(state.held[n] == 0 and n in state.superseded for n in names):
            return
    with _REGISTER:
        _drop_superseded(spark, state)


def _drop_superseded(spark: SparkSession, state: _Served) -> None:
    """Drop every superseded view no build holds, and unpersist the
    results that read one.  Runs under ``_REGISTER``, so no view is
    registered (nor a superseded one made current) meanwhile."""
    with _LOCK:
        drop = {n for n in state.superseded if state.held[n] == 0}
        if not drop:
            return
        state.superseded -= drop
        stale = [k for k, (views, _) in state.results.items() if views & drop]
        evicted = [state.results.pop(k)[1] for k in stale]
    for df in evicted:
        df.unpersist()
    for n in sorted(drop):
        spark.catalog.dropTempView(n)


def _table_path(sf_dir: str, name: str) -> str:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    return os.path.abspath(os.path.join(sf_dir, f"{name}.parquet"))


def _listed(
    spark: SparkSession, key: str, name: str, token: tuple
) -> tuple[DataFrame, tuple, str]:
    """A pinned read of the table at absolute path ``key`` that carries
    its version digest, with the token and digest of the files it listed.

    The first read of a version lists the files when it is created, after
    ``token`` was taken.  The token is taken again after the read, and the
    read is retried while the table moved in between, so its schema and
    digest always belong to the files it lists.  The relation of a read
    that held is kept with the resolution; a later read of the version is
    a new instance of it (fresh attribute ids, no listing, no analysis of
    the files)."""
    while True:
        hit = _pinned(spark, key, token, name)
        digest = hashlib.blake2b(repr((key, token)).encode(), digest_size=8).hexdigest()
        if hit.relation is None:
            # the digest is part of the relation, so Spark's cache and the
            # kept results tell versions of one path apart
            df = spark.read.schema(hit.schema).option(VERSION_OPTION, digest).parquet(key)
            relation = df._jdf.queryExecution().analyzed()
        else:
            df, relation = _instance(spark, hit.relation), None
        if hit.nanos:
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        listed, token = token, _version_token(key)
        if token == listed:
            if relation is not None:
                with _LOCK:
                    if _RESOLVED[spark].get(key) is hit:
                        _RESOLVED[spark][key] = hit._replace(relation=relation)
            return df, token, digest


def _instance(spark: SparkSession, relation) -> DataFrame:
    """A DataFrame over a new instance of a kept relation."""
    with _LOCK:
        cls = _DATASET.get(spark)
    if cls is None:
        cls = spark._jvm.org.apache.spark.sql.classic.Dataset
        with _LOCK:
            _DATASET[spark] = cls
    return DataFrame(cls.ofRows(spark._jsparkSession, relation.newInstance()), spark)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every synthetic table present under ``sf_dir``."""
    out: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            out[name] = load_table(spark, sf_dir, name)
    return out
