"""Every package module, and every top-level definition in it, is
reached from a declared entry point.

The system's entry points are the driver contract (``__spark_entry__``),
the bench CLI (``bench.py``), the benchmark harness (``perfbench``) and
the correctness gate (``tools/verify_local.py``).  Code that none of
them reaches is code only tests reach; these guards keep it from
growing back.

- **Modules.**  ``plans`` is the one deliberate exception: it is the
  plan-shape assertion helper the tests use to check reachable queries.
  One unreached module is listed by name in ``NOT_YET_CUT`` until it is
  cut too: the ``protobuf`` reader.
- **Definitions.**  A top-level function or class of a reached module
  is reached if its name is referenced from an entry file, from the
  code a reached module runs at import, or from the body of a reached
  definition.  A name counts wherever it matches (``f`` or ``m.f``), so
  the walk over-counts what is reached, never under-counts; strings,
  ``__all__`` lists included, are not references.  Each unreached
  definition that stays is listed in ``UNREACHED_DEFINITIONS`` with its
  reason.  The list only shrinks.

Stdlib only, no Spark session: both walks read the source with
:mod:`ast`.  The module walk follows ``import`` statements at any depth
(function-level imports count), with relative imports resolved.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "mini_project_204721_data_engineering_spark"
ENTRY_FILES = [
    ROOT / "__spark_entry__.py",
    ROOT / "bench.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
    ROOT / "tools" / "verify_local.py",
]
TEST_ONLY = {"plans", "plans.checks"}
NOT_YET_CUT = {"sources.protobuf"}

_COLUMN_FORM = "Column form of a SQL-text formula; tests evaluate it"
_TEST_FIXTURE = "builds or checks test fixtures"
_EAGER_READER = "whole-file parser; uploads decode through netcdf_files_to_long; tests call it"
_SNAP_REWRITE = "snapshot rewrite family, ROADMAP item 4"
_SNAP_SCHEMA = "snapshot schema-edit family, ROADMAP item 4"
_SNAP_HISTORY = "snapshot clone/restore/expire family, ROADMAP item 4"
_SNAP_FEED = "snapshot change-feed family, ROADMAP item 4"
_SNAP_META = "snapshot metadata queries, ROADMAP item 4"
_TXN = "transaction-catalog maintenance and feeds, ROADMAP item 4"
_STREAM = "events streaming surface; tests only"
_BLOOM = "bloom build/filter/semi-join; test_bloom checks the SBBF sizing the snapshot bloom sidecar uses"
_DIFF = "table diff family, ROADMAP item 4; tests only"
_XLS_WRITER = "legacy .xls writer for test fixtures"
_TXN_APPEND = "idempotent txn append, ROADMAP item 4"

#: top-level definitions of reached modules that no entry point reaches,
#: each with the reason it stays; cut one and delete its line
UNREACHED_DEFINITIONS = {
    "catalog.table_view": "public view-name API; served_sql names views through its private form; tests call it",
    "functions.binning.avg_to_level": _COLUMN_FORM,
    "functions.binning.estimate_probability": _COLUMN_FORM,
    "functions.parity.portable_round": _COLUMN_FORM,
    "functions.text.normalize_th": _COLUMN_FORM,
    "functions.thaidates.be_to_ce": _COLUMN_FORM,
    "operators.bloom.BloomFilter": _BLOOM,
    "operators.bloom.bloom_filter": _BLOOM,
    "operators.bloom.bloom_semi_join": _BLOOM,
    "operators.bloom.build_bloom": _BLOOM,
    "operators.dedup.dedup_keep_first": "window form; tests check the packed form the queries use against it",
    "operators.diff.apply_changes": _DIFF,
    "operators.diff.changed_column_counts": _DIFF,
    "operators.diff.diff_summary": _DIFF,
    "operators.diff.table_diff": _DIFF,
    "sources.crs.forward_tm": _TEST_FIXTURE,
    "sources.geometry.parse_wkt_polygon": _TEST_FIXTURE,
    "sources.geometry.read_geojson": "GeoJSON boundary reader; the pipelines read the shapefile; tests only",
    "sources.geometry.write_geojson": "GeoJSON boundary writer; tests only",
    "sources.hdf5._dataset_data": _EAGER_READER,
    "sources.hdf5.read_hdf5": _EAGER_READER,
    "sources.hdf5.read_netcdf4": _EAGER_READER,
    "sources.manifest_io.certify_manifest_io": "adapter gate for the manifest IO seam; tests run it",
    "sources.manifest_io.register_manifest_io": "adapter registration API; tests register mock adapters",
    "sources.netcdf.netcdf_to_long": "single-file form of netcdf_files_to_long; tests call it",
    "sources.netcdf3.read_netcdf3": _EAGER_READER,
    "sources.shapefile.check_prj_wgs84": _TEST_FIXTURE,
    "sources.shapefile.wkt_to_shp_parts": _TEST_FIXTURE,
    "sources.snapshots._AlreadyApplied": _TXN_APPEND,
    "sources.snapshots._check_stored_predicate": _SNAP_REWRITE,
    "sources.snapshots._evo_state": _SNAP_SCHEMA,
    "sources.snapshots._expr_mentions": _SNAP_SCHEMA,
    "sources.snapshots._filter_sig": _SNAP_REWRITE,
    "sources.snapshots._layout_report": _SNAP_META,
    "sources.snapshots._pending_predicate_mentions": _SNAP_SCHEMA,
    "sources.snapshots._rewrite_guard": _SNAP_REWRITE,
    "sources.snapshots._staged_catalog_referenced": _SNAP_HISTORY,
    "sources.snapshots._strip_bloom_col": _SNAP_SCHEMA,
    "sources.snapshots._strip_entry_col": _SNAP_SCHEMA,
    "sources.snapshots._strip_ndv_col": _SNAP_SCHEMA,
    "sources.snapshots.expire_snapshots": _SNAP_HISTORY,
    "sources.snapshots.snapshot_apply_filters": _SNAP_REWRITE,
    "sources.snapshots.snapshot_changes": _SNAP_FEED,
    "sources.snapshots.snapshot_clone": _SNAP_HISTORY,
    "sources.snapshots.snapshot_compact": _SNAP_REWRITE,
    "sources.snapshots.snapshot_count": _SNAP_META,
    "sources.snapshots.snapshot_delete_where": _SNAP_REWRITE,
    "sources.snapshots.snapshot_drop_column": _SNAP_SCHEMA,
    "sources.snapshots.snapshot_file_changes": _SNAP_FEED,
    "sources.snapshots.snapshot_files": _SNAP_META,
    "sources.snapshots.snapshot_history": _SNAP_META,
    "sources.snapshots.snapshot_incremental_read": _SNAP_FEED,
    "sources.snapshots.snapshot_layout_report": _SNAP_META,
    "sources.snapshots.snapshot_merge_into": _SNAP_REWRITE,
    "sources.snapshots.snapshot_min_max": _SNAP_META,
    "sources.snapshots.snapshot_ndv": _SNAP_META,
    "sources.snapshots.snapshot_overwrite": _SNAP_REWRITE,
    "sources.snapshots.snapshot_rename_column": _SNAP_SCHEMA,
    "sources.snapshots.snapshot_replace_where": _SNAP_REWRITE,
    "sources.snapshots.snapshot_restore": _SNAP_HISTORY,
    "sources.snapshots.snapshot_set_stats_spec": _SNAP_SCHEMA,
    "sources.snapshots.snapshot_stream_sink": _SNAP_FEED,
    "sources.snapshots.snapshot_txn_append": _TXN_APPEND,
    "sources.snapshots.snapshot_widen_column": _SNAP_SCHEMA,
    "sources.txn_catalog.catalog_changes": _TXN,
    "sources.txn_catalog.catalog_expire": _TXN,
    "sources.txn_catalog.catalog_history": _TXN,
    "sources.txn_catalog.catalog_layout_report": _TXN,
    "sources.txn_catalog.catalog_maintain": _TXN,
    "sources.txn_catalog.catalog_stream_sink": _TXN,
    "sources.xls._rec": _XLS_WRITER,
    "sources.xls._ustr": _XLS_WRITER,
    "sources.xls._write_cfb": _XLS_WRITER,
    "sources.xls.write_xls": _XLS_WRITER,
    "streaming.events.read_events_stream": _STREAM,
    "streaming.events.run_available_now": _STREAM,
    "streaming.events.session_counts": _STREAM,
    "streaming.events.sliding_counts": _STREAM,
    "streaming.events.stream_dedup": _STREAM,
    "streaming.events.tumbling_counts": _STREAM,
    "streaming.snapshot_source.SnapshotFeedDataSource": _SNAP_FEED,
    "streaming.snapshot_source._CatalogStreamReader": _SNAP_FEED,
    "streaming.snapshot_source._with_change_cols": _SNAP_FEED,
    "streaming.snapshot_source.snapshot_feed_schema": _SNAP_FEED,
}


def _package_modules() -> dict[str, Path]:
    """Dotted module name → source file, for every module of the package
    (a package is named by its ``__init__.py``)."""
    mods = {}
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = path
    return mods


def _imported_names(source: str, modname: str, is_pkg: bool) -> set[str]:
    """Every dotted name an import statement in ``source`` can load.
    ``from X import Y`` names both ``X`` and ``X.Y``, since ``Y`` may be
    a submodule; names that are not modules are filtered out later."""
    names = set()
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = modname.split(".")
                if not is_pkg:
                    base = base[:-1]
                base = base[: len(base) - (node.level - 1)]
                mod = ".".join(base + ([node.module] if node.module else []))
            else:
                mod = node.module
            names.add(mod)
            names.update(f"{mod}.{alias.name}" for alias in node.names)
    return names


def _file_imports(path: Path, modname: str) -> set[str]:
    return _imported_names(path.read_text(), modname, path.name == "__init__.py")


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` runs ``a`` and ``a.b`` first."""
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _reached(modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = [_file_imports(p, p.stem) for p in ENTRY_FILES]
    while todo:
        for name in todo.pop():
            for mod in _with_parents(name):
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append(_file_imports(modules[mod], mod))
    return seen


_DEFINITIONS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _referenced(nodes) -> set[str]:
    """Names loaded (``f``) or looked up as attributes (``m.f``)
    anywhere under ``nodes``."""
    names = set()
    for node in nodes:
        for sub in ast.walk(node):
            if isinstance(sub, ast.Name) and not isinstance(sub.ctx, ast.Store):
                names.add(sub.id)
            elif isinstance(sub, ast.Attribute) and not isinstance(sub.ctx, ast.Store):
                names.add(sub.attr)
    return names


def _split(tree: ast.Module) -> tuple[dict[str, ast.AST], list[ast.AST]]:
    """A module's top-level definitions by name, and the code it runs at
    import: every other statement, plus each definition's decorators,
    base classes and default values."""
    defs: dict[str, ast.AST] = {}
    at_import: list[ast.AST] = []
    for stmt in tree.body:
        if not isinstance(stmt, _DEFINITIONS):
            at_import.append(stmt)
            continue
        defs[stmt.name] = stmt
        at_import += stmt.decorator_list
        if isinstance(stmt, ast.ClassDef):
            at_import += stmt.bases + stmt.keywords
        else:
            at_import += stmt.args.defaults + [d for d in stmt.args.kw_defaults if d]
    return defs, at_import


def _unreached_definitions(entries: list[ast.Module], modules: dict[str, ast.Module]) -> set[str]:
    """``module.name`` of every top-level definition in ``modules`` that
    the entry files do not reach (the rule is in the module docstring)."""
    refs = _referenced(entries)
    defs: dict[str, ast.AST] = {}
    for mod, tree in modules.items():
        found, at_import = _split(tree)
        refs |= _referenced(at_import)
        defs.update({f"{mod}.{name}": node for name, node in found.items()})
    reached: set[str] = set()
    while True:
        new = {q for q in defs.keys() - reached if q.rsplit(".", 1)[1] in refs}
        if not new:
            return defs.keys() - reached
        reached |= new
        refs |= _referenced(defs[q] for q in new)


def test_relative_imports_resolve():
    """The walk names relative and function-level imports the way the
    interpreter resolves them, from a module and from a package."""
    src = (
        "from . import a\n"
        "from .b import c\n"
        "def f():\n"
        "    from ..d import e\n"
    )
    want = {f"{PKG}.sources.a", f"{PKG}.sources.b.c", f"{PKG}.d.e"}
    assert want <= _imported_names(src, f"{PKG}.sources.snapshots", is_pkg=False)
    assert want <= _imported_names(src, f"{PKG}.sources", is_pkg=True)


def test_every_package_module_is_reached_from_an_entry_point():
    modules = _package_modules()
    unreached = {m.removeprefix(PKG + ".") for m in modules} - {
        m.removeprefix(PKG + ".") for m in _reached(modules)
    }
    allowed = TEST_ONLY | NOT_YET_CUT
    assert unreached == allowed, (
        "modules reached by no entry point (delete them, or wire them "
        f"into a declared query, pipeline or workload): "
        f"{sorted(unreached - allowed)}; "
        f"expected-but-reached: {sorted(allowed - unreached)}"
    )


def test_definition_walk_rules():
    """Import-time code and reached bodies reach; ``__all__``, an
    unreached body and a name only bound (never loaded) do not."""
    mod = ast.parse(
        "__all__ = ['exported']\n"
        "def exported(): pass\n"
        "def at_import(): pass\n"
        "TABLE = {'k': at_import}\n"
        "def called(): return helper()\n"
        "def helper(): pass\n"
        "def dead(): return only_dead_calls()\n"
        "def only_dead_calls(): pass\n"
        "def decorator(f): return f\n"
        "@decorator\n"
        "def decorated(): pass\n"
        "class Base: pass\n"
        "class Child(Base):\n"
        "    def method(self): return from_method()\n"
        "def from_method(): pass\n"
        "def shadowed(): pass\n"
    )
    entry = ast.parse("import m\nm.called()\nChild().method()\nshadowed = 1\n")
    assert _unreached_definitions([entry], {"m": mod}) == {
        "m.exported",
        "m.dead",
        "m.only_dead_calls",
        "m.decorated",
        "m.shadowed",
    }


def test_every_top_level_definition_is_reached_from_an_entry_point():
    modules = _package_modules()
    trees = {
        m.removeprefix(PKG + "."): ast.parse(modules[m].read_text())
        for m in _reached(modules)
    }
    entries = [ast.parse(p.read_text()) for p in ENTRY_FILES]
    unreached = _unreached_definitions(entries, trees)
    allowed = set(UNREACHED_DEFINITIONS)
    assert unreached == allowed, (
        "top-level definitions reached by no entry point (delete them, or "
        f"call them from a declared query, pipeline or workload): "
        f"{sorted(unreached - allowed)}; "
        f"listed but now reached or gone (delete their lines): "
        f"{sorted(allowed - unreached)}"
    )
