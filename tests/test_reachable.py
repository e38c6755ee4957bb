"""Every package module is reached from a declared entry point.

The system's entry points are the driver contract (``__spark_entry__``),
the bench CLI (``bench.py``), the benchmark harness (``perfbench``) and
the correctness gate (``tools/verify_local.py``).  A module that none of
them imports is code only tests reach; this guard keeps such modules
from growing back.  ``plans`` is the one deliberate exception: it is the
plan-shape assertion helper the tests use to check reachable queries.
One unreached module is listed by name in ``NOT_YET_CUT`` until it is
cut too: the ``protobuf`` reader.

Stdlib only, no Spark session: the walk reads ``import`` statements with
:mod:`ast`, at any depth (function-level imports count) and with relative
imports resolved.
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
