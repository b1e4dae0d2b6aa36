"""Every module of the package is reached from an entry point.

Walks the import graph from the CLI and the streaming package with
``ast`` (no Spark, nothing imported): module-level and function-local
imports, absolute and relative, and the parent packages each import
runs. A module nothing reaches is code no CLI mode, pipeline or stream
can execute; it fails this test instead of lingering. The allow-list
names the few kept on purpose outside that graph, each with its
callers.

A second ``ast`` scan fails on imports a module never uses: a dead
import keeps a dependency (and, for package modules, an import-graph
edge) alive for code that no longer exists."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "yadf_spark"
PKG_DIR = Path(__file__).resolve().parent.parent / PKG
ROOTS = ("yadf_spark.cli", "yadf_spark.streaming")

#: modules outside the entry points' import graph on purpose
ALLOWED_UNREACHED = {
    # the planted-truth image corpus: perfbench inputs and test fixtures
    "yadf_spark.fixtures.images",
    # the DuckDB contract harness: tests and the driver contract only
    "yadf_spark.testing",
    # BM25 and rank fusion: contract queries and their own tests
    "yadf_spark.operators.retrieval",
    # as-of / interval joins, sessions, funnels: contract queries and tests
    "yadf_spark.operators.temporal",
}


def _modules() -> dict[str, Path]:
    mods = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = list(path.relative_to(PKG_DIR.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        mods[".".join(parts)] = path
    return mods


def _with_parents(name: str) -> list[str]:
    parts = name.split(".")
    return [".".join(parts[:i]) for i in range(1, len(parts) + 1)]


def _imports(name: str, path: Path, mods: dict[str, Path]) -> set[str]:
    """Package modules ``name`` imports anywhere in its body."""
    is_pkg = path.name == "__init__.py"
    package = name if is_pkg else name.rpartition(".")[0]
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module
            if node.level:
                base = package.rsplit(".", node.level - 1)[0] + (f".{base}" if base else "")
            # ``from pkg import mod`` reaches pkg.mod when it is a module
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for t in targets:
            out.update(m for m in _with_parents(t) if m in mods)
    return out


def reached_modules() -> set[str]:
    mods = _modules()
    seen: set[str] = set()
    todo = [m for root in ROOTS for m in _with_parents(root)]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        todo.extend(_imports(name, mods[name], mods) - seen)
    return seen


def test_every_package_module_is_reached_from_an_entry_point():
    mods = set(_modules())
    unreached = mods - reached_modules()
    dead = sorted(unreached - ALLOWED_UNREACHED)
    assert not dead, f"modules no CLI mode, pipeline or stream reaches: {dead}"
    stale = sorted(ALLOWED_UNREACHED - unreached)
    assert not stale, f"allow-listed modules that are reached or gone: {stale}"



def _bound_names(node: ast.Import | ast.ImportFrom) -> list[str]:
    """Names an import statement binds in its scope."""
    if isinstance(node, ast.ImportFrom) and node.module == "__future__":
        return []
    out = []
    for a in node.names:
        if a.name == "*":
            continue
        if a.asname:
            out.append(a.asname)
        elif isinstance(node, ast.Import):
            out.append(a.name.partition(".")[0])
        else:
            out.append(a.name)
    return out


def unused_imports() -> list[str]:
    """``module: name`` for every imported name, at any level, that its
    module never references. ``__init__.py`` files are skipped: their
    imports are the package's re-exports."""
    found = []
    for name, path in sorted(_modules().items()):
        if path.name == "__init__.py":
            continue
        tree = ast.parse(path.read_text(), str(path))
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        for node in ast.walk(tree):
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                found += [f"{name}: {b}" for b in _bound_names(node) if b not in used]
    return found


def test_no_package_module_imports_a_name_it_never_uses():
    unused = unused_imports()
    assert not unused, f"imported but never referenced: {unused}"
