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
edge) alive for code that no longer exists.

A third walk does the same per top-level function and class, by name
references from the entry points and from ``perfbench``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = "yadf_spark"
PKG_DIR = Path(__file__).resolve().parent.parent / PKG
#: the CLI, and the streaming package whose ``__all__`` (``dedup_stream``,
#: ``streaming_near_dup``, ``incremental_near_dup_batch``,
#: ``compact_band_index``, ``with_content_hash``) is an entry point on
#: purpose: the streaming ingest surface is a library API that no CLI
#: mode wraps, and ``compact_band_index`` is the band index's layout
#: migration
ROOTS = ("yadf_spark.cli", "yadf_spark.streaming")

#: modules outside the entry points' import graph on purpose
ALLOWED_UNREACHED = {
    # the planted-truth image corpus: perfbench inputs and test fixtures
    "yadf_spark.fixtures.images",
    # the DuckDB contract harness: tests and the driver contract only
    "yadf_spark.testing",
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


# ------------------------------------------------------ function level

PERFBENCH_DIR = PKG_DIR.parent / "perfbench"

#: modules whose functions are not checked: fixtures and test harnesses
FUNCTION_CHECK_SKIPPED = {"yadf_spark.fixtures.images", "yadf_spark.testing"}

#: top-level functions and classes outside the entry points' reach on
#: purpose, by module
ALLOWED_UNREACHED_FUNCTIONS = {
    # the Python reference multimodal.sniffed_format_col is tested against
    "yadf_spark.fixtures.codec": {"sniff_format"},
    # text language id, quality and winnowing: contract queries and tests
    "yadf_spark.functions.text": {
        "language_id",
        "quality_features",
        "quality_score",
        "winnow_fingerprints",
    },
    # the fake audio container's encoder: test and contract fixtures
    "yadf_spark.operators.audio": {"encode_fake_audio"},
    # curation families outside the ``curate`` mode's path: contract
    # queries and tests
    "yadf_spark.operators.curation": {
        "_bigrams",
        "_hashed_grams",
        "_lower_tokens",
        "_mix_rates",
        "_word_kgrams",
        "apply_mix",
        "cap_per_group",
        "char_class_stats",
        "chunk_text",
        "classifier_score",
        "decontaminate",
        "dedup_lines",
        "denylist_filter",
        "denylist_hits",
        "dsir_fit",
        "dsir_resample",
        "dsir_weights",
        "fuzzy_decontaminate",
        "lm_score",
        "mix_weights",
        "quantile_threshold_filter",
        "redact_pii",
        "repetition_features",
        "shuffle_shards",
        "source_overlap",
        "split_leakage_report",
        "stratified_sample",
        "tf_idf",
        "vocabulary",
    },
    # exact groups as member lists: contract queries and ladder tests
    "yadf_spark.operators.exact": {"exact_dup_groups"},
    # edit-distance pairs and the anti-join: contract queries and tests
    "yadf_spark.operators.minhash": {"edit_distance_pairs", "near_dup_anti_join"},
    # driver-side references the distributed recall/precision are
    # tested against
    "yadf_spark.operators.pipeline": {
        "dup_pair_precision_driver_reference",
        "dup_pair_recall_driver_reference",
    },
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _exported(tree: ast.Module) -> set[str]:
    """The names a module lists in ``__all__``."""
    for s in tree.body:
        if isinstance(s, ast.Assign) and [getattr(t, "id", None) for t in s.targets] == ["__all__"]:
            return {c.value for c in s.value.elts}
    return set()


def _root_referenced(stmt: ast.stmt) -> set[str]:
    """The names a module-body statement references. An assignment's
    target is not a reference: ``f.attr = ...`` stores into ``f`` and
    does not make ``f`` reachable. Only the assigned value counts."""
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        return _referenced(stmt.value) if stmt.value is not None else set()
    return _referenced(stmt)


def _referenced(node: ast.AST) -> set[str]:
    """Every ``Name`` and ``Attribute`` name under ``node``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def reached_functions() -> tuple[set[tuple[str, str]], set[tuple[str, str]]]:
    """(all, reached) top-level functions and classes of the package, as
    ``(module, name)``.

    Roots are the module bodies (top-level statements other than
    definitions, by ``_root_referenced``) of every module in the entry
    points' import graph, the ``__all__`` of each entry point, and the
    whole of each ``perfbench/*.py``. A reached definition reaches every
    package definition whose name it references; names are matched
    without resolving scopes, which can only count dead code as reached,
    never the reverse."""
    by_name: dict[str, list[tuple[str, ast.AST]]] = {}
    bodies: dict[str, list[ast.stmt]] = {}
    exported: set[str] = set()
    for mod, path in _modules().items():
        tree = ast.parse(path.read_text(), str(path))
        bodies[mod] = [s for s in tree.body if not isinstance(s, _DEFS)]
        if mod in ROOTS:
            exported |= _exported(tree)
        for s in tree.body:
            if isinstance(s, _DEFS):
                by_name.setdefault(s.name, []).append((mod, s))
    todo = [_root_referenced(s) for m in reached_modules() for s in bodies[m]]
    todo += [_referenced(ast.parse(p.read_text(), str(p))) for p in PERFBENCH_DIR.glob("*.py")]
    todo.append(exported)
    reached: set[tuple[str, str]] = set()
    while todo:
        for name in todo.pop():
            for mod, node in by_name.get(name, ()):
                if (mod, name) not in reached:
                    reached.add((mod, name))
                    todo.append(_referenced(node))
    everything = {(mod, name) for name, defs in by_name.items() for mod, _ in defs}
    return everything, reached


def test_every_package_function_is_reached_from_an_entry_point():
    everything, reached = reached_functions()
    unreached = {(m, n) for m, n in everything - reached if m not in FUNCTION_CHECK_SKIPPED}
    allowed = {(m, n) for m, names in ALLOWED_UNREACHED_FUNCTIONS.items() for n in names}
    dead = sorted(f"{m}.{n}" for m, n in unreached - allowed)
    assert not dead, f"functions and classes no CLI mode, pipeline or stream reaches: {dead}"
    stale = sorted(f"{m}.{n}" for m, n in allowed - unreached)
    assert not stale, f"allow-listed functions that are reached or gone: {stale}"
