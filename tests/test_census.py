"""Reference census: every top-level name in ``sparvi_spark/`` has a user.

AST only, no Spark session. A name counts as used when some other
top-level statement in the library, ``scripts/``, ``tests/``,
``perfbench/`` or ``bench.py`` mentions it as a ``Name`` or an
``Attribute``, or as a string literal in a lookup position: the name
argument of ``getattr``/``hasattr``/``setattr``/``patch.object``, a
``"pkg.mod:Class"`` path, or a registry row that names its module
(``("sparvi_spark.engine", "profile_table", ...)``). Any other string
literal — a column alias like ``"health_score"`` — is data, not a use.
Imports and ``__all__`` entries do not count either: a re-export is not
a use. Imports, at module level and inside function bodies, must each
be used.

A library name whose only users are tests must be declared in
``TEST_ONLY``: public API kept on purpose with no library caller. A new
test-only name, or a declared one that gained a caller, fails the census.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIB = ROOT / "sparvi_spark"
_PATH_LIKE = re.compile(r"[A-Za-z_][\w.:]*")
_IDENT = re.compile(r"[A-Za-z_]\w*")
# calls whose second argument names an attribute
_LOOKUPS = {"getattr", "hasattr", "setattr", "delattr", "object"}


def _sources() -> list[Path]:
    files = [ROOT / "bench.py"]
    for d in ("sparvi_spark", "scripts", "tests", "perfbench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _str(node: ast.AST) -> str | None:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return None


def _mentions(stmt: ast.stmt) -> set[str]:
    """Identifiers a top-level statement mentions, imports excluded."""
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return set()
    if (isinstance(stmt, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__"
                    for t in stmt.targets)):
        return set()
    out = set()
    for node in ast.walk(stmt):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.Call):
            f = node.func
            fname = getattr(f, "id", None) or getattr(f, "attr", None)
            if fname in _LOOKUPS and len(node.args) > 1:
                out.add(_str(node.args[1]) or "")
        elif isinstance(node, (ast.Tuple, ast.List)):
            strs = [v for v in map(_str, node.elts) if v is not None]
            if any(v.startswith("sparvi_spark.") for v in strs):
                out.update(v for v in strs if _IDENT.fullmatch(v))
        value = _str(node)
        if (value is not None and _PATH_LIKE.fullmatch(value)
                and ("." in value or ":" in value)):
            out.update(re.split(r"[.:]", value))
    return out


def _defined(stmt: ast.stmt) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    if isinstance(stmt, ast.Assign):
        return [t.id for t in stmt.targets if isinstance(t, ast.Name)]
    if isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
        return [stmt.target.id]
    return []


def _parse_all() -> dict[Path, ast.Module]:
    return {p: ast.parse(p.read_text(), str(p)) for p in _sources()}


def unreferenced_defs(trees: dict[Path, ast.Module],
                      skip: Path | None = None) -> list[str]:
    """``module:name`` for each library top-level name no other top-level
    statement mentions (statements under ``skip`` do not count)."""
    uses: dict[str, set[tuple[Path, int]]] = {}
    for path, tree in trees.items():
        if skip is not None and skip in path.parents:
            continue
        for i, stmt in enumerate(tree.body):
            for name in _mentions(stmt):
                uses.setdefault(name, set()).add((path, i))
    out = []
    for path, tree in trees.items():
        if LIB not in path.parents:
            continue
        for i, stmt in enumerate(tree.body):
            for name in _defined(stmt):
                if _is_dunder(name):
                    continue
                if not uses.get(name, set()) - {(path, i)}:
                    out.append(f"{path.relative_to(ROOT)}:{name}")
    return out


def unused_imports(trees: dict[Path, ast.Module]) -> list[str]:
    """``module:name`` for each module-level import a non-``__init__``
    library module never uses."""
    out = []
    for path, tree in trees.items():
        if LIB not in path.parents or path.name == "__init__.py":
            continue
        used = set().union(*(_mentions(stmt) for stmt in tree.body))
        for stmt in tree.body:
            if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
                continue
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                for alias in stmt.names:
                    bound = (alias.asname or alias.name).split(".")[0]
                    if bound != "*" and bound not in used:
                        out.append(f"{path.relative_to(ROOT)}:{bound}")
    return out


def _scope_imports(stmts: list[ast.stmt]) -> list[ast.stmt]:
    """Import statements of one function scope: nested functions and
    classes are their own scopes, and imports guarded by ``except
    ImportError`` are availability probes, not uses."""
    out = []
    for stmt in stmts:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            out.append(stmt)
        elif isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            continue
        elif isinstance(stmt, ast.Try) and any(
                h.type is not None and "ImportError" in ast.unparse(h.type)
                for h in stmt.handlers):
            out += _scope_imports(stmt.handlers + stmt.orelse
                                  + stmt.finalbody)
        else:
            for field in ("body", "orelse", "finalbody", "handlers",
                          "cases"):
                out += _scope_imports(getattr(stmt, field, []))
    return out


def unused_function_imports(trees: dict[Path, ast.Module]) -> list[str]:
    """``module:function:name`` for each import inside a library function
    body that nothing in the function (closures included) mentions."""
    out = []
    for path, tree in trees.items():
        if LIB not in path.parents:
            continue
        for fn in ast.walk(tree):
            if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            used = {node.id for node in ast.walk(fn)
                    if isinstance(node, ast.Name)}
            for stmt in _scope_imports(fn.body):
                for alias in stmt.names:
                    bound = (alias.asname or alias.name).split(".")[0]
                    if bound not in used:
                        out.append(
                            f"{path.relative_to(ROOT)}:{fn.name}:{bound}")
    return out


# Public API whose only callers are tests, each kept on purpose: engine
# surface documented in README/COVERAGE (streaming, sources, automation),
# scalar translations of the reference's SQL (functions), and operators
# graded by their own tests rather than an oracle slot.
TEST_ONLY = {
    "sparvi_spark/automation.py:due_jobs",
    "sparvi_spark/config.py:set_scale_mode",
    "sparvi_spark/functions/__init__.py:similar_to",
    "sparvi_spark/functions/__init__.py:not_regexp",
    "sparvi_spark/functions/__init__.py:count_filter",
    "sparvi_spark/functions/__init__.py:datediff_hours",
    "sparvi_spark/operators/anomalies.py:moving_average_anomalies",
    "sparvi_spark/operators/bloom.py:bloom_filter_members",
    "sparvi_spark/operators/classify.py:train_nb_classifier",
    "sparvi_spark/operators/classify.py:save_classifier",
    "sparvi_spark/operators/classify.py:load_classifier",
    "sparvi_spark/operators/incremental.py:incremental_profile",
    "sparvi_spark/operators/incremental.py:bucket_bounds",
    "sparvi_spark/operators/joins.py:salted_join",
    "sparvi_spark/operators/joins.py:broadcast_threshold_join",
    "sparvi_spark/operators/sampling.py:temperature_sample",
    "sparvi_spark/operators/text.py:repetition_features",
    "sparvi_spark/operators/text.py:dedup_lines_in_doc",
    "sparvi_spark/operators/text.py:pack_summary",
    "sparvi_spark/operators/text.py:binpack_summary",
    "sparvi_spark/operators/trends.py:anomaly_summary",
    "sparvi_spark/operators/trends.py:fetch_metric_history",
    "sparvi_spark/operators/validation.py:evaluate_rule",
    "sparvi_spark/operators/vectors.py:l2_normalize_expr",
    "sparvi_spark/operators/vectors.py:pca_train",
    "sparvi_spark/operators/vectors.py:pca_project",
    "sparvi_spark/plans/audit.py:assert_plan",
    "sparvi_spark/plans/collection.py:collect_metadata",
    "sparvi_spark/sources/bucketing.py:write_bucketed",
    "sparvi_spark/sources/bucketing.py:colocated_join",
    "sparvi_spark/sources/export.py:leakage_safe_split",
    "sparvi_spark/sources/layout.py:write_zordered",
    "sparvi_spark/sources/layout.py:file_column_spans",
    "sparvi_spark/sources/readers.py:read_table",
    "sparvi_spark/sources/readers.py:read_corpus",
    "sparvi_spark/sources/writers.py:compact_table",
    "sparvi_spark/streaming/dedup.py:streaming_dedup_exact",
    "sparvi_spark/streaming/dedup.py:streaming_dedup_fingerprint",
    "sparvi_spark/streaming/detect.py:streaming_detection",
    "sparvi_spark/streaming/monitor.py:stream_source",
    "sparvi_spark/streaming/monitor.py:windowed_counts",
    "sparvi_spark/streaming/monitor.py:windowed_quality",
    "sparvi_spark/streaming/monitor.py:freshness",
    "sparvi_spark/streaming/profile.py:streaming_incremental_profile",
    "sparvi_spark/streaming/sessions.py:streaming_sessions",
    "sparvi_spark/streaming/stateful.py:running_metrics",
}


def test_test_only_names_are_declared():
    """A library name only tests use is either declared public API or
    dead weight (a second copy of logic the library has elsewhere, like
    a helper whose graded twin lives in a check module)."""
    got = set(unreferenced_defs(_parse_all(), skip=ROOT / "tests"))
    assert got == TEST_ONLY, (
        "undeclared test-only names:\n  "
        + "\n  ".join(sorted(got - TEST_ONLY))
        + "\ndeclared names that are no longer test-only:\n  "
        + "\n  ".join(sorted(TEST_ONLY - got)))


def test_every_library_name_is_referenced_and_every_import_used():
    trees = _parse_all()
    dead = unreferenced_defs(trees)
    unused = unused_imports(trees) + unused_function_imports(trees)
    assert not dead and not unused, (
        "unreferenced top-level names:\n  " + "\n  ".join(dead)
        + "\nunused imports:\n  " + "\n  ".join(unused))


def _pinned_sys_path(tree: ast.Module) -> list[str]:
    """String literals a script puts on ``sys.path``."""
    out = []
    for node in ast.walk(tree):
        if (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("insert", "append")
                and ast.unparse(node.func.value) == "sys.path"):
            out += [a.value for a in node.args
                    if isinstance(a, ast.Constant) and isinstance(a.value, str)]
    return out


def test_scripts_derive_the_repo_root_from_their_own_path():
    """A script that puts a fixed checkout path on ``sys.path`` imports
    that checkout's ``sparvi_spark`` even when it is run from another copy
    of the repo, so a snapshot taken from a parent checkout silently
    snapshots the wrong tree. Scripts derive the root from ``__file__``."""
    pinned = {p.name: paths for p in sorted((ROOT / "scripts").glob("*.py"))
              if (paths := _pinned_sys_path(ast.parse(p.read_text())))}
    assert not pinned, f"scripts with a hard-coded sys.path entry: {pinned}"
