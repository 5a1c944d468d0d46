"""Reachability gate: every package definition must be reachable from a
program entry point, not merely called by tests.

An AST-only closure (Spark-free). The roots are:

- every decorated top-level function in the package (registered queries,
  reached through the registry);
- names used by module-level statements of the package, excluding
  imports and ``__all__`` (so a re-export is not a use);
- names used in non-test Python outside the package: ``tools/``,
  ``bench.py``, ``__spark_entry__.py`` and ``perfbench/`` without its
  tests;
- ``EXTERNAL``: entry points whose callers live outside the repository.

From the roots the walk follows identifiers (names, attributes and
identifier-like string constants) through the bodies of the top-level
functions and classes they name. The test fails when a top-level
function or class is unreached, when an ``EXTERNAL`` name no longer
exists, or when an ``EXTERNAL`` name becomes reachable from the other
roots. So ``EXTERNAL`` only shrinks.
"""

from __future__ import annotations

import ast
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_ROOT, "datalakes_and_data_integration_spark")
_OUTSIDE = ("tools", "bench.py", "__spark_entry__.py", "perfbench")

EXTERNAL = {
    "build_dag": "called by an Airflow scheduler; reaches the task_* callables",
    "write_jdbc_overwrite": "the curated-zone JDBC sink (tests/test_jdbc_sink.py)",
    "write_postgres_copy": "the reference's Postgres curated target "
    "(tests/test_postgres_sink.py)",
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _py_files(top: str):
    if top.endswith(".py"):
        yield top
        return
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [
            d for d in dirnames if not d.startswith(".") and d != "tests"
        ]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _uses(node: ast.AST) -> set[str]:
    """Identifiers a subtree uses: names, attributes and identifier-like
    string constants (``getattr``/registry lookups by name)."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if n.value.isidentifier():
                out.add(n.value)
    return out


def _is_all(stmt: ast.stmt) -> bool:
    targets = getattr(stmt, "targets", None) or [getattr(stmt, "target", None)]
    return any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets)


def _scan():
    """(defs: name -> [def nodes], package roots)."""
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for path in _py_files(_PKG):
        for stmt in _parse(path).body:
            if isinstance(stmt, _DEFS):
                defs.setdefault(stmt.name, []).append(stmt)
                if stmt.decorator_list and not isinstance(stmt, ast.ClassDef):
                    roots.add(stmt.name)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                if not _is_all(stmt):
                    roots |= _uses(stmt)
    for rel in _OUTSIDE:
        for path in _py_files(os.path.join(_ROOT, rel)):
            roots |= _uses(_parse(path))
    return defs, roots


def _closure(defs: dict[str, list[ast.AST]], roots: set[str]) -> set[str]:
    seen: set[str] = set()
    todo = [r for r in roots if r in defs]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for node in defs[name]:
            todo.extend(u for u in _uses(node) if u in defs and u not in seen)
    return seen


def test_test_only_functions_match_the_allowlist():
    defs, roots = _scan()
    missing = sorted(set(EXTERNAL) - set(defs))
    assert not missing, (
        f"EXTERNAL entries no longer defined: {missing} — remove them "
        "from the list"
    )
    reached = _closure(defs, roots)
    internal = sorted(set(EXTERNAL) & reached)
    assert not internal, (
        f"EXTERNAL entries now reached by the program: {internal} — "
        "remove them from the list (EXTERNAL only shrinks)"
    )
    unreached = sorted(set(defs) - _closure(defs, roots | set(EXTERNAL)))
    assert not unreached, (
        f"{len(unreached)} top-level definitions no query, pipeline stage "
        f"or tool reaches: {unreached} — wire them into the program or "
        "delete them"
    )
