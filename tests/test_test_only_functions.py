"""Shrink-only gate on package functions that nothing but tests reach.

AST-scans the package's top-level undecorated functions (decorated ones
are registered queries, reached through the registry). A function with
no reference from non-test code must be on ``TEST_ONLY`` — and an entry
there must still exist and still lack a non-test caller. So the list
can only shrink: new dead or test-only code fails here, and so does a
stale entry once its function is deleted or wired into the program.
Spark-free.
"""

from __future__ import annotations

import ast
import os

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_PKG = os.path.join(_ROOT, "datalakes_and_data_integration_spark")

TEST_ONLY = frozenset(
    {
        "build_dag",
        "build_silver_incremental",
        "compact_parquet",
        "compact_selected",
        "plan_compaction",
        "read_evolved",
        "schema_diff",
        "read_jsonl",
        "write_jsonl",
        "read_orc",
        "write_orc",
        "register_landing_source",
        "resize_images",
        "scd2_merge",
        "upsert_parquet_additive",
        "write_postgres_copy",
        "zorder_layout",
    }
)


def _py_files(top: str, skip_tests: bool):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [
            d
            for d in dirnames
            if not d.startswith(".") and not (skip_tests and d == "tests")
        ]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), path)


def _referenced_names(tree: ast.Module) -> set[str]:
    """Every identifier a module uses: names, attributes and imported
    names."""
    out: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.alias):
            out.add(node.name.rsplit(".", 1)[-1])
    return out


def _undecorated_functions() -> set[str]:
    return {
        node.name
        for path in _py_files(_PKG, skip_tests=False)
        for node in _parse(path).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.decorator_list
    }


def _non_test_references() -> set[str]:
    """Identifiers used anywhere in the repo outside test directories:
    the package itself, tools/, bench.py, the driver entry point."""
    refs: set[str] = set()
    for path in _py_files(_ROOT, skip_tests=True):
        refs |= _referenced_names(_parse(path))
    return refs


def test_test_only_functions_match_the_allowlist():
    funcs = _undecorated_functions()
    refs = _non_test_references()
    unreached = {f for f in funcs if f not in refs}
    new = sorted(unreached - TEST_ONLY)
    assert not new, (
        f"functions with no non-test caller: {new} — wire them into the "
        "program or delete them (TEST_ONLY only shrinks)"
    )
    stale = sorted(TEST_ONLY - unreached)
    assert not stale, (
        f"TEST_ONLY entries deleted or now called by the program: "
        f"{stale} — remove them from the list"
    )
