"""Every top-level function and class in the package must be used
somewhere: by the package itself, the tools, the benches or the driver
entry point. A definition nothing references is dead code and should be
deleted, not kept as library code. The tests do not count as a user: a
definition that only its own tests reach is dead code too.

A name counts as referenced when it appears as a name, an attribute or
an imported name in any scanned file. Two kinds of mention do not
count: a definition referring to itself, and the package
``__init__.py`` re-exports (its imports and ``__all__``)."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "wordpress_sql_to_contentstack_exporter_spark"
USERS = [
    ROOT / "tools",
    ROOT / "perfbench",
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
]

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names(node: ast.AST) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
    return out


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _scan() -> tuple[dict[str, list[str]], Counter]:
    """(definition name -> defining modules, reference counts)."""
    defined: dict[str, list[str]] = {}
    refs: Counter = Counter()
    for py in _py_files(PKG):
        tree = ast.parse(py.read_text(), filename=str(py))
        for stmt in tree.body:
            used = _names(stmt)
            if py.name == "__init__.py" and (
                isinstance(stmt, (ast.Import, ast.ImportFrom)) or "__all__" in used
            ):
                continue
            if isinstance(stmt, _DEFS):
                defined.setdefault(stmt.name, []).append(str(py.relative_to(ROOT)))
                del used[stmt.name]
            refs.update(used)
    for user in USERS:
        for py in _py_files(user):
            refs.update(_names(ast.parse(py.read_text(), filename=str(py))))
    return defined, refs


def test_no_unreferenced_top_level_definitions():
    defined, refs = _scan()
    assert "run_export" in defined and refs["run_export"] > 0  # the scan sees the package
    dead = sorted(
        f"{where}::{name}"
        for name, modules in defined.items()
        if refs[name] == 0
        for where in modules
    )
    assert not dead, f"defined but referenced nowhere, delete them: {dead}"
