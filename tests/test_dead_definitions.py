"""Every top-level definition in the package must be used somewhere: by
the package itself, the tools, the benches or the driver entry point. A
definition nothing references is dead code and should be deleted, not
kept as library code. The tests do not count as a user: a definition
that only its own tests reach is dead code too.

Definitions are top-level functions, classes and module-level
assignments (constants included; dunder names such as ``__all__`` are
not definitions). Each is keyed on (module, name), so a ``zorder_key``
in one module does not keep a same-named one in another module alive.
A mention counts for a definition when it resolves to it:

- a bare name counts for its own module, or for the module it was
  imported from;
- ``from M import n`` and ``alias.n`` (``alias`` bound to module ``M``)
  count for ``M``'s ``n``;
- a name a module imports from another module counts for that other
  module too, so re-exports reach the defining module;
- an attribute of anything that is not a known module (``df.table``)
  counts for every module that defines that name: the scan cannot tell
  which one it means.

Two kinds of mention do not count: a definition referring to itself,
and the package ``__init__.py`` re-exports (its imports and
``__all__``)."""

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


def _py_files(path: Path) -> list[Path]:
    return [path] if path.is_file() else sorted(path.rglob("*.py"))


def _module_name(py: Path) -> str:
    parts = list(py.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


MODULES = {_module_name(py): py for py in _py_files(PKG)}


def _defined(stmt: ast.stmt) -> list[str]:
    """Names a top-level statement defines."""
    if isinstance(stmt, _DEFS):
        return [stmt.name]
    targets = (
        stmt.targets if isinstance(stmt, ast.Assign)
        else [stmt.target] if isinstance(stmt, ast.AnnAssign)
        else []
    )
    return [
        n.id
        for t in targets
        for n in ast.walk(t)
        if isinstance(n, ast.Name) and not n.id.startswith("__")
    ]


def _from_module(node: ast.ImportFrom, module: str | None, is_pkg: bool) -> str:
    """The absolute module an ``ImportFrom`` reads from."""
    if node.level == 0:
        return node.module or ""
    base = (module or "").split(".")
    if not is_pkg:
        base = base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


def _bindings(tree: ast.AST, module: str | None, is_pkg: bool) -> dict[str, set]:
    """Local name -> {("mod", module)} or {("name", module, name)} for
    every import in ``tree``, function-level ones included."""
    out: dict[str, set] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out.setdefault(a.asname, set()).add(("mod", a.name))
                else:
                    head = a.name.split(".")[0]
                    out.setdefault(head, set()).add(("mod", head))
        elif isinstance(node, ast.ImportFrom):
            src = _from_module(node, module, is_pkg)
            for a in node.names:
                target = f"{src}.{a.name}"
                entry = ("mod", target) if target in MODULES else ("name", src, a.name)
                out.setdefault(a.asname or a.name, set()).add(entry)
    return out


class _Scan:
    def __init__(self) -> None:
        self.defined: set[tuple[str, str]] = set()
        self.refs: Counter = Counter()
        self.any_refs: Counter = Counter()
        # module -> name -> (source module, source name) of its
        # top-level ``from ... import``s, for following re-exports
        self.exports: dict[str, dict[str, tuple[str, str]]] = {}
        self.trees: dict[str, tuple[ast.Module, Path]] = {}
        for module, py in MODULES.items():
            tree = ast.parse(py.read_text(), filename=str(py))
            self.trees[module] = (tree, py)
            is_pkg = py.name == "__init__.py"
            self.exports[module] = {}
            for stmt in tree.body:
                if isinstance(stmt, ast.ImportFrom):
                    src = _from_module(stmt, module, is_pkg)
                    for a in stmt.names:
                        if f"{src}.{a.name}" not in MODULES:
                            self.exports[module][a.asname or a.name] = (src, a.name)
                for name in _defined(stmt):
                    self.defined.add((module, name))

    def credit(self, into: Counter, module: str, name: str, seen=None) -> None:
        seen = set() if seen is None else seen
        if (module, name) in seen:
            return
        seen.add((module, name))
        into[(module, name)] += 1
        if name in self.exports.get(module, {}):
            self.credit(into, *self.exports[module][name], seen)

    def _modules_of(self, node: ast.expr, binds: dict[str, set]) -> set[str]:
        if isinstance(node, ast.Name):
            return {b[1] for b in binds.get(node.id, ()) if b[0] == "mod"}
        if isinstance(node, ast.Attribute):
            return {
                f"{m}.{node.attr}"
                for m in self._modules_of(node.value, binds)
                if f"{m}.{node.attr}" in MODULES
            }
        return set()

    def mentions(
        self, node: ast.AST, module: str | None, is_pkg: bool, binds: dict[str, set]
    ) -> Counter:
        out: Counter = Counter()
        for n in ast.walk(node):
            if isinstance(n, ast.ImportFrom):
                src = _from_module(n, module, is_pkg)
                for a in n.names:
                    if f"{src}.{a.name}" not in MODULES:
                        self.credit(out, src, a.name)
            elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                named = [b for b in binds.get(n.id, ()) if b[0] == "name"]
                for b in named:
                    self.credit(out, b[1], b[2])
                if not named and module is not None and (module, n.id) in self.defined:
                    out[(module, n.id)] += 1
            elif isinstance(n, ast.Attribute):
                owners = self._modules_of(n.value, binds)
                if owners:
                    for m in owners:
                        if f"{m}.{n.attr}" not in MODULES:
                            self.credit(out, m, n.attr)
                else:
                    self.any_refs[n.attr] += 1
        return out

    def run(self) -> None:
        for module, (tree, py) in self.trees.items():
            is_pkg = py.name == "__init__.py"
            binds = _bindings(tree, module, is_pkg)
            for stmt in tree.body:
                if is_pkg and (
                    isinstance(stmt, (ast.Import, ast.ImportFrom))
                    or "__all__" in {n.id for n in ast.walk(stmt) if isinstance(n, ast.Name)}
                ):
                    continue
                used = self.mentions(stmt, module, is_pkg, binds)
                for name in _defined(stmt):
                    del used[(module, name)]
                self.refs.update(used)
        for user in USERS:
            for py in _py_files(user):
                tree = ast.parse(py.read_text(), filename=str(py))
                self.refs.update(self.mentions(tree, None, False, _bindings(tree, None, False)))

    def dead(self) -> list[str]:
        return sorted(
            f"{MODULES[m].relative_to(ROOT)}::{name}"
            for (m, name) in self.defined
            if self.refs[(m, name)] == 0 and self.any_refs[name] == 0
        )


def test_no_unreferenced_top_level_definitions():
    scan = _Scan()
    scan.run()
    pipeline = f"{PKG.name}.plans.pipeline"
    assert scan.refs[(pipeline, "run_export")] > 0  # the scan sees the package
    dead = scan.dead()
    assert not dead, f"defined but referenced nowhere, delete them: {dead}"
