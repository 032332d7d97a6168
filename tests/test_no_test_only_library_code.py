"""Guard: library code that only tests call does not grow back.

An AST scan (docstrings and comments never count as a reference) over
every public top-level name in ``merl_etl_spark/``: each must be
referenced outside its own definition, from library code (its own module
or another one), ``perfbench/``, ``tools/``, ``bench.py`` or
``__spark_entry__.py``.  A function registered with ``@register`` is a
registered query, reached through the registry.  Tests do not count as
callers: a name only a test reaches is a second path with no caller.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
LIBRARY = ROOT / "merl_etl_spark"

# name → the ROADMAP direction that wires it into a job
ALLOWED = {
    "compact_parquet": "direction 1: daily compaction in the hourly cycle",
    "run_with_audit": "direction 2: engine-owned job entry points",
    "observe_stats": "direction 2: engine-owned job entry points",
}


def _callers() -> list[Path]:
    files = sorted(LIBRARY.rglob("*.py"))
    files += sorted(p for p in (ROOT / "perfbench").glob("*.py") if not p.name.startswith("test_"))
    files += sorted((ROOT / "tools").glob("*.py"))
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return files


def _is_registered(node: ast.AST) -> bool:
    for deco in getattr(node, "decorator_list", ()):
        fn = deco.func if isinstance(deco, ast.Call) else deco
        if isinstance(fn, ast.Name) and fn.id == "register":
            return True
    return False


def _definitions(tree: ast.Module) -> dict[str, ast.stmt]:
    defs: dict[str, ast.stmt] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not _is_registered(node):
                defs[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                if isinstance(t, ast.Name):
                    defs[t.id] = node
    return {n: d for n, d in defs.items() if not n.startswith("_")}


def _references(tree: ast.Module, skip: ast.stmt | None = None, imports: bool = True) -> set[str]:
    skipped = set(map(id, ast.walk(skip))) if skip is not None else set()
    names: set[str] = set()
    for node in ast.walk(tree):
        if id(node) in skipped:
            continue
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias) and imports:
            names.add(node.name.rsplit(".", 1)[-1])
    return names


def unreferenced_library_names() -> list[str]:
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _callers()}
    # a package __init__ that re-exports a name does not call it
    everywhere = {p: _references(t, imports=p.name != "__init__.py") for p, t in trees.items()}
    flagged = []
    for path in sorted(LIBRARY.rglob("*.py")):
        tree = trees[path]
        for name, node in _definitions(tree).items():
            if name in ALLOWED:
                continue
            own = _references(tree, skip=node)
            others = (refs for p, refs in everywhere.items() if p != path)
            if name not in own and not any(name in refs for refs in others):
                flagged.append(f"{path.relative_to(ROOT)}::{name}")
    return flagged


def test_every_public_library_name_has_a_non_test_caller():
    assert unreferenced_library_names() == []


def test_allowlist_names_still_exist():
    defined = set()
    for path in LIBRARY.rglob("*.py"):
        defined |= set(_definitions(ast.parse(path.read_text())))
    assert set(ALLOWED) <= defined
