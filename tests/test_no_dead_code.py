"""Dead-code gate: every top-level def, class or name assignment
(``x = y``) in ``questdb_spark/`` must be referenced somewhere in the repo's
Python — the package itself, ``tests/``, ``perfbench/`` or the root
scripts.  Pure AST scan, no Spark.

A reference is a name, an attribute or an import of the defined name.  A
statement naming what it defines (recursion, a class using its own name in
its methods, ``X = X + 1``) does not count, and neither does a string that
happens to spell the name (the dialect's SQL-function tables are keyed by
such strings).  Package ``__init__`` re-exports count: they are the
declared public API.  Dunder assignments (``__all__``) are read by Python
itself and are not checked.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "questdb_spark"
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _sources() -> list[Path]:
    return [
        *PACKAGE.rglob("*.py"),
        *(ROOT / "tests").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *ROOT.glob("*.py"),
    ]


def _referenced_names(node: ast.AST) -> set[str]:
    names: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            names.add(n.id)
        elif isinstance(n, ast.Attribute):
            names.add(n.attr)
        elif isinstance(n, ast.alias):
            names.add(n.name.rsplit(".", 1)[-1])
    return names


def _defined_names(top: ast.stmt) -> frozenset[str]:
    if isinstance(top, _DEFS):
        return frozenset({top.name})
    if isinstance(top, ast.Assign):
        targets = top.targets
    elif isinstance(top, ast.AnnAssign) and top.value is not None:
        targets = [top.target]
    else:
        return frozenset()
    return frozenset(
        t.id
        for t in targets
        if isinstance(t, ast.Name) and not (t.id.startswith("__") and t.id.endswith("__"))
    )


def unreferenced_defs() -> list[str]:
    defs: dict[str, list[tuple[Path, int]]] = {}
    refs: dict[str, set[tuple[Path, frozenset[str]]]] = {}
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            owners = _defined_names(top)
            if path.is_relative_to(PACKAGE):
                for owner in owners:
                    defs.setdefault(owner, []).append((path, top.lineno))
            for name in _referenced_names(top):
                refs.setdefault(name, set()).add((path, owners))
    dead = []
    for name, sites in defs.items():
        def_files = {p for p, _ in sites}
        if all(name in o and p in def_files for p, o in refs.get(name, ())):
            dead += [f"{p.relative_to(ROOT)}:{line} {name}" for p, line in sites]
    return sorted(dead)


def test_no_unreferenced_top_level_defs():
    dead = unreferenced_defs()
    assert not dead, "referenced nowhere:\n" + "\n".join(dead)
