"""Table-format gate: only ``table.py`` lays out partitioned storage.

Every writer that lands time-partitioned data commits through
``TimeTable``, so a second ``DataFrameWriter.partitionBy`` (or
``DataStreamWriter.partitionBy``) under ``questdb_spark/`` means a private
copy of the table format with its own partition column, dedup and
compaction.  Pure AST scan, no Spark.  ``Window.partitionBy`` chains are
window specs, not writers, and are ignored.

Nor may any module set ``spark.sql.sources.partitionOverwriteMode`` on the
session: a partition rewrite passes it as a write option, so a later
overwrite elsewhere in the session keeps its own mode.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "questdb_spark"

ALLOWED = {"questdb_spark/table.py"}
OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def _chain_root(node: ast.AST) -> ast.AST:
    while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node


def _modules():
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        yield rel, ast.parse(path.read_text(), filename=rel)


def writer_partition_calls() -> list[str]:
    found = []
    for rel, tree in _modules():
        if rel in ALLOWED:
            continue
        for n in ast.walk(tree):
            if not (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "partitionBy"
            ):
                continue
            root = _chain_root(n.func.value)
            if isinstance(root, ast.Name) and root.id == "Window":
                continue
            found.append(f"{rel}:{n.lineno}")
    return found


def test_partitioned_writes_only_in_table_module():
    calls = writer_partition_calls()
    assert not calls, "partitionBy outside table.py:\n" + "\n".join(calls)


def session_overwrite_mode_sets() -> list[str]:
    found = []
    for rel, tree in _modules():
        for n in ast.walk(tree):
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Attribute)
                and n.func.attr == "set"
                and isinstance(n.func.value, ast.Attribute)
                and n.func.value.attr == "conf"
                and n.args
                and isinstance(n.args[0], ast.Constant)
                and n.args[0].value == OVERWRITE_MODE
            ):
                found.append(f"{rel}:{n.lineno}")
    return found


def test_no_session_wide_partition_overwrite_mode():
    calls = session_overwrite_mode_sets()
    assert not calls, f"conf.set of {OVERWRITE_MODE}:\n" + "\n".join(calls)
