"""Table-format gate: only ``table.py`` lays out partitioned storage.

Every writer that lands time-partitioned data commits through
``TimeTable``, so a second ``DataFrameWriter.partitionBy`` (or
``DataStreamWriter.partitionBy``) under ``questdb_spark/`` means a private
copy of the table format with its own partition column, dedup and
compaction.  Pure AST scan, no Spark.  ``Window.partitionBy`` chains are
window specs, not writers, and are ignored.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "questdb_spark"

ALLOWED = {
    "questdb_spark/table.py",
    # the dialect's mat-view storage keeps its own date partitions until it
    # moves onto TimeTable with an A/B of its refresh cost (ROADMAP.md open
    # item 2); it runs inside the measured wal_ingest loop
    "questdb_spark/sqlfront/matview_ddl.py",
}


def _chain_root(node: ast.AST) -> ast.AST:
    while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
        node = node.func if isinstance(node, ast.Call) else node.value
    return node


def writer_partition_calls() -> list[str]:
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = path.relative_to(ROOT).as_posix()
        if rel in ALLOWED:
            continue
        for n in ast.walk(ast.parse(path.read_text(), filename=rel)):
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
