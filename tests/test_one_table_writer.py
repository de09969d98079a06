"""Table-format gate: only ``table.py`` lays out partitioned storage.

Every writer that lands time-partitioned data commits through
``TimeTable``, so a second ``DataFrameWriter.partitionBy`` (or
``DataStreamWriter.partitionBy``) under ``questdb_spark/`` means a private
copy of the table format with its own partition column, dedup and
compaction.  Pure AST scan, no Spark.  ``Window.partitionBy`` chains are
window specs, not writers, and are ignored.

Every ``.parquet(`` call on a writer chain (anything but a
``spark.read`` / ``readStream`` chain) lives in ``table.py`` too: a
sink that writes its own parquet bypasses the partition commit and its
crash recovery.  The one exception is the COPY TO export,
``sources/catalog.copy_to``, which writes a user's file, not a table.

Nor may the string ``partitionOverwriteMode`` appear anywhere under
``questdb_spark/``: partitions are replaced by the partition commit, not
by Spark's dynamic overwrite, and a session-wide mode would leak into
every later overwrite in the session.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "questdb_spark"

ALLOWED = {"questdb_spark/table.py"}
# (module, function) pairs allowed a parquet writer outside table.py
PARQUET_WRITERS = {("questdb_spark/sources/catalog.py", "copy_to")}
OVERWRITE_MODE = "partitionOverwriteMode"


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


def _is_parquet_writer(n: ast.AST) -> bool:
    """A ``.parquet(...)`` call on a DataFrameWriter: the nearest
    ``write`` / ``read`` step of its chain is a write, or the chain has
    neither (a name bound to a writer)."""
    if not (
        isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "parquet"
    ):
        return False
    node = n.func.value
    while isinstance(node, (ast.Attribute, ast.Call, ast.Subscript)):
        if isinstance(node, ast.Attribute) and node.attr in ("write", "writeStream"):
            return True
        if isinstance(node, ast.Attribute) and node.attr in ("read", "readStream"):
            return False
        node = node.func if isinstance(node, ast.Call) else node.value
    return True


def parquet_writer_calls() -> list[str]:
    found = []
    for rel, tree in _modules():
        if rel in ALLOWED:
            continue
        exempt = {
            id(n)
            for fn in tree.body
            if isinstance(fn, ast.FunctionDef) and (rel, fn.name) in PARQUET_WRITERS
            for n in ast.walk(fn)
        }
        found += [
            f"{rel}:{n.lineno}"
            for n in ast.walk(tree)
            if id(n) not in exempt and _is_parquet_writer(n)
        ]
    return found


def test_parquet_writes_only_in_table_module():
    calls = parquet_writer_calls()
    assert not calls, "parquet writer outside table.py:\n" + "\n".join(calls)


def overwrite_mode_mentions() -> list[str]:
    return [
        f"{path.relative_to(ROOT).as_posix()}:{i}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if OVERWRITE_MODE in line
    ]


def test_no_session_wide_partition_overwrite_mode():
    """Bans the mode's name anywhere, which covers a session-wide set."""
    found = overwrite_mode_mentions()
    assert not found, f"{OVERWRITE_MODE} under questdb_spark/:\n" + "\n".join(found)
