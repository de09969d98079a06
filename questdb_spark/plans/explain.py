"""Plan inspection: the EXPLAIN surface + scale assertions.

QuestDB asserts operator plans in tests (``test/griffin/ExplainPlanTest.java``,
``ClickBenchTest.java:42``); we do the equivalent against Spark physical
plans — checking the properties that matter at 100 TB rather than exact
plan text: filters pushed to parquet, projections pruned, small dims
broadcast, no Python row-path in hot operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_text(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if a parquet PushedFilters entry mentions ``fragment``."""
    txt = plan_text(df)
    for line in txt.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def read_schema_columns(df: DataFrame, table_fragment: str = "") -> list[str]:
    """Columns actually read from the scan (column pruning check)."""
    txt = plan_text(df)
    cols: list[str] = []
    for line in txt.splitlines():
        if "ReadSchema" in line and (not table_fragment or table_fragment in line):
            inside = line.split("struct<", 1)
            if len(inside) == 2:
                body = inside[1].rsplit(">", 1)[0]
                cols.extend(part.split(":")[0].strip() for part in body.split(",") if part)
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_text(df) or "BroadcastNestedLoopJoin" in plan_text(df)


def shuffle_count(df: DataFrame) -> int:
    txt = plan_text(df, "simple")
    return txt.count("Exchange hashpartitioning") + txt.count("Exchange rangepartitioning")
