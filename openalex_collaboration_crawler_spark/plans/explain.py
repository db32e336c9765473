"""Physical-plan inspection: assert the plan you meant to write.

Used by tests (tests/test_plans.py) to lock in the scale-critical
properties — parquet filter pushdown, column pruning, broadcast vs
sort-merge join choice, whole-stage codegen presence — so a
refactor that silently degrades the plan fails CI, not production.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan's PushedFilters mentions ``fragment``."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters" in line and fragment in line:
            return True
    return False


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names in the parquet ReadSchema (pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)
            if len(inner) == 2:
                body = inner[1].rsplit(">", 1)[0]
                cols.extend(part.split(":")[0].strip() for part in body.split(",") if part)
    return cols


def join_kinds(df: DataFrame) -> list[str]:
    plan = formatted_plan(df)
    kinds = []
    for marker in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin", "BroadcastNestedLoopJoin"):
        if marker in plan:
            kinds.append(marker)
    return kinds
