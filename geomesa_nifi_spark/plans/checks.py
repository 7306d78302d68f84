"""Physical-plan assertions — the engine's "explain and iterate" harness.

The reference has no optimizer (SURVEY.md §4); on Spark the optimizer IS the
engine, so these helpers let tests pin the physical properties that matter
at 100 TB: filters reaching the parquet scan, column pruning, the number
of shuffles, and any operator that must (or must not) appear in the plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )


def assert_in_plan(df: DataFrame, *needles: str, mode: str = "formatted") -> str:
    plan = plan_str(df, mode)
    for needle in needles:
        assert needle in plan, f"expected {needle!r} in plan:\n{plan}"
    return plan


def assert_not_in_plan(df: DataFrame, *needles: str, mode: str = "formatted") -> str:
    plan = plan_str(df, mode)
    for needle in needles:
        assert needle not in plan, f"did not expect {needle!r} in plan:\n{plan}"
    return plan


def assert_pushed_filters(df: DataFrame, *fragments: str) -> str:
    """Filters must reach the parquet scan (PushedFilters: [...])."""
    plan = plan_str(df)
    assert "PushedFilters: [" in plan, f"no pushed filters in plan:\n{plan}"
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    joined = "\n".join(pushed)
    for frag in fragments:
        assert frag in joined, f"filter {frag!r} not pushed; got {joined}\n{plan}"
    return plan


def assert_read_schema_only(df: DataFrame, columns: set[str]) -> str:
    """Column pruning: the scan's ReadSchema must contain exactly
    ``columns`` (a projection of 2 columns must not read 10)."""
    plan = plan_str(df)
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, f"no ReadSchema in plan:\n{plan}"
    line = read[0]
    got = {
        part.split(":")[0].strip()
        for part in line.split("struct<", 1)[1].rsplit(">", 1)[0].split(",")
        if part.strip()
    }
    assert got == columns, f"ReadSchema {got} != expected {columns}\n{plan}"
    return plan


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffles (Exchange operators) in the physical plan."""
    plan = plan_str(df, "simple")
    return sum(
        1 for ln in plan.splitlines() if "Exchange" in ln and "Reused" not in ln
    )
