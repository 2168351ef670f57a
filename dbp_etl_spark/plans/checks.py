"""Assertions over the optimized physical plan.

These encode the engine's performance invariants as testable facts —
the things `.explain("formatted")` is eyeballed for, made regression-
proof:

* filters reach the parquet scan (PushedFilters),
* column pruning happened (ReadSchema carries only needed columns),
* small dims broadcast (BroadcastHashJoin, no shuffle on the dim side),
* the exchange count of a plan.

The merge write's layout (one bucket exchange, after the html->text
UDF, and one data file per dirty bucket) is pinned by running the
merge, not by a plan check: see tests/test_merge.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), mode
    )


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    plan = plan_str(df)
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
    assert pushed, f"no PushedFilters in plan:\n{plan}"
    assert any(fragment in ln for ln in pushed), (
        f"filter fragment {fragment!r} not pushed; PushedFilters lines: {pushed}"
    )


def assert_read_schema_pruned(df: DataFrame, max_columns: int) -> None:
    plan = plan_str(df)
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            schema_part = ln.split("ReadSchema:", 1)[1]
            ncols = schema_part.count(":")
            assert ncols <= max_columns, f"scan reads {ncols} cols (> {max_columns}): {ln}"
            return
    raise AssertionError(f"no ReadSchema in plan:\n{plan}")


def assert_broadcast_join(df: DataFrame, at_least: int = 1) -> None:
    plan = plan_str(df, "simple")
    n = plan.count("BroadcastHashJoin")
    assert n >= at_least, f"expected >= {at_least} BroadcastHashJoin, got {n}:\n{plan}"


def count_exchanges(df: DataFrame) -> int:
    return plan_str(df, "simple").count("Exchange")
