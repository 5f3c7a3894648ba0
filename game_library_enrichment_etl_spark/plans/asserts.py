"""Assertions over Spark physical plans (the engine's scale contracts).

A plan assertion failing means Catalyst stopped picking the strategy the
operator was designed around — e.g. a filter no longer reaches the parquet
scan, or a dim-table join stopped broadcasting — which is a performance
regression invisible to row-level correctness tests.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    """The physical (executed) plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def python_nodes(plan: str) -> list[str]:
    """The names of the plan's Python execution nodes (``ArrowEvalPython``,
    ``BatchEvalPython``, ``MapInArrow``, ``MapInPandas``, ...), top-down:
    each is a boundary where rows cross into a Python worker."""
    names = re.findall(r"^(?:[ :|+-]*)(?:\*\(\d+\) )?(\w+)", plan, re.M)
    return [n for n in names if re.search(r"Python|InPandas|InArrow", n)]


def optimized_plan(df: DataFrame) -> str:
    """The optimized logical plan as text."""
    return df._jdf.queryExecution().optimizedPlan().toString()


def assert_pushed_filter(df: DataFrame, fragment: str) -> None:
    """Assert a predicate reached the scan's PushedFilters list."""
    plan = executed_plan(df)
    assert f"PushedFilters: " in plan and fragment in plan, (
        f"filter fragment {fragment!r} not pushed to scan:\n{plan}"
    )


def assert_broadcast_join(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, (
        f"no broadcast join in plan:\n{plan}"
    )


def assert_partial_agg(df: DataFrame, fn_fragment: str = "partial_") -> None:
    """Assert the aggregation does map-side partial aggregation (combine)."""
    plan = executed_plan(df)
    assert fn_fragment in plan, f"no {fn_fragment!r} (map-side combine) in plan:\n{plan}"


def assert_no_cartesian(df: DataFrame) -> None:
    plan = executed_plan(df)
    assert "CartesianProduct" not in plan, f"cartesian product in plan:\n{plan}"
