"""Physical-plan introspection helpers.

The engine's scale guarantees are plan-shaped (pushdown reached the scan,
small dims broadcast, aggregations partial, no cartesian products), so both
the test suite (tests/test_plans.py) and ad-hoc tuning assert on the
executed plan text through these helpers instead of re-deriving the plan
string incantations everywhere.
"""

from .asserts import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_partial_agg,
    assert_pushed_filter,
    executed_plan,
    optimized_plan,
    python_nodes,
)

__all__ = [
    "executed_plan",
    "optimized_plan",
    "python_nodes",
    "assert_pushed_filter",
    "assert_broadcast_join",
    "assert_partial_agg",
    "assert_no_cartesian",
]
