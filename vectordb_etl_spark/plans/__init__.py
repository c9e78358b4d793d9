"""Plan introspection helpers.

No custom Catalyst rules are needed for capability parity (SURVEY.md §4) —
this package is the *inspection* side: utilities to assert the plan shapes
the engine promises (pushdown, pruning, broadcast, bounded shuffles), used
by tests/test_plans.py and available to users tuning at scale.
"""

from vectordb_etl_spark.plans.inspect import (
    executed_plan,
    pushed_filters,
    read_schema,
    count_exchanges,
    has_broadcast_join,
    has_partition_filter,
    uses_python_eval,
    py4j_commands,
)

__all__ = [
    "executed_plan",
    "pushed_filters",
    "read_schema",
    "count_exchanges",
    "has_broadcast_join",
    "has_partition_filter",
    "uses_python_eval",
    "py4j_commands",
]
