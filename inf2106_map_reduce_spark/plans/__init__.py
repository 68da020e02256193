"""Physical-plan inspection helpers (the ".explain and iterate" loop
from the build brief, made assertable in tests)."""

from inf2106_map_reduce_spark.plans.inspect import (
    explain_str,
    has_broadcast_join,
    pushed_filters,
    run_with_plans,
    scan_columns,
    data_shuffle_count,
    shuffle_count,
)

__all__ = [
    "explain_str",
    "has_broadcast_join",
    "pushed_filters",
    "run_with_plans",
    "scan_columns",
    "data_shuffle_count",
    "shuffle_count",
]
