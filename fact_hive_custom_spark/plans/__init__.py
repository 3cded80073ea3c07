"""Plan inspection utilities (SURVEY.md §4)."""

from fact_hive_custom_spark.plans.inspect import (
    executed_plan,
    has_whole_stage_codegen,
    pushed_filters,
    read_schema,
    uses_python,
)

__all__ = [
    "executed_plan",
    "pushed_filters",
    "read_schema",
    "has_whole_stage_codegen",
    "uses_python",
]
