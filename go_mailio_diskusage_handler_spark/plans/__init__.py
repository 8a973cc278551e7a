"""Physical-plan inspection helpers used by tests and tuning loops."""

from __future__ import annotations

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def shuffle_count(df: DataFrame) -> int:
    return executed_plan(df).count("Exchange hashpartitioning")


def plan_shape(plan: str) -> dict[str, int]:
    """The shape facts ``PLAN_BASELINE.json`` records for one executed
    plan: hash shuffles, broadcast and sort-merge joins, and
    nested-loop or cartesian joins.  Counts are static: a subplan that
    feeds k consumers counts k times."""
    return {
        "shuffles": plan.count("Exchange hashpartitioning"),
        "broadcast_joins": plan.count("BroadcastHashJoin"),
        "sort_merge_joins": plan.count("SortMergeJoin"),
        "nested_loops": plan.count("NestedLoopJoin") + plan.count("CartesianProduct"),
    }
