"""Read scale-relevant properties off executed physical plans."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

# Python-eval operators: every one of these moves rows (Arrow-batched
# or worse) across the JVM<->Python boundary.
PY_EVAL_NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "FlatMapGroupsInPandas",
    "MapInPandas",
    "PythonMapInArrow",
)

JOIN_NODES = (
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
)


# how AQE's root node prints once the frame's own action has run
_FINAL_ROOT = "AdaptiveSparkPlan isFinalPlan=true"
# how a nested adaptive plan (a materialized cache) prints its
# initial copy, below its final one
_INITIAL_HEADER = "+- == Initial Plan =="


def _executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _drop_nested_initial_plans(plan: str) -> str:
    """The plan without any nested `== Initial Plan ==` subtree. A
    materialized cache (InMemoryRelation) prints its stored adaptive
    plan twice, final and initial, so each node inside it would count
    twice; the final copy is the one that ran."""
    out: list[str] = []
    skip = None  # tree prefix of the subtree being dropped
    for line in plan.splitlines():
        if skip is not None and line.startswith(skip):
            continue
        skip = None
        at = line.find(_INITIAL_HEADER)
        if at >= 0:
            skip = line[:at] + "   "
            continue
        out.append(line)
    return "\n".join(out)


def physical_plan(df: DataFrame) -> str:
    """The executed physical plan string, read before any action.

    Once the frame has run an action, AQE prints its final plan and its
    initial plan together, so every node count doubles (a scalar
    subquery's nested adaptive plan adds a third copy). Such a read
    raises instead of returning inflated counts. Only the root is
    checked: a materialized cache under a fresh frame prints its own
    stored plan as final, and that is not a read after this frame's
    action; the cache's initial-plan copy is dropped."""
    plan = _executed_plan(df)
    if plan.startswith(_FINAL_ROOT):
        raise ValueError(
            "physical plan read after the frame ran an action "
            "(isFinalPlan=true); read the plan before the action"
        )
    return _drop_nested_initial_plans(plan)


def final_plan(df: DataFrame) -> str:
    """AQE's final plan string, printed above the initial plan, read
    after the frame's own action (collect()) for the decisions AQE
    makes at runtime, such as skew splits. Raises if the frame has not
    run an action, since the string would hold the initial plan only."""
    plan = _executed_plan(df)
    if not plan.startswith(_FINAL_ROOT):
        raise ValueError(
            "no final plan yet: run an action on this frame (collect()) "
            "before reading its final plan"
        )
    return plan


def plan_counts_str(plan: str) -> dict:
    """Node counts that define a plan's scale shape: every `Exchange`
    substring (the committed baselines use this rule; see
    count_exchanges for shuffles only), file scans, Python-eval
    boundaries and nested-loop joins."""
    return {
        "exchanges": plan.count("Exchange"),
        "scans": plan.count("FileScan"),
        "py_eval": sum(plan.count(n) for n in PY_EVAL_NODES),
        "nested_loop": plan.count("BroadcastNestedLoopJoin")
        + plan.count("CartesianProduct"),
    }


def plan_counts(df: DataFrame) -> dict:
    """plan_counts_str of the frame's physical plan."""
    return plan_counts_str(physical_plan(df))


def count_exchanges(plan: str) -> int:
    """Shuffle exchanges in the plan (broadcast exchanges excluded —
    they ship a small table, not the data)."""
    return len(re.findall(r"\bExchange hashpartitioning|\bExchange rangepartitioning|\bExchange RoundRobinPartitioning|\bExchange SinglePartition", plan))


def has_python_eval(plan: str) -> list[str]:
    """Python-boundary operators present in the plan, if any."""
    return [n for n in PY_EVAL_NODES if n in plan]


def pushed_filters(plan: str) -> list[str]:
    """Every PushedFilters list that reached a file scan."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", plan)


def read_schemas(plan: str) -> list[str]:
    """Every ReadSchema a file scan declares (column-pruning view)."""
    return re.findall(r"ReadSchema: struct<([^>]*)>", plan)


def audit(df: DataFrame) -> dict:
    """One-line scale summary of a DataFrame's physical plan."""
    plan = physical_plan(df)
    joins = [n for n in JOIN_NODES if n in plan]
    return {
        "shuffles": count_exchanges(plan),
        "python_eval": has_python_eval(plan),
        "joins": joins,
        "pushed_filters": [f for f in pushed_filters(plan) if f],
        "read_schemas": read_schemas(plan),
        "window_group_limit": "WindowGroupLimit" in plan,
        "partial_agg": plan.count("HashAggregate") >= 2
        or "partial_" in plan
        or "Partial" in plan,
    }
