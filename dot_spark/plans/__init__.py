"""Physical-plan inspection utilities.

The engine's scale posture is enforced at the PLAN level (SURVEY §4):
filters/projections must reach the parquet scan, small dims must
broadcast, aggregations must keep their map-side partial phase, and
the hot path must stay inside the JVM. These helpers read those
properties off a DataFrame's executed plan so tests (and the
tools/plan_report.py CLI) can assert them instead of eyeballing
`.explain` output.
"""

from dot_spark.plans.audit import (
    audit,
    count_exchanges,
    final_plan,
    has_python_eval,
    physical_plan,
    plan_counts,
    plan_counts_str,
    pushed_filters,
    read_schemas,
)

__all__ = [
    "audit",
    "count_exchanges",
    "final_plan",
    "has_python_eval",
    "physical_plan",
    "plan_counts",
    "plan_counts_str",
    "pushed_filters",
    "read_schemas",
]
