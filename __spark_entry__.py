"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (keyed keep-latest dedup, the
                reference's most load-bearing operator) on sf0.001.
queries()     — one callable per implemented SURVEY.md §2 operator.
oracle_sql()  — matching DuckDB SQL per query (same column aliases).

All real logic lives in the dot_spark package; this module is glue.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dot_spark.queries import ORACLE, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["w1_dedup_keep_latest"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every queries() key (the two key
    sets are equal)."""
    return dict(ORACLE)
