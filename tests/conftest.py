from __future__ import annotations

import contextlib
import os
import sys

import pytest
from pyspark.sql.classic.dataframe import DataFrame

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dot_spark import get_spark  # noqa: E402

SF_TEST_DIR = "/root/testdata/sf0.001"

# The generated-literal oracles (ss3, t13, ...) replay training on the
# gate tables when dot_spark.queries is imported; they must read the
# same tables the registry sweep runs on.
os.environ["DOT_SPARK_GATE_SF_DIR"] = SF_TEST_DIR


@pytest.fixture(scope="session")
def spark():
    # the TEST session runs 8 shuffle partitions: the suite's
    # thousands of tiny sf0.001 jobs are scheduler-bound at a 32-wide
    # default, and shuffle width is orthogonal to every correctness
    # property the suite checks — measured 1.7x on the property suite
    # on 32 cores. bench.py / the driver contract keep their own
    # session and are untouched by this.
    s = get_spark("dot_spark_tests", shuffle_partitions=8)
    yield s


@contextlib.contextmanager
def unmaterialized():
    """Make DataFrame.localCheckpoint return its input while active.

    Production builders checkpoint shared subtrees, and a checkpoint
    truncates the executed plan to a LogicalRDD stub. A plan pin that
    must see the hidden subtree builds its twin inside this block and
    the production frame outside it; a checkpoint never changes rows,
    so the two must agree row for row."""
    saved = DataFrame.localCheckpoint
    DataFrame.localCheckpoint = lambda self, *args, **kwargs: self
    try:
        yield
    finally:
        DataFrame.localCheckpoint = saved


@pytest.fixture(scope="session")
def sf_dir():
    return SF_TEST_DIR


@pytest.fixture(scope="session")
def registry_dfs(spark, sf_dir):
    """One DataFrame per registered query, built ONCE per test
    session and shared by every full-registry sweep (the sf0.001
    oracle sweep, the scalar-output audit, the Python-eval audit, the
    staged-HOF audit, the plan-count baseline net). Iterative/eager
    queries EXECUTE at DataFrame-build time (g1's rounds, pl7's
    closure probes, t13's merge loop), so each additional
    full-registry rebuild used to cost ~90-160 s of suite wall time
    — five sweeps paid it five times (r15, the driver's tests_ok
    budget overrun). Built sequentially: a handful of queries run
    driver-side commit loops against their own warehouse tables at
    build time, and serial construction keeps those writes exactly
    as isolated as the old per-test builds."""
    return _registry(spark, sf_dir)[0]


@pytest.fixture(scope="session")
def registry_plans(spark, sf_dir):
    """Executed-plan string per registered query, derived once from
    the shared DataFrames for the plan-sweep audits. Derived EAGERLY
    at registry build time: executedPlan is a lazy val, and deriving
    it after a test module has .cache()d a shared subtree (the
    multimodal media fixture) substitutes InMemoryTableScan nodes
    whose stored plan text double-counts the scan/exchange — the
    audits must see the production plan shapes, the same ones
    tools/plan_baseline.py records from a fresh session."""
    return _registry(spark, sf_dir)[1]


def _registry(spark, sf_dir):
    # sequential build: a handful of queries run driver-side commit
    # loops against their own warehouse tables at construction time,
    # and a thread-pooled build was MEASURED flat (364 s vs 340 s for
    # contract+plans — the eager queries' own jobs already fill the
    # box), so serial keeps the old per-test isolation for free
    if not hasattr(_registry, "value"):
        from dot_spark.plans import physical_plan
        from dot_spark.queries import QUERIES

        # a cached subtree would leak InMemoryTableScan nodes into the
        # audited plans; fail on a test order that leaves one behind
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
            "catalog cache not empty at registry build"
        )
        dfs = {name: fn(spark, sf_dir) for name, fn in QUERIES.items()}
        plans = {name: physical_plan(df) for name, df in dfs.items()}
        _registry.value = (dfs, plans)
    return _registry.value


def norm_toks(text: str) -> list[str]:
    """Driver-side replay of dot_spark's normalize_text + split,
    shared by every replay test so the tokenizer can't silently
    diverge copy-by-copy (the r11 tab bug: str.strip() eats tabs,
    Spark's trim strips only ASCII spaces). Shares no code with the
    engine."""
    import re

    return re.sub(" +", " ", text.lower()).strip(" ").split(" ")
