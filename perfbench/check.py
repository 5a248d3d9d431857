"""Correctness channel: one item's Spark output against its DuckDB oracle.

The three checks are the oracle gate's (`tools/oracle_check.py`): the
row count, cross-checked by an `Observation` riding the collect job;
the column set; and the order-insensitive canonical value hash.
"""

from __future__ import annotations

import time

import duckdb
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from dot_spark.sources.registry import TABLES
from tools.oracle_check import canonical


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def mismatch(df: DataFrame, oracle_sql: str | None, con) -> str | None:
    """None when `df` matches the oracle, else what differs. An item
    without an oracle is a mismatch: it cannot be checked."""
    if oracle_sql is None:
        return "no oracle"
    obs = Observation(f"perfbench_{time.time_ns()}")
    got = df.observe(obs, F.count(F.lit(1)).alias("n_rows")).toPandas()
    observed = int(obs.get["n_rows"])
    want = con.execute(oracle_sql).fetchdf()
    if observed != len(got):
        return f"observed {observed} rows vs collected {len(got)}"
    if len(got) != len(want):
        return f"rows {len(got)} vs oracle {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} vs oracle {sorted(want.columns)}"
    if canonical(got) != canonical(want):
        return "value hash differs from oracle"
    return None
