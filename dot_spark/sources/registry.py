"""Table registry over the synthetic parquet corpus.

Mirrors the reference's warehouse-table abstraction (BigQuery
`project.dataset.table`; okta-sync/okta_sync_utils.py:309,
woo-sync/bigquery_client.py:45-46) as parquet-backed Spark reads.

Scans stay lazy DataFrames so Catalyst pushes filters and prunes
columns into the parquet reader — at 100 TB the difference between
scanning 2 columns and 40 is the whole job.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Session confs every query depends on, applied defensively at each
# table load: the harness may hand us a SparkSession built WITHOUT
# dot_spark.session.get_spark (a bare driver session), and all four
# are runtime-settable SQL confs. Without nanosAsLong every events
# read dies on PARQUET_TYPE_ILLEGAL; without UTC the oracle's
# timestamp hashes drift; the other two gate the Python data source
# and pandas UDFs.
_REQUIRED_CONFS = (
    ("spark.sql.legacy.parquet.nanosAsLong", "true"),
    ("spark.sql.session.timeZone", "UTC"),
    ("spark.sql.python.filterPushdown.enabled", "true"),
    ("spark.sql.execution.arrow.pyspark.enabled", "true"),
)


def ensure_session_confs(spark: SparkSession) -> None:
    """Apply the runtime-settable confs the queries rely on (no-op
    when the session already has them, e.g. via get_spark)."""
    for key, value in _REQUIRED_CONFS:
        try:
            if spark.conf.get(key, None) != value:
                spark.conf.set(key, value)
        except Exception:
            pass  # static conf on this build: keep the session's value
    # The NTZ->timestamp normalization below is value-identical to the
    # UTC oracle ONLY under a UTC session tz. If the best-effort set
    # above silently failed (a session where timeZone is static), every
    # event timestamp would shift by the zone offset — fail loudly
    # instead of producing subtly wrong data.
    tz = spark.conf.get("spark.sql.session.timeZone", None)
    if tz != "UTC":
        raise RuntimeError(
            f"spark.sql.session.timeZone={tz!r} (need UTC): cannot "
            "normalize naive-micros event timestamps on this session"
        )


def events_ts_dispatch(raw_ts_type: str | None):
    """THE single decision point for the events.ts physical-format
    contract, shared by the batch registry (load_table) and the
    streaming ingress (streaming/ingress.py:stream_events): map the
    file's physical dtype to (declared DDL type, normalizing
    expression yielding session-UTC TimestampType). The harness has
    shipped two formats so far — TIMESTAMP(NANOS) (reads as a bigint
    nanosecond epoch under nanosAsLong) and naive-micros TIMESTAMP
    (reads as TIMESTAMP_NTZ; the cast below reinterprets the naive
    wall-clock as UTC under the UTC session, value-identical to the
    DuckDB oracle). A third format needs exactly one new branch HERE,
    and both source boundaries pick it up."""
    if raw_ts_type == "bigint":  # legacy nanos-as-long files
        return "BIGINT", F.timestamp_micros(F.expr("ts div 1000"))
    if raw_ts_type == "timestamp_ntz":  # naive-micros files
        return "TIMESTAMP_NTZ", F.col("ts").cast("timestamp")
    if raw_ts_type == "timestamp":  # already UTC-adjusted
        return "TIMESTAMP", F.col("ts")
    # A THIRD physical format (string, INT96, date, ...) must fail
    # loudly AT THE DISPATCH POINT — silently passing it through as
    # "already UTC" is the exact r4/r5 wrong-data failure mode this
    # module exists to prevent, and streaming would also declare a
    # wrong read schema from it.
    raise RuntimeError(
        f"events.ts physical dtype {raw_ts_type!r} is not a known "
        "format (expected bigint | timestamp_ntz | timestamp): add an "
        "explicit branch in events_ts_dispatch rather than guessing"
    )


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    """Lazy parquet scan of one registry table.

    events.ts normalization: the harness has shipped this column in
    two physical formats — TIMESTAMP(NANOS) (readable only as a
    nanosecond epoch long via spark.sql.legacy.parquet.nanosAsLong)
    and naive-micros TIMESTAMP(isAdjustedToUTC=false), which Spark
    reads as TIMESTAMP_NTZ. Both are normalized here, at the single
    source boundary, to session-UTC TimestampType so every downstream
    operator sees one contract. At 100 TB of heterogeneous inputs
    this per-file dtype dispatch is exactly what a real lakehouse
    ingest layer does; it costs one codegen'd expression and leaves
    pushdown/pruning on the other columns intact.
    """
    ensure_session_confs(spark)
    sf_dir = sf_dir or DEFAULT_SF_DIR
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = dict(df.dtypes).get("ts")
        _, fix = events_ts_dispatch(ts_type)
        if ts_type != "timestamp":
            df = df.withColumn("ts", fix)
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    """All registry tables as a dict of lazy DataFrames."""
    return {t: load_table(spark, t, sf_dir) for t in TABLES}
