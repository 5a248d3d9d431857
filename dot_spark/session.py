"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same config block is what we'd
ship to a 1000-executor cluster — AQE for runtime re-planning (skew
joins, partition coalescing), Arrow for the few Pandas-UDF operators,
UTC session timezone so timestamp semantics match the DuckDB oracle
and are deterministic across cluster timezones.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "dot_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) the session.

    Local mode runs one task slot per CPU this process may use
    (SPARK_GRAFT_CPUS overrides), and shuffle_partitions defaults to
    the same count; on a real cluster it should be ~2-3x total cores
    (or left to AQE's coalescing with a high initial value). AQE is
    on everywhere: it re-plans skewed joins and coalesces tiny
    post-shuffle partitions at runtime, which is exactly what a
    100 TB run needs when key skew shows up.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("DOT_SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = SparkSession.builder.appName(app_name)
    # master is env-conditional so the factory never overrides a real
    # cluster submission: DOT_SPARK_MASTER wins if set; otherwise any
    # externally-launched gateway is left untouched — spark-submit
    # runs Python via PythonRunner, which exposes the already-
    # configured JVM through PYSPARK_GATEWAY_PORT (it does NOT set
    # PYSPARK_SUBMIT_ARGS, so sniffing --master there would still
    # stomp a `spark-submit --master yarn` run with local[N]); the
    # pyspark shell sets PYSPARK_SUBMIT_ARGS. Only a bare python
    # process (neither marker) falls back to local[N].
    preset = os.environ.get("DOT_SPARK_MASTER")
    externally_launched = (
        "PYSPARK_GATEWAY_PORT" in os.environ
        or "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    )
    if preset:
        builder = builder.master(preset)
    elif not externally_launched:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python Data Source predicate pushdown (sources/rest.py P3)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # the synthetic events table stores TIMESTAMP(NANOS) which the
        # Spark parquet reader rejects; read as long and convert in the
        # source registry (sources/registry.py)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # local-mode driver heap IS the whole cluster's executor
        # memory: 32 task threads over hash/explode-heavy stages on a
        # small heap degrade monotonically (GC death spiral measured
        # at 19s->134s over 4 runs on 8g; stable ~10s on 24g)
        .config("spark.driver.memory", os.environ.get("DOT_SPARK_DRIVER_MEM", "24g"))
        # the compiled-codegen LRU defaults to 100 entries; a workload
        # with >100 distinct codegen'd stages (this suite has ~23
        # queries x several stages each) evicts and Janino-recompiles
        # the largest generated methods on every pass — measured 3x on
        # the simhash query (0.45s steady -> 1.4s when cycled through
        # the full suite). Any real multi-query deployment wants this
        # raised; memory cost is compiled classes, not data.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # whole-stage codegen keeps a fused method up to 65535
        # bytecode by default, but HotSpot refuses to JIT any method
        # over ~8000 bytecode (-XX:-DontCompileHugeMethods), so a
        # wide fused stage lands in the INTERPRETER: the 74-leaf
        # nested-document projections (n12/n13/n14 woo family) ran
        # 3.5x slower than their own sub-selects combined. 8000
        # aligns Spark's fallback with the JIT's real limit — at or
        # under it, fused codegen; above it, per-operator eval that
        # JITs fine. Measured: n12 synthesis 5.8 -> 1.7 s at sf0.1;
        # narrow-plan queries unchanged. JVM-level property, equally
        # right on a 1000-executor cluster.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
