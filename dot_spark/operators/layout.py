"""Data-layout operators: Z-order (Morton) clustering and the
min/max data-skipping audit that justifies it.

At 100 TB the cheapest I/O is the I/O never issued: parquet
row-group (and file) min/max statistics let a scan skip whole chunks
whose [min, max] range cannot intersect the predicate. A layout
sorted on ONE column skips perfectly on that column and not at all
on any other; a Z-ORDER layout interleaves the bits of several
columns so that chunks stay tight in EVERY interleaved dimension at
once — the standard multi-dimensional clustering recipe (Delta/
Iceberg OPTIMIZE ZORDER BY). These operators compute the Morton key,
assign rows to fixed-size chunks in z order WITHOUT a global sort
(the 256-bucket distributed rank shape of
sampling.token_budget_sample), and measure the skip rate a given
layout actually achieves — the audit a production pipeline runs
before committing to a rewrite of a 100 TB table.

Reference parity: the reference engine's outputs land in
warehouse-clustered tables (its load designs lean on the warehouse
clustering the sync output); this module re-expresses that
storage-side clustering as explicit, auditable Spark operators.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _spread_bits16(col: Column) -> Column:
    """Spread the low 16 bits of ``col`` so bit i lands at bit 2i
    (the classic Morton magic-mask sequence, all JVM codegen — four
    shift/mask rounds, no UDF)."""
    x = col.bitwiseAND(F.lit(0xFFFF))
    x = (x.bitwiseOR(F.shiftleft(x, 8))).bitwiseAND(F.lit(0x00FF00FF))
    x = (x.bitwiseOR(F.shiftleft(x, 4))).bitwiseAND(F.lit(0x0F0F0F0F))
    x = (x.bitwiseOR(F.shiftleft(x, 2))).bitwiseAND(F.lit(0x33333333))
    x = (x.bitwiseOR(F.shiftleft(x, 1))).bitwiseAND(F.lit(0x55555555))
    return x


def zorder_key(col_a: Column, col_b: Column) -> Column:
    """32-bit Morton key interleaving the low 16 bits of two integer
    columns (a at even bits, b at odd). Production tables first
    quantize each dimension to its 65536-bucket rank so the full
    value range uses all 16 bits; callers pass already-bounded (or
    masked) values here. Pure integer expression — the DuckDB oracle
    states the identical shift/mask arithmetic, so the key is
    bit-exact across engines."""
    return _spread_bits16(col_a).bitwiseOR(
        F.shiftleft(_spread_bits16(col_b), 1)
    )


def _spread_sql(x: str) -> str:
    """The _spread_bits16 expression as ANSI SQL (for oracles).
    DuckDB's >>/<</&/| on BIGINT match Spark's shiftleft/bitwiseAND
    exactly."""
    s = f"({x} & 65535)"
    for shift, mask in (
        (8, 0x00FF00FF),
        (4, 0x0F0F0F0F),
        (2, 0x33333333),
        (1, 0x55555555),
    ):
        s = f"(({s} | ({s} << {shift})) & {mask})"
    return s


def zorder_key_sql(a: str, b: str) -> str:
    """The zorder_key expression as a SQL string (for oracles)."""
    return f"({_spread_sql(a)} | ({_spread_sql(b)} << 1))"


def quantize(col: Column, max_col: Column, buckets: int = 256) -> Column:
    """Scale a non-negative integer column onto 0..buckets-1 by its
    (broadcast, 1-row) global max. Z-ordering REQUIRES this
    equal-width normalization: interleaving raw values whose bit
    widths differ just sorts by the wider dimension's high bits (an
    11-bit × 7-bit interleave is a partkey sort wearing a costume —
    measured, box-2 skipping 3% unquantized vs ~75% quantized).
    Exact-integer × double arithmetic, bit-identical to the oracle's
    FLOOR(CAST(c * buckets AS DOUBLE) / (mx + 1))."""
    return F.floor((col * buckets).cast("double") / (max_col + F.lit(1)))


def ranked_by(
    df: DataFrame,
    order_col: str,
    tiebreak_cols: list[str],
    bucket: Column,
    out_col: str = "rank",
) -> DataFrame:
    """Global 0-based rank of every row in (order_col, *tiebreak)
    order WITHOUT a global sort. ``bucket`` must map order_col
    MONOTONICALLY onto 0..255 with ties staying in one bucket (e.g.
    the top byte of a quantized key) — then bucket order == global
    order, per-bucket counts (256 rows) prefix-sum on one tiny
    partition, and the within-bucket row_number window is
    partitioned BY BUCKET — 256-way parallel. A naive ROW_NUMBER()
    OVER (ORDER BY ...) funnels the whole table through one task;
    this funnels 256 scalar rows. The sampling.token_budget_sample
    shape, reused for rank.

    The bucket expression is the caller's because it should come
    from information the plan already has (a quantized dimension,
    a key's top byte) — an internal extent aggregate here would be
    re-executed under every plan branch that references the result.
    Value-range bucketing is even-ish for near-uniform keys (Morton
    keys over quantized dims are); a production rewrite of a skewed
    column would sample rank boundaries instead
    (repartitionByRange's recipe) at the cost of determinism."""
    bucketed = df.withColumn("__b", bucket.cast("int"))
    totals = bucketed.groupBy("__b").agg(F.count(F.lit(1)).alias("__bt"))
    # <=256 rows by construction (bucket totals): bounded, never
    # data-sized — the 256-bucket prefix discipline
    wb = Window.orderBy("__b").rowsBetween(Window.unboundedPreceding, -1)
    prefix = totals.withColumn(
        "__before", F.coalesce(F.sum("__bt").over(wb), F.lit(0))
    ).select("__b", "__before")
    ww = Window.partitionBy("__b").orderBy(order_col, *tiebreak_cols)
    # LEFT join, not inner, although every __b has a prefix row: an
    # inner join on the DERIVED key pushes an isnotnull(__b) filter
    # below the projection, where Catalyst substitutes the whole
    # Morton/quantize chain into the filter — measured 5x wall on the
    # probe side (scaling alpha 1.48 -> 0.18 from this one-word
    # change). A left join generates no probe-side key filter, so the
    # scan stays one clean codegen pass. Same 256-bucket prefix shape
    # as sampling.token_budget_sample / sampling.pack_sequences and
    # relational.skyline (cummax variant) — keep the join rule in
    # sync across all four.
    return (
        bucketed.join(F.broadcast(prefix), "__b", "left")
        .withColumn(
            out_col,
            F.coalesce(F.col("__before"), F.lit(0))
            + F.row_number().over(ww)
            - 1,
        )
        .drop("__b", "__before")
    )


def chunked_layout(
    df: DataFrame,
    order_col: str,
    tiebreak_cols: list[str],
    bucket: Column,
    rows_per_chunk: int = 4096,
) -> DataFrame:
    """Rank rows by ``order_col`` (distributed rank above; same
    ``bucket`` contract) and chop into fixed-size chunks
    (`rank // rows_per_chunk`) — the file / row-group a clustering
    rewrite would place each row in. Pass a Morton key for a z-order
    layout or a plain column for the single-dimension comparison
    layout."""
    out = ranked_by(df, order_col, tiebreak_cols, bucket)
    return out.withColumn(
        "chunk_id", F.floor(F.col("rank") / rows_per_chunk).cast("long")
    ).withColumn("rank", F.col("rank").cast("long"))


def chunk_minmax(
    layout: DataFrame, dim_cols: list[str], layout_name: str
) -> DataFrame:
    """Per-chunk min/max footer statistics for each dimension — the
    parquet row-group stats a scan planner consults. One partial
    aggregate over the layout; 2 numbers per dim per chunk."""
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for c in dim_cols:
        aggs += [F.min(c).alias(f"min_{c}"), F.max(c).alias(f"max_{c}")]
    return (
        layout.groupBy("chunk_id")
        .agg(*aggs)
        .withColumn("layout", F.lit(layout_name))
    )


def skipping_audit(
    stats: DataFrame,
    boxes: DataFrame,
    dim_a: str,
    dim_b: str,
) -> DataFrame:
    """Evaluate box predicates against chunk min/max stats: a chunk
    is SKIPPED when its [min, max] envelope cannot intersect the
    box. Returns per (layout, box) the chunk and row counts a real
    scan would prune — the number that decides whether a 100 TB
    rewrite pays for itself. ``boxes`` is a tiny table (box_id,
    lo_a, hi_a, lo_b, hi_b); the cross join is broadcast-small
    (chunks × boxes)."""
    skipped = (
        (F.col(f"max_{dim_a}") < F.col("lo_a"))
        | (F.col(f"min_{dim_a}") > F.col("hi_a"))
        | (F.col(f"max_{dim_b}") < F.col("lo_b"))
        | (F.col(f"min_{dim_b}") > F.col("hi_b"))
    )
    return (
        stats.crossJoin(F.broadcast(boxes))
        .withColumn("skip", skipped)
        .groupBy("layout", "box_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.col("skip").cast("long")).cast("long").alias("n_skipped"),
            F.sum(
                F.when(F.col("skip"), F.col("n_rows")).otherwise(F.lit(0))
            )
            .cast("long")
            .alias("rows_skipped"),
            F.sum("n_rows").cast("long").alias("rows_total"),
        )
        .withColumn(
            "skip_pct",
            F.round(F.col("n_skipped") * 100.0 / F.col("n_chunks"), 2),
        )
    )
