"""The reference's three pipelines recomposed from dot_spark
operators (SURVEY §3) — integration-level dataflows over the fixture
tables.

- okta_full_refresh: §3.1 — batched scan -> schema align -> batch
  load protocol -> keyed keep-latest dedup in the warehouse -> atomic
  promote of staging tables into the target dataset.
- woo_incremental:  §3.2 — watermark read -> filtered incremental
  scan -> append; each run ingests only rows newer than the target's
  high-water mark.
- route_events_batch: §3.3 — parse -> gate -> route -> per-route
  outputs (the batch form; streaming form in dot_spark/streaming).

Each stage is a lazy DataFrame; the only materializations are the
warehouse writes — Catalyst fuses scan+align+filter into single
stages, and the W1 dedup is the one shuffle in the refresh path.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dot_spark.loads import Warehouse
from dot_spark.operators.dedup import dedupe_keep_latest
from dot_spark.schema import align_schema


def okta_full_refresh(
    wh: Warehouse,
    sources: Mapping[str, DataFrame],
    schemas: Mapping[str, Mapping[str, str]],
    dedup_config: Mapping[str, tuple[Sequence[str], Sequence[str]]],
    batch_rows: int = 10_000,
    staging_prefix: str = "temp_",
) -> list[str]:
    """Full-refresh sync (okta-sync trigger_sync, main.py:1098-1140).

    Per table: align to the declared schema (P1), load through the
    truncate-then-append batch protocol (S8), dedup keep-latest on
    the configured keys (W1, config like DEDUP_CONFIG
    main.py:24-30), then promote staging -> target atomically (D1).
    Returns the promoted table names.

    The reference pages 10K-row batches to bound memory; Spark bounds
    memory by partitioning instead, so `batch_rows` only drives the
    load-protocol semantics (resume safety), not capacity.
    """
    promoted = []
    for table, src in sources.items():
        staging = f"{staging_prefix}{table}"
        aligned = align_schema(src, schemas[table]) if table in schemas else src
        wh.write(aligned, staging, "truncate")
        if table in dedup_config:
            keys, order_desc = dedup_config[table]
            wh.rewrite(staging, lambda df, k=keys, o=order_desc: dedupe_keep_latest(df, k, o))
        wh.promote(staging, table)
        promoted.append(table)
    return promoted


def _ingest_once(wh: Warehouse, fresh: DataFrame, table: str) -> int:
    """Single-scan ingest protocol: write the delta to a staging
    table (the ONLY pass over the source), count the rows from the
    staged parquet (footer metadata — no second source scan), then
    adopt the staged files into the target by rename. The old
    count-then-write shape scanned the filtered source twice; at
    100 TB that doubles ingest cost."""
    import uuid

    staging = f"{table}__delta-{uuid.uuid4().hex[:8]}"
    wh.write(fresh, staging, "truncate")
    n = wh.read(staging).count()
    if n:
        wh.adopt_files(staging, table)
    wh.drop(staging)
    return n


def woo_incremental(
    wh: Warehouse,
    source: DataFrame,
    table: str,
    ts_col: str = "ts",
) -> int:
    """Watermark-incremental append (woo-sync trigger_sync,
    main.py:1262-1334): read MAX(ts) from the target (A2), scan only
    source rows strictly newer (P3 — the filter pushes into the
    source scan), append them (S7). Returns rows ingested.

    First run (no target) ingests everything. The read-own-table
    watermark is safe because the append happens after the max is
    materialized (no read-overwrite cycle). The filtered source is
    scanned exactly once per run (see _ingest_once).
    """
    if wh.exists(table):
        wm = wh.read(table).agg(F.max(ts_col)).collect()[0][0]
        fresh = source.filter(F.col(ts_col) > F.lit(wm)) if wm is not None else source
    else:
        fresh = source
    return _ingest_once(wh, fresh, table)


def woo_incremental_by_store(
    wh: Warehouse,
    source: DataFrame,
    table: str,
    store_col: str = "store",
    ts_col: str = "ts",
) -> int:
    """PER-STORE watermark incremental — the faithful multi-tenant
    form of the reference's sync: woo-sync/main.py:26-42 reads
    MAX(sync_timestamp) for ONE store's table, and the per-store
    configs (main.py:1275-1299) run that read per tenant. Here the
    tenants share one table, so the watermark is a grouped
    MAX(ts) GROUP BY store, and each store ingests only rows newer
    than ITS OWN high-water mark — a lagging store never suppresses
    (or floods) another store's delta, which a single global max
    would.

    Scale shape: the watermark table is one row per store (tiny), so
    the filter is a broadcast left join + per-row compare — the
    source still gets one scan, no shuffle, and the per-store
    predicate rides into the scan alongside it.
    """
    if wh.exists(table):
        wms = wh.read(table).groupBy(store_col).agg(F.max(ts_col).alias("__wm"))
        fresh = (
            source.join(F.broadcast(wms), on=store_col, how="left")
            .filter(F.col("__wm").isNull() | (F.col(ts_col) > F.col("__wm")))
            .select(*source.columns)
        )
    else:
        fresh = source
    return _ingest_once(wh, fresh, table)


def route_events_batch(events: DataFrame) -> dict[str, DataFrame]:
    """Webhook routing as a batch dataflow (dbt-webhook
    main.py:298-319): gate on completion, route on status, return
    the per-topic DataFrames (retry / completed) plus the ignored
    remainder — the P4/P5 pipeline the streaming fan-out mirrors."""
    from dot_spark.streaming.fanout import route_events

    routed = route_events(events)
    return {
        "retry": routed.filter(F.col("route") == "retry"),
        "completed": routed.filter(F.col("route") == "completed"),
        "ignored": routed.filter(F.col("route") == "ignore"),
    }


def geo_refresh(
    wh: Warehouse,
    zip_path: str,
    table: str = "geo_all_countries",
    member_regex: str = r"\.txt$",
) -> DataFrame:
    """§3.1-geography: ZIP dump -> member select -> positional TSV
    parse with the custom NA list -> typed conversion -> staged write
    -> atomic promote (process-geography/main.py:203-459 recomposed).

    The all-string raw schema and the typed target both come from the
    declared-schema registry (schemas.py, FIXTURES.md port); "NA"
    stays Namibia because only the explicit sentinel tokens null out.
    """
    from dot_spark.schemas import columns_of
    from dot_spark.sources.files import read_zip_csv

    raw = read_zip_csv(
        wh.spark,
        zip_path,
        columns_of("geo_all_countries_raw"),
        member_regex=member_regex,
        sep="\t",
        null_tokens=["", "NULL", "n/a", "\\N"],
    )
    typed = align_schema(
        raw.withColumnRenamed("asciiname", "name_ascii")
        .withColumnRenamed("cc2", "alternate_country_codes")
        .withColumnRenamed("dem", "digital_elevation_model"),
        columns_of("geo_all_countries"),
    )
    staging = f"{table}__staging"
    wh.write(typed, staging, "truncate")
    wh.promote(staging, table)
    return wh.read(table)


def incremental_rollup(
    wh: Warehouse,
    events: DataFrame,
    table: str = "events_hourly",
    ts_col: str = "ts",
    keys: Sequence[str] = ("event_type",),
    distinct_col: str | None = "user_id",
) -> DataFrame:
    """Continuous-aggregate maintenance (ST2 watermark protocol
    applied to the a9 rollup tier): each run re-aggregates ONLY the
    buckets at-or-after the tier's high-water mark and splices them
    onto the untouched older buckets.

    The open bucket is re-computed rather than merged, so late rows
    inside it are picked up on the next run with no partial-state
    bookkeeping — the warehouse-native version of a streaming
    windowed aggregation with watermark. Cost per run is
    O(new events + one bucket), not O(history): the event scan is
    watermark-pruned exactly like the woo incremental path
    (woo-sync/main.py:26-42,1156).
    """
    bucket = F.date_trunc("hour", F.col(ts_col)).alias("bucket_h")
    with_sketch = distinct_col is not None and distinct_col in events.columns

    def agg(df: DataFrame) -> DataFrame:
        aggs = [
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        ]
        if with_sketch:
            # mergeable distinct state: coarser tiers (or any ad-hoc
            # bucket range) answer COUNT DISTINCT by hll_union_agg
            # over this column — never re-scanning raw events
            aggs.append(F.hll_sketch_agg(distinct_col).alias("distinct_sk"))
        return df.groupBy(bucket, *keys).agg(*aggs)

    staging = f"{table}__staging"
    wm = None
    if wh.exists(table):
        wm = wh.read(table).agg(F.max("bucket_h")).collect()[0][0]
    if wm is None:
        # fresh OR existing-but-empty tier: full aggregate (an empty
        # tier has no watermark — `ts >= NULL` would filter every row
        # forever)
        wh.write(agg(events), staging, "truncate")
    else:
        old = wh.read(table)
        delta = agg(events.filter(F.date_trunc("hour", F.col(ts_col)) >= F.lit(wm)))
        if set(old.columns) != set(delta.columns):
            # tier schema drift (sketch column toggled on/off since
            # the tier was built): the old buckets cannot be spliced
            # with the new shape, so rebuild the whole tier from
            # events under the NEW schema — one full re-aggregate,
            # the same cost as first build, instead of a broken union
            wh.write(agg(events), staging, "truncate")
            wh.promote(staging, table)
            return wh.read(table)
        merged = old.filter(F.col("bucket_h") < F.lit(wm)).unionByName(delta)
        wh.write(merged, staging, "truncate")
    wh.promote(staging, table)
    return wh.read(table)


def corpus_ingest_dedup(
    wh: Warehouse,
    batch: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """Incremental corpus ingestion with cross-batch exact dedup —
    the arrival path of a continuously growing training corpus: each
    batch is deduped within itself (min id per normalized-text hash)
    and against EVERY previously ingested document, then appended
    via the single-scan protocol. Returns new-docs-ingested.

    Scale shape: the membership check is an anti-join on the 128-bit
    hash — both sides shuffle only (hash, id) pairs, never document
    bodies, and the within-batch dedup partial-aggregates map-side.
    The corpus side reads just the hash column off parquet (column
    pruning does the rest)."""
    from dot_spark.operators.textdedup import normalize_text

    hashed = batch.select(
        F.md5(normalize_text(text_col)).alias("text_hash"), F.col(id_col)
    )
    fresh = hashed.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    if wh.exists(table):
        seen = wh.read(table).select("text_hash")
        fresh = fresh.join(seen, "text_hash", "left_anti")
    return _ingest_once(wh, fresh.select(id_col, "text_hash"), table)


def corpus_ingest_docs(
    wh: Warehouse,
    batch: DataFrame,
    table: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> int:
    """corpus_ingest_dedup keeping the FULL document rows — needed
    when a downstream near-dup pass must re-shingle the text (the
    streaming pl5 path). Within-batch dedup keeps the min id per
    normalized-text hash (one rank window — the rows carry bodies, so
    they shuffle once regardless); cross-batch membership is the same
    hash anti-join, bodies never join. Cross-batch semantics are
    FIRST-ARRIVAL: a later batch's copy loses to the stored one even
    with a smaller id (identical to min-id when ids grow with arrival
    order, the ingest norm)."""
    from pyspark.sql import Window

    from dot_spark.operators.textdedup import normalize_text

    hashed = batch.withColumn("text_hash", F.md5(normalize_text(text_col)))
    w = Window.partitionBy("text_hash").orderBy(id_col)
    fresh = (
        hashed.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if wh.exists(table):
        seen = wh.read(table).select("text_hash")
        fresh = fresh.join(seen, "text_hash", "left_anti")
    return _ingest_once(wh, fresh, table)


def streaming_corpus_dedup(
    spark,
    corpus_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    table: str = "corpus_docs",
    schema: str | None = None,
):
    """Continuous-ingest twin of pl5, stage 1: stream_jsonl_corpus ->
    per-micro-batch cross-batch exact dedup (corpus_ingest_docs) via
    foreachBatch. Each JSONL drop lands exactly-once in ``table``
    (file-source checkpoint = ingest frontier; the adopt-by-rename
    ingest is idempotent per batch). Returns the StreamingQuery.

    The near-dup clustering stage is deliberately NOT per-batch: LSH
    cluster assignments are not incrementally stable under min-label
    semantics (one new doc can bridge two existing clusters and
    change their canonical choice), so true streaming clustering
    would need mutable union-find state. The honest scale design is
    ingest continuously + recluster periodically — run
    canonical_corpus(wh, table) as the compaction pass after any
    trigger, like a lakehouse OPTIMIZE."""
    from dot_spark.streaming.ingress import DOCUMENTS_READ_DDL, stream_jsonl_corpus

    stream = stream_jsonl_corpus(spark, corpus_dir, schema or DOCUMENTS_READ_DDL)
    return (
        stream.writeStream.foreachBatch(
            lambda batch, _id: corpus_ingest_docs(wh, batch, table)
        )
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def canonical_corpus(wh: Warehouse, table: str = "corpus_docs") -> DataFrame:
    """Continuous-ingest twin of pl5, stage 2 (the compaction pass):
    near-dup cluster the accumulated exact-survivors and keep one
    canonical doc per cluster. Shares dedup_corpus with the batch
    pl5 query, so stream-then-compact equals the one-shot batch
    pipeline over the same corpus (parity-tested)."""
    from dot_spark.operators.textdedup import dedup_corpus

    return dedup_corpus(wh.read(table))


def streaming_cdc_apply(
    spark,
    cdc_dir: str,
    wh: Warehouse,
    checkpoint_dir: str,
    table: str,
    key_cols: Sequence[str],
    seq_col: str,
    delete_col: str = "is_delete",
    schema: str = "",
    max_files_per_trigger: int | None = None,
):
    """Continuous CDC apply: stream JSONL change records ->
    per-micro-batch MERGE INTO the warehouse table via foreachBatch.

    Each batch first COLLAPSES to the newest change per key (keep-
    latest on ``seq_col`` — a batch can carry several changes for one
    key, and Warehouse.merge_upsert requires unique keys per apply),
    then merges: update/insert rows replace, ``delete_col`` rows
    remove. End-to-end delivery contract: the file-source checkpoint
    makes each drop process at-least-once, and merge_upsert is
    idempotent under replay of the same collapsed batch (touched keys
    are removed before re-insert), so the pipeline is effectively
    exactly-once without a transactional table format.

    The ORDER contract is per-batch, not global: changes for a key
    arriving in DIFFERENT drops apply in drop order (later batch
    wins), which is the standard CDC log-shipping assumption. Within
    a batch the collapse orders by ``seq_col`` and THEN by every
    remaining change column, a deterministic total order: two
    changes sharing (key, seq) pick the same winner on every replay
    (rows still tied are byte-identical, so the choice is
    immaterial), preserving the replay-idempotence contract.
    """
    from dot_spark.operators.dedup import dedupe_keep_latest
    from dot_spark.streaming.ingress import stream_jsonl_corpus

    def apply_batch(batch: DataFrame, _id: int) -> None:
        others = [
            c for c in batch.columns if c != seq_col and c not in key_cols
        ]
        collapsed = dedupe_keep_latest(
            batch, list(key_cols), [seq_col, *others]
        ).drop(seq_col)
        wh.merge_upsert(collapsed, table, list(key_cols), delete_col=delete_col)

    stream = stream_jsonl_corpus(
        spark, cdc_dir, schema, max_files_per_trigger=max_files_per_trigger
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def mv_partials(
    df: DataFrame,
    keys: list[str],
    value_col: str,
    ts_col: str,
) -> DataFrame:
    """Mergeable partial state of the standard per-key rollup MV:
    count / sum / min / max — every one an associative-commutative
    monoid, so partials computed over ANY slicing of the input merge
    to the full-recompute answer. avg is NOT stored (not mergeable);
    it derives from sum/count at read time."""
    return df.groupBy(*keys).agg(
        F.count(F.lit(1)).cast("long").alias("mv_n"),
        F.sum(value_col).alias("mv_sum"),
        F.min(ts_col).alias("mv_min_ts"),
        F.max(ts_col).alias("mv_max_ts"),
    )


def mv_merge(*partials: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Merge partial MV states (base ∪ deltas) into one: counts and
    sums add, min/max fold. This is incremental materialized-view
    maintenance for insert-only deltas: the 100 TB base is aggregated
    ONCE, then each arriving delta costs only delta-sized work plus a
    merge over MV-sized (per-key, not per-row) state. The merge
    shuffles MV rows on the group key — the same exchange the delta
    partial-agg already produced, so AQE coalesces to delta-scale
    work. Deletes/updates need retractable aggregates (count/sum
    subtract fine; min/max do not) — that variant keeps a per-key
    top-k heap instead; out of scope here and documented.

    Law (pinned by pl13's oracle and test_pipelines): for any
    partition of the input rows, mv_merge(mv_partials(slice_i)...)
    == mv_partials(whole)."""
    out = partials[0]
    for p in partials[1:]:
        out = out.unionByName(p)
    # keys should be passed explicitly (every caller has them); the
    # name-prefix inference is a convenience fallback that silently
    # drops a grouping column whose NAME starts with mv_
    if keys is None:
        keys = [c for c in out.columns if not c.startswith("mv_")]
    return out.groupBy(*keys).agg(
        F.sum("mv_n").cast("long").alias("mv_n"),
        F.sum("mv_sum").alias("mv_sum"),
        F.min("mv_min_ts").alias("mv_min_ts"),
        F.max("mv_max_ts").alias("mv_max_ts"),
    )


def streaming_mv_maintain(
    spark,
    drops_dir: str,
    mv_table,
    checkpoint_dir: str,
    keys: list[str],
    value_col: str,
    ts_col: str,
    schema: str,
    max_files_per_trigger: int | None = 1,
):
    """Continuous incremental materialized-view maintenance — the
    streaming twin of pl13: stream JSONL event drops, per micro-batch
    aggregate the BATCH to mergeable partials (mv_partials) and
    commit mv_merge(current MV, delta) as a new TxTable version whose
    manifest records the batch id. Returns the StreamingQuery.

    Exactly-once without double counting: MV merge is NOT naturally
    idempotent (replaying an applied batch would add its counts
    again — unlike the CDC merge, whose key rewrite self-heals), so
    the at-least-once foreachBatch contract needs the transactional
    skip: a replayed batch id is found in the retained manifests and
    dropped BEFORE any work, and the version claim + batch-id record
    are one atomic manifest link (the txlog.exactly_once_sink
    protocol, here with overwrite-the-state semantics instead of
    append). Readers get snapshot isolation on the MV: every version
    is a complete, consistent rollup.

    Scale shape: per batch the work is one delta-sized partial agg
    plus an MV-row-sized (per-key, never per-row) merge and rewrite —
    the 100 TB base is never re-aggregated. The MV rewrite-per-batch
    is right-sized BECAUSE the MV is an aggregate; maintaining a
    per-row view this way would be a table copy per batch, and wants
    the CDC merge path instead."""
    from dot_spark.streaming.ingress import stream_jsonl_corpus
    from dot_spark.txlog import committed_ids_scanner

    committed_batch_ids = committed_ids_scanner(mv_table, key="mv_batch_id")

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        if batch_id in committed_batch_ids():
            return
        delta = mv_partials(batch, keys, value_col, ts_col)
        while True:
            v = mv_table.latest_version()
            merged = (
                mv_merge(mv_table.read(v), delta, keys=keys)
                if v
                else mv_merge(delta, keys=keys)
            )
            files = mv_table._stage(merged)
            if batch_id in committed_batch_ids():
                return  # a replay twin won while this attempt staged
            if mv_table._try_claim(
                v + 1,
                {"op": "overwrite", "files": files, "mv_batch_id": batch_id},
            ):
                return
            # lost the claim: latest advanced — re-merge against it

    stream = stream_jsonl_corpus(
        spark, drops_dir, schema, max_files_per_trigger=max_files_per_trigger
    )
    return (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def soft_corpus_build(docs: DataFrame) -> DataFrame:
    """End-to-end SOFT corpus build — quality gate (t25 hashed linear
    classifier, kept = score > 0) -> soft dedup over the SURVIVORS
    (dd18: MinHash+LSH pairs, component closure, keep_weight =
    1/|cluster|) -> temperature mixture over the weighted per-source
    token mass (p22's alpha=0.5 sqrt rule).

    Engine-parity discipline: the token mass is EXACT DECIMAL
    arithmetic (bigint tokens x 6-dp weights — sums are exact, so
    summation order cannot drift), and the mixture rate divides the
    identical doubles before a correctly-rounded sqrt.

    Returns (source, n_docs_kept, weighted_tokens, keep_rate).
    """
    from pyspark.sql import Window as W

    from dot_spark.operators.text import hashed_linear_quality
    from dot_spark.operators.textdedup import (
        normalize_text,
        soft_dedup_weights,
    )

    # BARRIER (lazy localCheckpoint) between scoring and the kept
    # filter: predicate pushdown otherwise re-inlines the scorer's
    # staged HOF chain into the Filter node — the split lands inside
    # the per-gram lambda and gram construction goes O(len²), the
    # exact disease hashed_linear_quality's staging exists to avoid
    # (measured 11.5 s -> 3.6 s for the gate at sf0.1, and the
    # materialized score table is read once instead of recomputed by
    # both downstream consumers). The table is (id, n_grams, score,
    # kept) — numeric-narrow; real pipelines persist gate scores
    # anyway.
    scored = hashed_linear_quality(docs).localCheckpoint(eager=False)
    surv_ids = scored.filter("kept").select("doc_id")
    survivors = docs.join(surv_ids, "doc_id").withColumn(
        "n_toks", F.size(F.split(normalize_text(F.col("text")), " "))
    )
    weighted = soft_dedup_weights(survivors, carry=("source", "n_toks"))
    mass_rows = weighted.select(
        "source",
        (
            F.col("n_toks").cast("decimal(20,6)")
            * F.col("keep_weight").cast("decimal(12,6)")
        ).alias("__mass"),
    )
    tot = mass_rows.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs_kept"),
        F.sum("__mass").alias("__mass_total"),
    )
    min_mass = F.min("__mass_total").over(W.partitionBy())
    return tot.select(
        "source",
        "n_docs_kept",
        F.round(F.col("__mass_total").cast("double"), 4).alias(
            "weighted_tokens"
        ),
        F.round(
            F.sqrt(
                min_mass.cast("double") / F.col("__mass_total").cast("double")
            ),
            6,
        ).alias("keep_rate"),
    )
