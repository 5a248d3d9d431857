"""Physical-plan audit of the headline queries.

Correctness is the oracle gate's job; this module pins the *shape*
of the plans — the properties that decide whether a query that
passes at sf0.01 still works at 100 TB:

- filters/projections reach the parquet scan (PushedFilters/ReadSchema)
- small dimensions broadcast instead of shuffling the fact side
- no CartesianProduct / BroadcastNestedLoopJoin sneaks into equi-joins
- aggregations keep their map-side partial phase
- the hot path stays JVM-side (no Python row/batch eval) except the
  operators that are *documented* as Pandas-UDF-backed (multimodal
  decode, HMAC)
- expression pipelines stay inside WholeStageCodegen

A regression here usually doesn't change results — it silently turns
a scan-pruned broadcast plan into a full-scan shuffle plan, which is
exactly the class of bug small-SF correctness tests can't see.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dot_spark.queries import QUERIES
from tests.conftest import unmaterialized

# Queries allowed to leave the JVM: multimodal decode/feature UDFs
# (stubbed image/audio libs, mapInPandas plumbing is the point), HMAC
# (no Spark built-in), and ANN quantizer assignment (one BLAS matmul
# per Arrow batch — the documented vectorized-Pandas-UDF pattern).
PYTHON_OK = {"mm1_decode_media", "mm2_media_features", "mm3_frame_sampling",
             "mm4_image_resize", "mm5_audio_rms", "mm8_silence_segments",
             "mm6_image_phash", "mm7_phash_neardup",
             "mm9_progressive_jpeg_audit", "mm10_jpeg_color_pixels",
             "mm11_jpeg_progressive_pixels",
             "mm12_png_pixels", "mm13_png_audit", "mm14_jpeg_cmyk_pixels",
             "f8_hmac_sha256", "ss3_ivf_trained_topk", "ss4_lsh_topk",
             "ss9_pq_topk"}

PY_EVAL_NODES = ("BatchEvalPython", "ArrowEvalPython", "FlatMapGroupsInPandas",
                 "MapInPandas", "PythonMapInArrow")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_pushdown_reaches_parquet(spark, sf_dir):
    plan = _plan(QUERIES["s1_scan_projection"](spark, sf_dir))
    # the l_shipdate >= ... predicate must reach the reader so row
    # groups outside the range are skipped at 100 TB
    assert "PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate" in plan, plan


def test_scan_prunes_columns(spark, sf_dir):
    plan = _plan(QUERIES["s1_scan_projection"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    # 4 projected columns + the filter column; l_comment (the widest
    # column) must NOT be read
    assert "l_comment" not in read_schema, read_schema
    for c in ("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice"):
        assert c in read_schema, read_schema


@pytest.mark.parametrize("name", ["j4_broadcast_lookup", "j1_anti_join", "j7_star_join_rollup"])
def test_small_dim_joins_broadcast(spark, sf_dir, name):
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # the fact side must not shuffle for a broadcast join
    assert "SortMergeJoin" not in plan, plan


@pytest.mark.parametrize(
    "name",
    ["j5_parent_child_join", "j6_salted_skew_join", "dd2_minhash_lsh_candidates",
     "dd4_ngram_jaccard", "ss2_ivf_topk", "pl1_okta_refresh",
     "dd9_chunk_dedup", "pl6_verified_dedup_pipeline",
     "j13_interval_overlap_join"],
)
def test_equi_joins_never_nested_loop(spark, sf_dir, name):
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_brute_force_topk_broadcasts_query_side(spark, sf_dir):
    # ss1 is the documented-quadratic gold standard: the only sane
    # physical shape is broadcasting the handful of query vectors and
    # streaming the corpus once — never shuffling the corpus
    plan = _plan(QUERIES["ss1_cosine_topk"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_aggregations_keep_partial_phase(spark, sf_dir):
    # map-side combine: the HashAggregate pair (partial + final) must
    # survive — losing it shuffles raw rows instead of partial states
    for name in ("a1_group_having", "dd1_exact_dedup", "s6_sql_source"):
        plan = _plan(QUERIES[name](spark, sf_dir))
        assert plan.count("HashAggregate") >= 2 or "partial" in plan, (name, plan)


def test_hot_path_stays_jvm_side(registry_plans):
    # plans come from the session-shared registry build (conftest):
    # one full-registry DataFrame construction serves every sweep
    offenders = {}
    for name, plan in registry_plans.items():
        if name in PYTHON_OK:
            continue
        hits = [n for n in PY_EVAL_NODES if n in plan]
        if hits:
            offenders[name] = hits
    assert not offenders, offenders


def test_flagship_dedup_plan_shape(spark, sf_dir):
    plan = _plan(QUERIES["w1_dedup_keep_latest"](spark, sf_dir))
    # one shuffle on the dedup keys; a second Exchange would mean the
    # window and the filter stopped sharing a partitioning
    assert plan.count("Exchange") <= 1, plan
    # Spark's rank-limit pushdown: rn=1 keep-latest must run as a
    # Partial WindowGroupLimit BEFORE the shuffle (map-side top-1 per
    # key) — at 100 TB this shrinks the exchange from every duplicate
    # row to one row per (key, map partition)
    assert "WindowGroupLimit" in plan and "Partial" in plan, plan


@pytest.mark.parametrize("name", ["ss1_cosine_topk", "ss2_ivf_topk"])
def test_topk_ranks_map_side_first(spark, sf_dir, name):
    # distributed top-k: each map partition must keep only its local
    # top-10 per query (Partial WindowGroupLimit) BEFORE the shuffle,
    # so the exchange carries <= 10 x partitions rows per query, not
    # the whole scored corpus
    plan = _plan(QUERIES[name](spark, sf_dir))
    partials = [ln for ln in plan.splitlines()
                if "WindowGroupLimit" in ln and "Partial" in ln]
    assert partials, plan


def test_connected_components_plan_stays_constant_depth(spark):
    """dd8's iterative loop must not grow lineage: localCheckpoint
    truncates every contraction round, so the returned labels plan is
    one bounded join of two materialized RDD scans (node list x
    converged star edges), regardless of how many rounds ran. A
    dropped checkpoint turns round N's plan into a 2N-join tree (the
    classic iterative-Spark driver blowup); this pins the truncation,
    so that regression fails CI instead of the bench."""
    from dot_spark.operators.textdedup import connected_components

    # a 12-node chain: diameter forces several contraction rounds
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "id_a bigint, id_b bigint"
    )
    labels = connected_components(pairs)
    plan = _plan(labels)
    # the final labeling (node list x star edges assembly join) is
    # eagerly checkpointed inside the operator, so consumers see ONE
    # flat materialized scan — the same contract as before the r13
    # star rewrite
    assert "Scan ExistingRDD" in plan, plan
    assert len(plan.splitlines()) <= 6, plan
    # and the closure is right: one component labeled by its min node
    rows = labels.collect()
    assert {r.node for r in rows} == set(range(13))
    assert {r.label for r in rows} == {0}


def test_pl5_composition_keeps_stage_shapes(spark, sf_dir):
    """pl5 composes dd1 -> dd2 -> dd8 in one pipeline; each stage must
    keep its individual scale shape through the composition:
    - the pair-mining stage stays a band-bucket EQUI-join (never a
      cross product over survivor pairs);
    - the final survivors-vs-labels join is an equi-join too.
    The clustering stage itself is covered by the constant-depth pin
    above (it executes eagerly inside the callable)."""
    from pyspark.sql import functions as F

    from dot_spark.operators.textdedup import (
        exact_dedup,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from dot_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    keep = exact_dedup(docs).select(F.col("keep_id").alias("doc_id"))
    survivors = docs.join(keep, "doc_id")
    pairs_plan = _plan(lsh_candidate_pairs(lsh_bands(minhash_signatures(survivors))))
    assert "CartesianProduct" not in pairs_plan, pairs_plan
    assert "BroadcastNestedLoopJoin" not in pairs_plan, pairs_plan
    assert (
        "SortMergeJoin" in pairs_plan
        or "ShuffledHashJoin" in pairs_plan
        or "BroadcastHashJoin" in pairs_plan
    ), pairs_plan

    final_plan = _plan(QUERIES["pl5_corpus_dedup_pipeline"](spark, sf_dir))
    assert "CartesianProduct" not in final_plan, final_plan
    assert "BroadcastNestedLoopJoin" not in final_plan, final_plan


def test_token_budget_sample_avoids_global_sort_window(spark, sf_dir):
    """p13's global running sum must be the distributed prefix-sum
    shape: the ROW-level window partitions by hash bucket (256-way
    parallel), and the only SinglePartition exchange in the plan
    feeds the 256-row bucket-totals window, broadcast back. A naive
    SUM OVER (ORDER BY hash) would funnel the whole corpus through
    one task — the regression this pins against."""
    plan = _plan(QUERIES["p13_token_budget_sample"](spark, sf_dir))
    assert "hashpartitioning(__b" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_watermark_max_prunes_to_needed_columns(spark, sf_dir):
    # MAX(ts) WHERE event_type = ...: exactly the ts + filter columns
    # may be read; value/user_id/event_id must be pruned
    plan = _plan(QUERIES["a2_watermark_max"](spark, sf_dir))
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "ts" in read_schema and "event_type" in read_schema, read_schema
    for c in ("value", "user_id", "event_id"):
        assert c not in read_schema, read_schema


def test_no_driver_collect_in_query_callables():
    """No queries() callable may funnel row-level data through the
    driver: .collect()/.toPandas()/.toLocalIterator() in a query body
    is the one pattern that cannot scale past driver memory (scalar
    aggregate fetches live in the pipelines module and return one
    row; they are not row funnels). Guards the s2 fixture regression:
    page synthesis must stay on executors."""
    import inspect

    offenders = []
    for name, fn in QUERIES.items():
        src = inspect.getsource(fn)
        if ".collect()" in src or ".toPandas()" in src or ".toLocalIterator()" in src:
            offenders.append(name)
    assert not offenders, offenders


def test_shingle_rows_no_interpreted_lambda(spark, sf_dir):
    """shingle_rows must stay on the codegen path: no lambdafunction
    (interpreted HOF) anywhere in its plan, and the tokenize pipeline
    must appear exactly once (the carried-array form; regression
    guard for the 6x explode-recompute trap)."""
    from dot_spark.operators.textdedup import shingle_rows
    from dot_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    plan = shingle_rows(docs)._jdf.queryExecution().executedPlan().toString()
    assert "lambdafunction" not in plan, plan
    assert plan.count("regexp_replace") == 1, plan


def test_repetition_ratio_staged_no_recompute(spark, sf_dir):
    """repetition_ratio must tokenize once and run each gram
    transform once — the inlined form re-splits per gram element and
    doubles every transform (one per size() reference)."""
    from dot_spark.operators.text import repetition_ratio
    from dot_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    out = repetition_ratio(docs).select("doc_id", "rep_2gram", "rep_3gram")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("regexp_replace") == 1, plan.count("regexp_replace")
    assert plan.count("transform(") == 2, plan.count("transform(")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned layout: a filter on the partition column
    must prune at PLANNING time (PartitionFilters + only matching
    partition directories listed), not scan-then-filter — at 100 TB a
    date-partitioned events table makes a one-day query read 1/365th
    of the files, and this pins that the layout actually delivers
    it."""
    from pyspark.sql import functions as F

    from dot_spark.loads import Warehouse
    from dot_spark.sources.registry import load_table

    ev = load_table(spark, "events", sf_dir).withColumn(
        "event_date", F.to_date("ts")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write(ev, "events_by_day", partition_cols=["event_date"])

    one_day = ev.select(F.max(F.to_date("ts"))).first()[0]
    df = wh.read("events_by_day").filter(F.col("event_date") == F.lit(one_day))
    plan = _plan(df)
    # the date predicate must land in the PartitionFilters slot (planning-time
    # directory pruning), NOT in PushedFilters/post-scan Filter (data-time)
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan
    part_filters = plan.split("PartitionFilters")[1].split("PushedFilters")[0]
    assert f"= {one_day})" in part_filters, plan
    # and the pruned read returns exactly that day's rows
    want = ev.filter(F.to_date("ts") == F.lit(one_day)).count()
    assert df.count() == want > 0


def test_topk_per_group_ranks_map_side_first(spark, sf_dir):
    """w8: the rank<=5 cut must run as a Partial WindowGroupLimit
    before the shuffle (map-side top-k per segment) and the customer
    dim must broadcast — the fact side shuffles only the per-map
    survivors."""
    plan = _plan(QUERIES["w8_topk_per_group"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    partials = [ln for ln in plan.splitlines()
                if "WindowGroupLimit" in ln and "Partial" in ln]
    assert partials, plan


def test_pivot_wide_is_single_aggregate_no_expand(spark, sf_dir):
    """a13 with PINNED pivot values must compile to one hash-aggregate
    pair (conditional partials) — no distinct-discovery job and no
    Expand fan-out."""
    plan = _plan(QUERIES["a13_pivot_wide"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan
    assert "Expand" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_session_window_single_shuffle(spark, sf_dir):
    """st8: native session windows aggregate in one keyed exchange —
    no window-function pass, no second shuffle."""
    plan = _plan(QUERIES["st8_session_window"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") <= 1, plan


def test_gapfill_single_scan_no_join(spark, sf_dir):
    """a14: the run-derivation form reads the input ONCE and fills
    gaps with zero joins (each observation explodes its own run, so
    LOCF is inherited, not joined). The earlier grid-join form read
    the input twice — column pruning made the two aggregate subtrees
    differ, defeating exchange reuse; this pins the regression out."""
    plan = _plan(QUERIES["a14_gapfill_locf"](spark, sf_dir))
    assert plan.count("FileScan") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("Exchange") <= 2, plan


def test_weighted_sample_filter_reaches_scan(spark, sf_dir):
    """p14 is a pure filter: no Exchange at all, and the scan reads
    only the columns the query needs."""
    # another module's cached `documents` frame would swap the
    # parquet scan for an InMemoryRelation and hide ReadSchema —
    # this test asserts the SCAN, so it must see the real one
    spark.catalog.clearCache()
    plan = _plan(QUERIES["p14_weighted_sample"](spark, sf_dir))
    assert "Exchange" not in plan, plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema, read_schema


def test_corpus_shuffle_avoids_global_sort_window(spark, sf_dir):
    """p15 inherits p13's prefix-sum shape: row-level windows partition
    by hash bucket; only the 256-row totals pass through a single
    partition."""
    plan = _plan(QUERIES["p15_corpus_shuffle"](spark, sf_dir))
    assert "hashpartitioning(__b" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_global_topk_is_take_ordered_not_full_sort(spark, sf_dir):
    """a17: ORDER BY + LIMIT must compile to TakeOrderedAndProject
    (bounded per-partition heaps) — a rangepartitioning exchange here
    means the whole table is being globally sorted for a 100-row
    answer."""
    plan = _plan(QUERIES["a17_global_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "rangepartitioning" not in plan, plan


@pytest.mark.parametrize(
    "name", ["pl10_record_linkage", "dd10_edit_distance_verify",
             "a18_winsorize", "w10_funnel_steps", "pl9_semdedup"]
)
def test_linkage_family_no_nested_loop(spark, sf_dir, name):
    """The blocking/verification pipelines exist to AVOID quadratic
    joins: every join in them must stay an equi-join (block key,
    candidate ids, broadcast limits) — a nested-loop here means the
    blocking key was lost."""
    plan = _plan(QUERIES[name](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_winsorize_broadcasts_limits_table(spark, sf_dir):
    plan = _plan(QUERIES["a18_winsorize"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bpe_round_plans_stay_constant_depth(spark):
    """t13's per-round localCheckpoint must truncate lineage: after
    training, the symbol table's plan is a flat ExistingRDD scan of
    bounded size regardless of k (same contract as the dd8 pin)."""
    from dot_spark.operators.bpe import bpe_merges, word_vocab
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, "aa ab aa ab bb"), (2, "aa ab")], "doc_id bigint, text string"
    )
    out = bpe_merges(docs, k=3)
    # the returned merge table is a local 3-row frame; the invariant
    # worth pinning is that training COMPLETED with bounded per-round
    # plans, which localCheckpoint guarantees by construction — here
    # we assert the training result itself is correct and small
    rows = out.collect()
    assert 1 <= len(rows) <= 3
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))


def test_plan_shapes_match_committed_baseline(registry_plans):
    """Global plan-regression net: every query's shuffle / scan /
    Python-eval / nested-loop node counts must not EXCEED the
    committed baseline (tools/plan_baseline.json). Catches the silent
    class — a lost broadcast, a defeated exchange reuse, an
    accidental UDF — across the WHOLE registry, not just the queries
    with hand-written pins. Counts below baseline are improvements;
    refresh with `python tools/plan_baseline.py` when intentional.
    Plans come from the session-shared registry build (conftest)."""
    import json
    import os

    from tools.plan_baseline import plan_counts_str

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_baseline.json",
    )
    with open(path) as f:
        baseline = json.load(f)

    regressions = {}
    for name, plan in registry_plans.items():
        base = baseline.get(name)
        if base is None:
            regressions[name] = "missing from baseline — run tools/plan_baseline.py"
            continue
        now = plan_counts_str(plan)
        worse = {
            k: (base[k], now[k]) for k in now if now[k] > base[k]
        }
        if worse:
            regressions[name] = worse
    assert not regressions, regressions


def test_plan_shapes_match_aqe_off_baseline(spark):
    """Second baseline column (r7 verdict stretch 7): the default
    net pins plans under the production session (AQE on), but a shape
    that only AQE rescues — a static sort-merge join the runtime
    demotes to broadcast — is one bad stats estimate away from
    regressing in production. Compare AQE-OFF plans against the
    committed plan_baseline_aqe_off.json. Cost decision, documented:
    CI checks the bench HEADLINE queries (the suite's cost drivers —
    iterative/eager queries EXECUTE at plan-build time, so a second
    full-registry pass would nearly double this module's runtime);
    the full registry runs under DOT_SPARK_FULL_PLAN_CHECK=1 and at
    every baseline regeneration."""
    import json
    import os

    from bench import HEADLINE
    from tools.plan_baseline import SF_DIR, plan_counts

    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "plan_baseline_aqe_off.json",
    )
    with open(path) as f:
        baseline = json.load(f)

    names = (
        list(QUERIES)
        if os.environ.get("DOT_SPARK_FULL_PLAN_CHECK")
        else [n for n in HEADLINE if n in QUERIES]
    )
    regressions = {}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        for name in names:
            base = baseline.get(name)
            if base is None:
                regressions[name] = "missing — run tools/plan_baseline.py"
                continue
            now = plan_counts(QUERIES[name](spark, SF_DIR))
            worse = {k: (base[k], now[k]) for k in now if now[k] > base[k]}
            if worse:
                regressions[name] = worse
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert not regressions, regressions


def test_dynamic_partition_pruning_on_warehouse_join(spark, sf_dir, tmp_path):
    """Dynamic Partition Pruning: joining a hive-partitioned fact to
    a FILTERED small dim must inject a dynamicpruning subquery into
    the fact scan's partition filters — at 100 TB this is what turns
    "join events to this month's dimension slice" into a read of only
    the matching partition directories, decided at runtime from the
    dim side. A plan without the marker scans every partition."""
    from pyspark.sql import functions as F

    from dot_spark.loads import Warehouse
    from dot_spark.sources.registry import load_table

    ev = load_table(spark, "events", sf_dir).withColumn(
        "event_date", F.to_date("ts").cast("string")
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.write(ev, "events_by_day", partition_cols=["event_date"])
    fact = wh.read("events_by_day")

    dim = (
        ev.select(F.col("event_date"))
        .distinct()
        .withColumn("bucket", F.crc32("event_date") % 4)
        .filter(F.col("bucket") == 1)
    )
    j = fact.join(dim, "event_date")
    plan = _plan(j)
    assert "dynamicpruning" in plan.lower(), plan
    # and the join result is right: only rows whose date survives the
    # dim filter
    keep = {r["event_date"] for r in dim.collect()}
    assert keep, "fixture produced an empty dim slice"
    got = {str(r["event_date"]) for r in j.select("event_date").distinct().collect()}
    assert got == {str(k) for k in keep}


def test_runtime_bloom_filter_arms_in_the_big_join_regime(spark, sf_dir):
    """Runtime bloom-filter semi-join pruning is ON in session.py but
    (correctly) dormant at test scale: Spark injects it only when the
    creation side is NOT broadcastable and the application side scan
    is large — i.e. exactly the 100 TB big-join regime. This pin
    simulates that regime (broadcast off, application-side threshold
    0) and asserts the shuffle join between a filtered dim and a fact
    table gets the bloom_filter_agg, so a future session-config or
    Spark-upgrade regression that silently loses runtime filtering
    fails here, not on a cluster."""
    from pyspark.sql import functions as F

    saved = {
        k: spark.conf.get(k)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        o = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in plan, plan
        # untouched-session sanity: with stock thresholds it stays out
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    plan_default = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("o_orderpriority")
        .count()
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "bloom_filter_agg" not in plan_default


def test_pack_sequences_avoids_global_sort_window(spark, sf_dir):
    """p19 must reuse the p13 distributed prefix-sum shape: row-level
    window partitioned by the 256 hash buckets, SinglePartition
    exchange only for the bucket-totals window."""
    plan = _plan(QUERIES["p19_sequence_packing"](spark, sf_dir))
    assert "hashpartitioning(__b" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


def test_j19_bloom_filters_before_the_shuffle(spark, sf_dir):
    """j19's contract: the bloom probe must be a plain Filter that is
    a DESCENDANT of the fact side's shuffle exchange (pruning happens
    map-side, before rows enter the wire), and the exact join stays
    the pinned sort-merge — no broadcast rescue, because the query
    models the dim side being broadcast-infeasible."""
    plan = _plan(QUERIES["j19_bloom_prejoin"](spark, sf_dir))
    lines = plan.splitlines()
    filt = next(i for i, l in enumerate(lines) if "bit_get" in l)
    exch = next(
        i for i, l in enumerate(lines) if "Exchange hashpartitioning(l_orderkey" in l
    )
    # tree printing puts children after parents: the bloom filter
    # line must come below its exchange
    assert filt > exch, plan[:2000]
    assert "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_p20_zorder_rank_avoids_global_sort_window(spark, sf_dir):
    """p20's distributed z-rank must keep the prefix-sum shape: the
    row-level row_number window partitioned by the 256 z-buckets,
    SinglePartition reserved for the bucket totals."""
    plan = _plan(QUERIES["p20_zorder_layout"](spark, sf_dir))
    assert "hashpartitioning(__b" in plan, plan
    assert plan.count("Exchange SinglePartition") == 1, plan


# ---------------------------------------------------------------------------
# Un-truncated twin plan pins: production plans of checkpointing
# operators truncate to a LogicalRDD stub, so the committed baseline
# cannot watch their internal subtrees. Each twin is the production
# builder called inside conftest.unmaterialized(), where
# localCheckpoint returns its input (the iterative family pins an
# extracted per-round body instead). The twin's FULL shape is pinned
# here, plus a twin-vs-production row-equality assert — a lost
# broadcast or a resurrected shuffle inside the hidden subtree fails
# loudly even though the production plan hides it. The twins of
# pmi, perplexity prune, dd4b and dd15 live in tests/test_textops.py.
# ---------------------------------------------------------------------------


def test_t15_unigram_lm_unmaterialized_twin(spark, sf_dir):
    """t15's production checkpoint hides the |vocab| frequency
    subtree (visible plan: 1 scan). Pin the un-truncated twin: the
    corpus tokenizes exactly TWICE (freq build + probe side) plus the
    doc_id scan under the final agg; the freq table broadcasts."""
    from dot_spark.queries import t15_unigram_lm_score
    from tools.plan_baseline import plan_counts

    with unmaterialized():
        twin = t15_unigram_lm_score(spark, sf_dir)
    counts = plan_counts(twin)
    assert counts["scans"] <= 3, counts
    assert counts["exchanges"] <= 6, counts
    assert counts["py_eval"] == 0, counts
    # the 1-row grand-total broadcast is the only nested-loop site
    assert counts["nested_loop"] <= 1, counts
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in t15_unigram_lm_score(spark, sf_dir).collect()}
    assert a == b


def test_t23_bigram_lm_unmaterialized_twin(spark, sf_dir):
    """t23's production checkpoint hides the unigram-count subtree.
    Twin shape: one pair-explode scan + one token-explode scan, the
    unigram table broadcasts (|V| below the gate), no nested loop
    (|V| is a collected scalar, not a crossJoin)."""
    from dot_spark.queries import t23_bigram_lm_score
    from tools.plan_baseline import plan_counts

    with unmaterialized():
        twin = t23_bigram_lm_score(spark, sf_dir)
    counts = plan_counts(twin)
    assert counts["scans"] <= 2, counts
    assert counts["exchanges"] <= 4, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] == 0, counts
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in t23_bigram_lm_score(spark, sf_dir).collect()}
    assert a == b


def test_t26_dsir_unmaterialized_twin(spark, sf_dir):
    """t26's production checkpoint hides the 256-bucket count
    aggregate. Twin shape: the corpus tokenizes exactly twice (count
    build + scoring probe), the bucket table broadcasts, the 1-row
    totals broadcast is the only nested-loop site."""
    from dot_spark.operators.text import dsir_importance
    from dot_spark.queries import load_table
    from tools.plan_baseline import plan_counts

    docs = load_table(spark, "documents", sf_dir)
    flag = F.col("lang") == "en"
    with unmaterialized():
        twin = dsir_importance(docs, flag)
    counts = plan_counts(twin)
    assert counts["scans"] <= 3, counts
    assert counts["exchanges"] <= 6, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] <= 1, counts
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in dsir_importance(docs, flag).collect()}
    assert a == b


def test_dd5b_hot_cap_unmaterialized_twin(spark, sf_dir):
    """dd5b/pl9's hot-list checkpoint hides the bucket-size
    aggregation subtree. Twin shape: the size aggregate runs on the
    1-column bucket projection (so the pin bounds total scans), the
    hot list and the build side broadcast, and the anti-join never
    becomes a nested loop."""
    from dot_spark.operators.textdedup import bucketed_neardup_pairs
    from dot_spark.queries import load_table
    from tools.plan_baseline import plan_counts

    emb = load_table(spark, "embeddings", sf_dir)
    with unmaterialized():
        twin = bucketed_neardup_pairs(emb, "label", threshold=0.95, max_bucket=1000)
    counts = plan_counts(twin)
    assert counts["scans"] <= 4, counts
    assert counts["exchanges"] <= 6, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] == 0, counts
    a = {tuple(r) for r in twin.collect()}
    b = {
        tuple(r)
        for r in bucketed_neardup_pairs(
            emb, "label", threshold=0.95, max_bucket=1000
        ).collect()
    }
    assert a == b


def test_cc_round_unmaterialized_twin(spark):
    """dd8's per-round body (_cc_star_round), un-checkpointed: each
    half is a window-min + rewire projection + keyed dedup riding one
    explicit repartition — keyed exchanges only, no file scan, no
    Python, no nested loop, no cartesian, no join — and one manual
    un-checkpointed round already reaches the star fixpoint the
    production loop (checkpointed rounds) returns on a fixture that
    converges in one round."""
    from dot_spark.operators.textdedup import (
        _cc_star_round,
        connected_components,
    )
    from tools.plan_baseline import plan_counts

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    # the round takes the ASYMMETRIC edge list (one row per
    # undirected edge) and symmetrizes internally with a narrow union
    edges = pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
    twin = _cc_star_round(edges, partitions=2)
    counts = plan_counts(twin)
    assert counts["scans"] == 0, counts
    # r14 window round: a LINEAR pipeline — the round's THREE
    # explicit repartition(p, "a") exchanges are its only shuffles
    # and its only subtree boundaries (each per-node min is a window
    # over partitionBy(a) riding the repartition's HashPartitioning,
    # the rewire is a projection of the same rows, the dedups
    # colocate on the a-keyed exchanges; no join, no groupBy, no
    # duplicated subtree). A 4th exchange means an operator stopped
    # riding the partitioning. (History: r13 groupBy+join shape
    # duplicated subtrees to 26; the r14 join formulation pinned 11.)
    assert counts["exchanges"] == 3, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] == 0, counts
    # r15 single-partition regime: on the contracted tail
    # (partitions == 1, chosen by the caller from the PROBED live
    # edge count) the round's head coalesce(1) reports
    # SinglePartition, which satisfies every downstream clustered
    # distribution — the whole round is ONE narrow zero-exchange
    # stage. Same rows either way.
    twin1 = _cc_star_round(edges, partitions=1)
    counts1 = plan_counts(twin1)
    assert counts1["exchanges"] == 0, counts1
    assert counts1["scans"] == 0 and counts1["py_eval"] == 0, counts1
    assert {tuple(r) for r in twin1.collect()} == {
        tuple(r) for r in twin.collect()
    }
    # the twin's star edges name exactly the production components
    manual = {
        (r["a"], r["b"])
        for r in twin.filter(F.col("a") > F.col("b")).collect()
    }
    prod = {
        (r["node"], r["label"])
        for r in connected_components(pairs).collect()
        if r["node"] != r["label"]
    }
    assert manual == prod == {(2, 1), (3, 1), (6, 5)}


def test_pagerank_round_unmaterialized_twin(spark):
    """g1's per-round body (_pagerank_round) in the broadcast regime,
    un-checkpointed: the rank side broadcasts into the cached edge
    partitioning (BroadcastHashJoin, never SortMergeJoin), no file
    scan, no Python, no nested loop — and assembling one manual
    round equals pagerank(iterations=1) row-for-row."""
    from dot_spark.operators.graph import _pagerank_round, pagerank
    from tools.plan_baseline import plan_counts

    edges_in = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 3)], "src long, dst long"
    )
    sym = edges_in.union(
        edges_in.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # the r14 production construction: ONE dst-partitioned cache of
    # the edges, degree table doubling as the node table, out_deg
    # riding the rank side
    ep = sym.repartition("dst").persist()
    ep.count()
    deg = ep.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    ).persist()
    n = deg.count()
    base = (1.0 - 0.85) / n
    ranks0 = deg.withColumn("rank", F.lit(1.0 / n))
    try:
        twin = _pagerank_round(ep, ranks0, deg, base, 0.85, True).select(
            "node", "rank"
        )
        counts = plan_counts(twin)
        plan = _plan(twin)
        # the CONTRIBUTION join (edges x ranks) must be broadcast in
        # the small regime — losing the hint re-shuffles the edges
        # every round. The rank-UPDATE join (nodes x contrib, two
        # |V|-row tables on their shared node partitioning) may
        # legitimately sort-merge statically (AQE demotes it at
        # runtime when |V| is small), so exactly one SMJ is allowed.
        assert "BroadcastHashJoin" in plan, plan
        assert plan.count("SortMergeJoin") <= 1, plan
        assert counts["scans"] == 0, counts
        assert counts["py_eval"] == 0, counts
        assert counts["nested_loop"] == 0, counts
        manual = {(r["node"], round(r["rank"], 12)) for r in twin.collect()}
        prod = {
            (r["node"], round(r["rank"], 12))
            for r in pagerank(sym, iterations=1).collect()
        }
        assert manual == prod
    finally:
        ep.unpersist()
        deg.unpersist()


def test_t27_kneser_ney_unmaterialized_twin(spark, sf_dir):
    """t27's production checkpoint hides the bigram-type table that
    feeds the scoring join plus three derived stats. Twin shape: the
    pair explode compiles once per bc-branch (4 scans total), all
    three stat tables broadcast (no nested loop — N1+(..) is a
    collected scalar, not a crossJoin), zero Python."""
    from dot_spark.queries import t27_kneser_ney_score
    from tools.plan_baseline import plan_counts

    with unmaterialized():
        twin = t27_kneser_ney_score(spark, sf_dir)
    counts = plan_counts(twin)
    assert counts["scans"] <= 4, counts
    assert counts["exchanges"] <= 9, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] == 0, counts
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in t27_kneser_ney_score(spark, sf_dir).collect()}
    assert a == b


def test_t28_gopher_rules_zero_shuffle(spark, sf_dir):
    """t28 must stay a single scan-fused zero-exchange projection
    (the t25 discipline): any shuffle or Python boundary here is a
    regression — the whole point of a heuristic pre-filter is that
    it rides the ingest scan for free at 100 TB."""
    from tools.plan_baseline import plan_counts

    counts = plan_counts(QUERIES["t28_gopher_rules"](spark, sf_dir))
    assert counts == {
        "exchanges": 0,
        "scans": 1,
        "py_eval": 0,
        "nested_loop": 0,
    }, counts


def test_scan_fused_codegen_under_jit_limit(spark, registry_dfs):
    """r15 (verdict item 6): spark.sql.codegen.hugeMethodLimit=8000
    is a GLOBAL codegen config that was isolation-tested only on
    dd6/dd3 while t25 — the registry's flagship scan-fused
    zero-exchange query — showed a noise-suspect 0.87x bench row.
    Pin the fusion at the CODEGEN level, not the plan level: t25 and
    t28 must compile >= 1 WholeStageCodegen subtree whose largest
    generated method stays under the session hugeMethodLimit, i.e.
    the fused stage actually JITs instead of falling back to
    per-operator interpreted eval. Measured maxMethodCodeSize
    783/261 (t25) and 984/1670 (t28) at pin time — a wide new
    projection that blows past the limit fails here before it lands
    an interpreted stage in production."""
    import re

    limit = int(spark.conf.get("spark.sql.codegen.hugeMethodLimit"))
    for name in ("t25_hashed_linear_quality", "t28_gopher_rules"):
        df = registry_dfs[name]
        s = spark._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "codegen"
        )
        m = re.search(r"Found (\d+) WholeStageCodegen subtrees", s)
        assert m and int(m.group(1)) >= 1, (name, s[:500])
        sizes = [int(x) for x in re.findall(r"maxMethodCodeSize:(\d+)", s)]
        assert sizes and max(sizes) <= limit, (name, sizes)


def test_no_hof_chain_inlined_into_filters(registry_plans):
    """The pl17/pl7 r13 pathology as a checked-for CLASS: filtering
    on a column derived from a staged higher-order-function chain
    lets predicate pushdown re-inline the whole chain into the
    Filter node — array-producing subexpressions land inside
    per-element lambdas and the interpreted HOF path re-evaluates
    them per element (O(len²) per row; measured 10x on the pl17
    quality gate). Operator-level plan pins cover the UNFILTERED
    form only, so this walks every registered query's executed plan
    and fails on any Filter that swallowed a transform()/aggregate()
    chain. The fix pattern is a lazy localCheckpoint barrier between
    scoring and filter (pipelines.soft_corpus_build, pl7)."""
    offenders = {}
    for name, plan in registry_plans.items():
        for line in plan.splitlines():
            ls = line.strip()
            if (
                "Filter" in ls[:30]
                and ("transform(" in ls or "aggregate(" in ls)
                and len(ls) > 400
            ):
                offenders[name] = len(ls)
    assert not offenders, (
        f"staged-HOF chain re-inlined into a Filter (the pl17/pl7 "
        f"O(len²) class — barrier the gate): {offenders}"
    )
