"""Scale-technique tests: skew salting and bucketed co-located joins,
plus the K-times upsampler behind tools/scaling_receipt.py.

These verify the two load-time/plan-time levers the 100 TB design
leans on beyond what Catalyst does automatically: salting spreads a
hot join key across reducers; bucketing pre-pays the join shuffle at
write time.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dot_spark.loads import Warehouse
from dot_spark.operators.relational import salted_join
from dot_spark.plans import final_plan, physical_plan
from dot_spark.sources.registry import load_table

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture()
def wh(spark, tmp_path):
    return Warehouse(spark, str(tmp_path / "warehouse"))


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_salted_join_matches_plain_inner(spark, sf_dir):
    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id")
    dim = load_table(spark, "customer", sf_dir).select(
        F.col("c_custkey").alias("user_id"), "c_name"
    )
    plain = ev.join(dim, "user_id").select("event_id", "user_id", "c_name")
    salted = salted_join(ev, dim, "user_id", buckets=4).select(
        "event_id", "user_id", "c_name"
    )
    assert _rows(salted) == _rows(plain)


def test_salted_join_matches_plain_left(spark):
    big = spark.createDataFrame(
        [(i, i % 3) for i in range(30)] + [(100, 99)], "row_id long, k long"
    )
    small = spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], "k long, v string")
    plain = big.join(small, "k", "left").select("row_id", "k", "v")
    salted = salted_join(big, small, "k", how="left", buckets=4).select(
        "row_id", "k", "v"
    )
    assert _rows(salted) == _rows(plain)


def test_salted_join_left_anti(spark):
    big = spark.createDataFrame([(1, 1), (2, 2), (3, 9)], "row_id long, k long")
    small = spark.createDataFrame([(1,), (2,)], "k long")
    out = salted_join(big, small, "k", how="left_anti", buckets=4)
    assert _rows(out.select("row_id")) == [(3,)]


def test_salted_join_rejects_right_outer(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        salted_join(df, df, "k", how="right")


def test_salted_join_spreads_hot_key(spark):
    # one key, many rows: every salt bucket must receive some of them
    big = spark.createDataFrame([(i, 7) for i in range(400)], "row_id long, k long")
    salt = F.pmod(F.xxhash64("row_id", "k"), F.lit(8))
    n_buckets = big.select(salt.alias("s")).distinct().count()
    assert n_buckets == 8


def test_bucketed_join_is_shuffle_free(wh, spark, sf_dir):
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    wh.write_bucketed(o, "orders_b", ["o_orderkey"], num_buckets=8)
    wh.write_bucketed(li, "lineitem_b", ["o_orderkey"], num_buckets=8)

    ob, lb = wh.read_bucketed("orders_b"), wh.read_bucketed("lineitem_b")
    # force a non-broadcast join so the bucketing is what saves the shuffle
    joined = ob.hint("merge").join(lb, "o_orderkey")
    plan = physical_plan(joined)
    assert "Exchange" not in plan, plan

    plain = o.join(li, "o_orderkey")
    assert joined.count() == plain.count()


def test_bucketed_groupby_is_shuffle_free(wh, spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_quantity"
    )
    wh.write_bucketed(li, "li_bg", ["l_orderkey"], num_buckets=8)
    agg = wh.read_bucketed("li_bg").groupBy("l_orderkey").agg(F.sum("l_quantity"))
    plan = physical_plan(agg)
    assert "Exchange" not in plan, plan


def test_zorder_rewrite_narrows_per_file_ranges(wh, spark, sf_dir):
    """Z-order clustering must make every output file's parquet
    min/max footer stats narrow on BOTH interleaved columns at once —
    the property multi-dimensional scan pruning depends on (a linear
    sort can only narrow its leading column; the natural event order
    narrows neither). Checked against the actual written footers, and
    the rewrite must preserve the rows exactly."""
    import glob
    import os

    import pyarrow.parquet as pq

    from dot_spark.sources.registry import load_table

    ev = load_table(spark, "events", sf_dir).select("event_id", "user_id", "value")
    wh.write(ev, "ev_z")
    wh.zorder("ev_z", ["user_id", "value"], n_files=8)

    got = wh.read("ev_z")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ev.collect()))

    files = glob.glob(os.path.join(wh.path("ev_z"), "*.parquet"))
    assert len(files) >= 4, files
    spans: dict[str, list[float]] = {"user_id": [], "value": []}
    globals_: dict[str, tuple[float, float]] = {}
    for col in spans:
        mn, mx = ev.selectExpr(f"min({col})", f"max({col})").first()
        globals_[col] = (float(mn), float(mx))
    for f in files:
        md = pq.read_metadata(f)
        names = md.schema.names
        for col in spans:
            j = names.index(col)
            lo = min(
                float(md.row_group(g).column(j).statistics.min)
                for g in range(md.num_row_groups)
            )
            hi = max(
                float(md.row_group(g).column(j).statistics.max)
                for g in range(md.num_row_groups)
            )
            spans[col].append(hi - lo)
    for col, widths in spans.items():
        gmn, gmx = globals_[col]
        avg = sum(widths) / len(widths)
        # 8 z-ordered files over 2 dims ~ sqrt(8) slices per dim: each
        # file should cover well under 60% of the global range on BOTH
        # columns (natural order covers ~100% of each)
        assert avg < 0.6 * (gmx - gmn), (col, avg, gmx - gmn, widths)


def test_zorder_key_edge_cases(spark):
    """The Morton key must stay inside a signed long (bits auto-reduce
    when len(cols)*bits would reach the sign bit — position 63 flips
    ordering, >=64 wraps under JVM shift masking), and empty tables /
    all-NULL columns must degrade gracefully instead of crashing on
    float(None)."""
    from dot_spark.loads import zorder_key

    # 4 columns at default bits=16 would place bits at positions >=63
    df = spark.createDataFrame(
        [(i, i * 2, i * 3, 100 - i) for i in range(50)],
        "a long, b long, c long, d long",
    )
    keys = [r.k for r in df.select(zorder_key(df, ["a", "b", "c", "d"]).alias("k")).collect()]
    assert all(k is not None and k >= 0 for k in keys)
    assert len(set(keys)) > 1  # still discriminates

    empty = spark.createDataFrame([], "a long, b long")
    assert empty.select(zorder_key(empty, ["a", "b"]).alias("k")).count() == 0

    nulls = spark.createDataFrame([(1, None), (2, None)], "a long, b long")
    ks = [r.k for r in nulls.select(zorder_key(nulls, ["a", "b"]).alias("k")).collect()]
    assert len(ks) == 2 and all(k is not None and k >= 0 for k in ks)


def test_aqe_skew_split_engages_on_unsalted_hot_join(spark):
    """The receipts behind the 'AQE handles the skew' claims
    (textdedup.py ngram self-join, graph.py basket join): push ONE
    hot key through the UNSALTED shuffle-join path with skew
    thresholds scaled to fixture size (production partitions exceed
    the 256 MB default naturally) and verify (a) AQE's skew-split
    actually engages — the executed SMJ is marked skew=true — and
    (b) the result is value-identical to both the plain join baseline
    and the salted path, so either mitigation is semantics-free."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # fact: 200k rows, half on ONE hot key; dim: 5k distinct keys
        fact = spark.range(200_000).select(
            F.col("id").alias("row_id"),
            F.when(F.col("id") % 2 == 0, F.lit(7)).otherwise(F.col("id") % 5000).alias("k"),
        )
        dim = spark.range(5000).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
        joined = fact.join(dim, "k")
        # execute THIS dataframe's plan (count() would wrap it in a
        # new Dataset and leave joined's AQE plan un-finalized)
        n_plain = len(joined.collect())
        plan = final_plan(joined)
        assert "skew=true" in plan, plan[:4000]
        # semantics: unsalted+AQE == salted, row for row
        n_salted = salted_join(fact, dim, "k").count()
        assert n_plain == n_salted == 200_000
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_upsample_copies_every_table_k_fold_with_joins_intact(spark, sf_dir, tmp_path):
    """K=2 upsample: every table keeps its schema, K-copied tables
    double and region/nation do not, doc ids stay unique, each
    embedding copy lands in its own label cells (twice the labels,
    each holding as many rows as a source label), lineitem keeps
    referential integrity to orders, and a join across tables (j5)
    returns exactly twice its source rows."""
    from dot_spark.queries import QUERIES
    from dot_spark.sources.registry import TABLES
    from tools.scaling_receipt import SHARED_TABLES, upsample

    out = str(tmp_path / "sf_up")
    upsample(spark, sf_dir, 2, out)
    for t in TABLES:
        src, up = load_table(spark, t, sf_dir), load_table(spark, t, out)
        assert up.schema == src.schema, t
        assert up.count() == (1 if t in SHARED_TABLES else 2) * src.count(), t
    docs = load_table(spark, "documents", out)
    assert docs.select("doc_id").distinct().count() == docs.count()

    def label_cells(d):
        rows = load_table(spark, "embeddings", d).groupBy("label").count().collect()
        return sorted(r["count"] for r in rows)

    src_cells, up_cells = label_cells(sf_dir), label_cells(out)
    assert len(up_cells) == 2 * len(src_cells)
    assert up_cells == sorted(src_cells * 2)
    li = load_table(spark, "lineitem", out)
    orders = load_table(spark, "orders", out)
    orphans = li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti")
    assert orphans.count() == 0
    j5 = QUERIES["j5_parent_child_join"]
    assert j5(spark, out).count() == 2 * j5(spark, sf_dir).count()


def test_scaling_receipt_rejects_unknown_query_before_upsampling(sf_dir, tmp_path):
    """An unknown query name exits 2, named on stderr, before any
    upsample dir is made."""
    import subprocess
    import sys

    env = dict(os.environ, TMPDIR=str(tmp_path), SPARK_GRAFT_SF_DIR=sf_dir)
    out = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "scaling_receipt.py"), "zz_nope"],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert out.returncode == 2, out.stderr[-2000:]
    assert "zz_nope" in out.stderr
    assert os.listdir(tmp_path) == []
