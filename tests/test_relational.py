"""Relational core (reference J1-J4, A1-A2)."""

from __future__ import annotations

from pyspark.sql import functions as F

from dot_spark.operators.relational import (
    anti_join,
    broadcast_lookup,
    group_having_count,
    union_distinct,
    watermark_max,
)
from dot_spark.plans import physical_plan


def test_anti_join_excludes(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("c",)], "id string")
    excl = spark.createDataFrame([("b",)], "id string")
    assert sorted(r.id for r in anti_join(ids, excl, "id").collect()) == ["a", "c"]


def test_anti_join_is_broadcast(spark):
    ids = spark.createDataFrame([("a",)], "id string")
    excl = spark.createDataFrame([("b",)], "id string")
    plan = physical_plan(anti_join(ids, excl, "id"))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_union_distinct(spark):
    a = spark.createDataFrame([("x",), ("y",)], "id string")
    b = spark.createDataFrame([("y",), ("z",)], "id string")
    assert sorted(r.id for r in union_distinct(a, b).collect()) == ["x", "y", "z"]


def test_broadcast_lookup_left_keeps_unmatched(spark):
    facts = spark.createDataFrame([(1, "j1"), (2, "jX")], "id long, job string")
    dim = spark.createDataFrame([("j1", "fabric")], "job string, target string")
    out = {r.id: r.target for r in broadcast_lookup(facts, dim, "job").collect()}
    assert out == {1: "fabric", 2: None}


def test_group_having_threshold(spark):
    df = spark.createDataFrame([("g1",)] * 5 + [("g2",)] * 2, "gid string")
    out = group_having_count(df, ["gid"], 3).collect()
    assert len(out) == 1 and out[0].gid == "g1" and out[0].cnt == 5


def test_watermark_max_with_predicate(spark):
    import datetime as dt

    df = spark.createDataFrame(
        [("s1", dt.datetime(2024, 1, 1)), ("s1", dt.datetime(2024, 1, 5)),
         ("s2", dt.datetime(2024, 1, 9))],
        "store string, ts timestamp",
    )
    wm = watermark_max(df, "ts", F.col("store") == "s1").collect()[0].watermark
    assert wm == dt.datetime(2024, 1, 5)


def test_asof_join_semantics(spark):
    from dot_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [(1, 10, "e1"), (1, 25, "e2"), (1, 5, "e0"), (2, 5, "e3")],
        "k INT, ts INT, id STRING",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (2, 50, 500.0)],
        "k INT, ts INT, v DOUBLE",
    )
    got = {r.id: (r.asof_ts, r.asof_v)
           for r in asof_join(left, right, on="k").collect()}
    # tie is inclusive (e1@10 matches right@10); latest-not-future
    # wins (e2@25 -> right@20); no prior row -> dropped (e0, e3)
    assert got == {"e1": (10, 100.0), "e2": (20, 200.0)}

    kept = {r.id: r.asof_ts
            for r in asof_join(left, right, on="k", how="left").collect()}
    assert kept == {"e1": 10, "e2": 20, "e0": None, "e3": None}


def test_asof_join_is_single_shuffle(spark):
    from dot_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 10, "x")], "k INT, ts INT, id STRING")
    right = spark.createDataFrame([(1, 5, 1.0)], "k INT, ts INT, v DOUBLE")
    plan = physical_plan(asof_join(left, right, on="k"))
    # union + window carry: exactly one hash exchange on the key, no
    # join node at all (the range-join explosion never exists)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "CartesianProduct"):
        assert bad not in plan, plan


def test_range_join_matches_inequality_join(spark):
    from dot_spark.operators.relational import range_join

    pts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate([0.0, 3.9, 4.0, 7.99, 8.0, 100.0])],
        "pid INT, x DOUBLE",
    )
    iv = spark.createDataFrame(
        [(1, 0.0, 4.0), (2, 2.0, 8.0), (3, 90.0, 101.0)],
        "iid INT, lo DOUBLE, hi DOUBLE",
    )
    got = sorted(
        (r.pid, r.iid)
        for r in range_join(pts, iv, "x", "lo", "hi", bin_width=4.0).collect()
    )
    naive = sorted(
        (r.pid, r.iid)
        for r in pts.crossJoin(iv)
        .filter("x >= lo AND x < hi")
        .collect()
    )
    assert got == naive
    # half-open semantics: x=4.0 not in [0,4), x=8.0 not in [2,8)
    assert (2, 1) not in got and (4, 2) not in got


def test_range_join_is_hash_join_not_nested_loop(spark):
    from dot_spark.operators.relational import range_join

    pts = spark.createDataFrame([(1, 5.0)], "pid INT, x DOUBLE")
    iv = spark.createDataFrame([(1, 0.0, 10.0)], "iid INT, lo DOUBLE, hi DOUBLE")
    plan = physical_plan(range_join(pts, iv, "x", "lo", "hi", 4.0))
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan, plan
    assert "HashJoin" in plan or "SortMergeJoin" in plan, plan


def test_asof_join_null_payload_row_atomicity(spark):
    """A right row with a NULL payload column must be carried WHOLE:
    the match's NULL stays NULL instead of being back-filled from an
    older right row (per-column ignorenulls carry would stitch
    together a row that never existed)."""
    from dot_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 30, "e")], "k INT, ts INT, id STRING")
    right = spark.createDataFrame(
        [(1, 10, 1.0, "old"), (1, 20, None, "new")],
        "k INT, ts INT, v DOUBLE, tag STRING",
    )
    row = asof_join(left, right, on="k").collect()[0]
    assert row.asof_ts == 20 and row.asof_tag == "new"
    assert row.asof_v is None, "NULL payload back-filled from an older right row"


def test_asof_join_right_columns_with_odd_names(spark):
    """Right payload columns that are not bare identifiers (spaces,
    dashes) must survive the struct carry."""
    from dot_spark.operators.relational import asof_join

    left = spark.createDataFrame([(1, 30)], "k INT, ts INT")
    right = spark.createDataFrame([(1, 10, 5.0)], ["k", "ts", "sync timestamp"])
    row = asof_join(left, right, on="k").collect()[0]
    assert row.asof_ts == 10 and row["asof_sync timestamp"] == 5.0


def test_expectations_audit_null_custkey_counts_as_orphan(spark, sf_dir):
    """The referential rule must treat NULL foreign keys as orphans
    (anti-join semantics) — the NOT IN trap would silently report
    zero violations the moment one NULL key appears."""
    from pyspark.sql import functions as F

    from dot_spark.sources.registry import load_table

    orders = load_table(spark, "orders", sf_dir).limit(50).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, None)
        .otherwise(F.col("o_custkey"))
        .alias("o_custkey"),
    )
    cust = load_table(spark, "customer", sf_dir).select("c_custkey")
    orphan = orders.join(
        F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"], "left_anti"
    ).count()
    n_null = orders.filter(F.col("o_custkey").isNull()).count()
    assert n_null > 0
    assert orphan >= n_null
