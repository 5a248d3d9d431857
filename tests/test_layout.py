"""Z-order layout, skipping audit, bloom pre-join, skyline, and
incremental-MV tests (round 8, session 4 additions)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from dot_spark.operators.layout import (
    chunk_minmax,
    chunked_layout,
    quantize,
    ranked_by,
    zorder_key,
)
from dot_spark.operators.relational import (
    bloom_build,
    bloom_filter_array,
    bloom_prune,
    skyline,
)
from dot_spark.pipelines import mv_merge, mv_partials
from dot_spark.plans import physical_plan


def _py_spread(x: int) -> int:
    x &= 0xFFFF
    x = (x | (x << 8)) & 0x00FF00FF
    x = (x | (x << 4)) & 0x0F0F0F0F
    x = (x | (x << 2)) & 0x33333333
    x = (x | (x << 1)) & 0x55555555
    return x


def _py_morton(a: int, b: int) -> int:
    return _py_spread(a) | (_py_spread(b) << 1)


def test_zorder_key_matches_reference_bit_interleave(spark):
    pts = [(a, b) for a in (0, 1, 2, 255, 256, 65535) for b in (0, 3, 128, 65535)]
    df = spark.createDataFrame(pts, "a bigint, b bigint")
    rows = df.select(
        "a", "b", zorder_key(F.col("a"), F.col("b")).alias("z")
    ).collect()
    for r in rows:
        assert r.z == _py_morton(r.a, r.b), (r.a, r.b, r.z)


def test_zorder_key_is_monotone_in_block_order(spark):
    # within one 2x2 block, the 4 cells are consecutive z codes
    df = spark.createDataFrame(
        [(0, 0), (1, 0), (0, 1), (1, 1)], "a bigint, b bigint"
    )
    got = sorted(
        r.z for r in df.select(zorder_key(F.col("a"), F.col("b")).alias("z")).collect()
    )
    assert got == [0, 1, 2, 3]


def test_ranked_by_equals_global_row_number(spark):
    # adversarial: heavy ties in the order column, so bucket
    # boundaries and tiebreaks both matter
    rows = [((i * 7919) % 50, i) for i in range(3000)]
    df = spark.createDataFrame(rows, "v bigint, id bigint")
    got = {
        (r.v, r.id): r.rank
        for r in ranked_by(df, "v", ["id"], bucket=F.col("v") % 256).collect()
    }
    want = {
        (v, i): rank
        for rank, (v, i) in enumerate(sorted(rows))
    }
    assert got == want


def test_ranked_by_plan_has_no_global_row_window(spark):
    df = spark.createDataFrame([(i, i) for i in range(100)], "v bigint, id bigint")
    plan = physical_plan(ranked_by(df, "v", ["id"], bucket=F.col("v") % 256))
    # the only single-partition window allowed is over the 256
    # bucket totals; the row-level window must be hash-partitioned
    # by bucket
    assert "hashpartitioning(__b" in plan, plan


def test_chunked_layout_chunks_are_contiguous_and_full(spark):
    df = spark.createDataFrame([(i * 13 % 997, i) for i in range(997)], "v bigint, id bigint")
    lay = chunked_layout(df, "v", ["id"], bucket=F.shiftright(F.col("v"), 2), rows_per_chunk=100)
    stats = chunk_minmax(lay.withColumnRenamed("v", "val"), ["val"], "t").collect()
    by_chunk = sorted((r.chunk_id, r.n_rows, r.min_val, r.max_val) for r in stats)
    assert [c for c, *_ in by_chunk] == list(range(10))
    assert [n for _, n, *_ in by_chunk] == [100] * 9 + [97]
    # chunk value ranges must not overlap (they partition the sort order)
    for (_, _, _, hi), (_, _, lo, _) in zip(by_chunk, by_chunk[1:]):
        assert hi <= lo


def test_quantize_is_monotone_and_bounded(spark):
    df = spark.createDataFrame([(i,) for i in range(0, 2000, 7)], "v bigint")
    mx = df.agg(F.max("v").alias("mx"))
    q = (
        df.crossJoin(F.broadcast(mx))
        .select("v", quantize(F.col("v"), F.col("mx")).alias("q"))
        .orderBy("v")
        .collect()
    )
    assert all(0 <= r.q <= 255 for r in q)
    assert all(a.q <= b.q for a, b in zip(q, q[1:]))
    assert q[-1].q == 255


# ---------------------------------------------------------------------------
# Bloom pre-join
# ---------------------------------------------------------------------------


def test_bloom_has_no_false_negatives_and_prunes(spark):
    keys = spark.createDataFrame([(i * 3,) for i in range(500)], "k bigint")
    probe = spark.createDataFrame([(i,) for i in range(6000)], "k bigint")
    words = bloom_filter_array(keys, "k", m_bits=1 << 14, k=3)
    assert len(words) == (1 << 14) // 64
    kept = {r.k for r in bloom_prune(probe, "k", words, m_bits=1 << 14, k=3).collect()}
    member = {i * 3 for i in range(500)}
    assert member <= kept, "false negative: a present key was pruned"
    # ~2.4 bits/key here is a deliberately lossy filter; it must
    # still prune a solid majority of the 5500 absent keys
    fp = len(kept - member) / (6000 - 500)
    assert fp < 0.5, fp


def test_bloom_build_words_are_duplicate_invariant(spark):
    """bloom_build carries no distinct (r14): bit-setting is
    idempotent under bit_or, so a key set with heavy duplication must
    produce the byte-identical word table as its distinct form — the
    exact property the removed |keys|-row exchange relied on."""
    uniq = spark.createDataFrame([(i,) for i in range(800)], "k bigint")
    dup = spark.createDataFrame(
        [(i % 800,) for i in range(8000)], "k bigint"
    )
    w_uniq = bloom_filter_array(uniq, "k", m_bits=1 << 13, k=3)
    w_dup = bloom_filter_array(dup, "k", m_bits=1 << 13, k=3)
    assert w_uniq == w_dup


def test_bloom_build_is_bounded_by_parameter(spark):
    keys = spark.createDataFrame([(i,) for i in range(5000)], "k bigint")
    n_words = bloom_build(keys, "k", m_bits=1 << 12, k=3).count()
    assert n_words <= (1 << 12) // 64


def test_bloom_prune_is_a_map_side_filter(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    words = [0] * 4096
    words[0] = -1
    plan = physical_plan(bloom_prune(li, "l_orderkey", words))
    assert "Exchange" not in plan, plan
    assert "Join" not in plan, plan


def test_j19_result_equals_plain_join(spark, sf_dir):
    from dot_spark.queries import QUERIES

    got = {
        r.l_returnflag: (r.n_rows, r.sum_qty)
        for r in QUERIES["j19_bloom_prejoin"](spark, sf_dir).collect()
    }
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    want = {
        r.l_returnflag: (r.n, round(r.q, 2))
        for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("l_quantity").alias("q"))
        .collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Skyline
# ---------------------------------------------------------------------------


def _brute_skyline(cells):
    out = []
    for p in cells:
        dominated = any(
            q[0] <= p[0] and q[1] >= p[1] and (q[0] < p[0] or q[1] > p[1])
            for q in cells
        )
        if not dominated:
            out.append(p)
    return sorted(out)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_skyline_matches_brute_force(spark, seed):
    import random

    rng = random.Random(seed)
    rows = [
        (float(rng.randrange(100)), rng.randrange(40), i) for i in range(400)
    ]
    df = spark.createDataFrame(rows, "price double, size int, id bigint")
    got = sorted(
        (r.price, r.size) for r in skyline(df, "price", "size", "id").collect()
    )
    want = _brute_skyline(sorted({(p, s) for p, s, _ in rows}))
    assert got == want


def test_skyline_ties_all_on_frontier(spark):
    # two identical best cells: no strict edge between them, both stay
    df = spark.createDataFrame(
        [(1.0, 10, 1), (1.0, 10, 2), (2.0, 9, 3)], "price double, size int, id bigint"
    )
    rows = skyline(df, "price", "size", "id").collect()
    assert len(rows) == 1
    assert rows[0].n_members == 2 and rows[0].min_id == 1


def test_skyline_plan_has_no_nested_loop(spark, sf_dir):
    part = spark.read.parquet(f"{sf_dir}/part.parquet")
    plan = physical_plan(skyline(part, "p_retailprice", "p_size", "p_partkey"))
    # the 1-row extent broadcast is the only nested-loop allowed
    # (its subtree appears twice — once under the bucket totals,
    # once under the level table); there must be no per-row
    # all-pairs comparison
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 2, plan
    for line in plan.splitlines():
        if "BroadcastNestedLoopJoin" in line:
            assert "Cross" in line, line


# ---------------------------------------------------------------------------
# Incremental MV
# ---------------------------------------------------------------------------


def test_mv_merge_law_any_slicing_equals_full(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    slices = [
        ev.filter(F.col("event_id") % 3 == i) for i in range(3)
    ]
    merged = mv_merge(
        *[mv_partials(s, ["user_id"], "value", "ts") for s in slices]
    )
    full = mv_partials(ev, ["user_id"], "value", "ts")
    m = {r.user_id: r for r in merged.collect()}
    f = {r.user_id: r for r in full.collect()}
    assert set(m) == set(f)
    for uid in f:
        assert m[uid].mv_n == f[uid].mv_n
        assert m[uid].mv_min_ts == f[uid].mv_min_ts
        assert m[uid].mv_max_ts == f[uid].mv_max_ts
        assert abs(m[uid].mv_sum - f[uid].mv_sum) < 1e-6


def test_mv_merge_empty_delta_is_identity(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    base = mv_partials(ev, ["user_id"], "value", "ts")
    empty = mv_partials(ev.filter(F.lit(False)), ["user_id"], "value", "ts")
    merged = {r.user_id: r.mv_n for r in mv_merge(base, empty).collect()}
    want = {r.user_id: r.mv_n for r in base.collect()}
    assert merged == want


def test_bloom_prune_executes_with_tiny_and_empty_build(spark):
    """Regression pin for the array<int> literal inference: a build
    side whose words all fit in 32 bits (here: EMPTY — all-zero
    words) must still EXECUTE the probe (bit_get positions 32-63 on
    an int raise under ANSI; the operator casts to array<bigint>).
    An empty filter prunes everything — no false negatives to have."""
    empty = spark.createDataFrame([], "k BIGINT")
    words = bloom_filter_array(empty, "k", m_bits=1 << 12, k=3)
    probe = spark.range(100).withColumnRenamed("id", "k")
    assert bloom_prune(probe, "k", words, m_bits=1 << 12, k=3).count() == 0
    # one-key build: survivors must include that key, and the probe
    # must actually run end-to-end
    one = spark.createDataFrame([(42,)], "k BIGINT")
    words1 = bloom_filter_array(one, "k", m_bits=1 << 12, k=3)
    kept = {
        r.k for r in bloom_prune(probe, "k", words1, m_bits=1 << 12, k=3).collect()
    }
    assert 42 in kept


def test_skyline_null_dims_are_excluded(spark):
    """Regression pin for the NULL-dimension fix: a NULL-dim row must
    neither appear on the frontier nor knock a real frontier cell off
    it (pre-fix, floor(NULL) skipped out of least() into the top
    bucket and its __best_here dominated real levels there)."""
    df = spark.createDataFrame(
        [
            (1, 10.0, 5),     # dominated by (2,)
            (2, 10.0, 40),    # frontier: best size at min price
            (3, 90.0, 50),    # frontier: top price, biggest size
            (4, None, 99),    # NULL minimize, huge maximize
            (5, 95.0, None),  # NULL maximize
        ],
        "id INT, price DOUBLE, size INT",
    )
    got = {
        (r.price, r.size) for r in skyline(df, "price", "size", "id").collect()
    }
    assert got == {(10.0, 40), (90.0, 50)}
