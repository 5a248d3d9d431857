"""Graph analytics: PageRank and triangle counting.

Verification strategy mirrors the iterative-family tests (dd8/j16):
each distributed algorithm is checked against an INDEPENDENT
pure-Python model on graphs small enough to brute-force, plus the
structural laws (rank mass conservation, orientation invariance) and
the plan contracts (constant depth across iterations, top-k without a
global sort).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from dot_spark.operators import graph
from dot_spark.operators.graph import copurchase_edges, pagerank, triangle_count
from dot_spark.plans import physical_plan


def _each_regime(monkeypatch):
    """Yield twice: with graph.BROADCAST_NODES at its default (every
    graph here broadcasts its per-node table), then at 0 (every graph
    takes the large-|V| shuffle branch)."""
    for limit in (graph.BROADCAST_NODES, 0):
        monkeypatch.setattr(graph, "BROADCAST_NODES", limit)
        yield limit


def _edges_df(spark, pairs):
    """Symmetrize an undirected edge list of (a, b) tuples."""
    sym = list({(a, b) for a, b in pairs} | {(b, a) for a, b in pairs})
    return spark.createDataFrame(sym, "src long, dst long")


def _pagerank_model(pairs, iterations=5, damping=0.85):
    """Reference PageRank: plain dict arithmetic, no Spark."""
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    n = len(adj)
    ranks = {v: 1.0 / n for v in adj}
    base = (1.0 - damping) / n
    for _ in range(iterations):
        contrib = {v: 0.0 for v in adj}
        for v, outs in adj.items():
            share = ranks[v] / len(outs)
            for w in outs:
                contrib[w] += share
        ranks = {v: base + damping * contrib[v] for v in adj}
    return ranks


def _triangles_model(pairs):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    count = 0
    for a, b in {(min(x, y), max(x, y)) for x, y in pairs}:
        count += len(adj[a] & adj[b] & {v for v in adj if v > b})
    return count


def test_pagerank_matches_model_on_line_graph(spark):
    pairs = [(1, 2), (2, 3), (3, 4)]
    got = {
        r["node"]: r["rank"]
        for r in pagerank(_edges_df(spark, pairs), iterations=5).collect()
    }
    want = _pagerank_model(pairs, iterations=5)
    assert set(got) == set(want)
    for v in want:
        assert got[v] == pytest.approx(want[v], abs=1e-12)


def test_pagerank_mass_conserved_and_star_center_dominates(spark):
    # star: symmetrized graph has no dangling nodes -> ranks sum to 1
    pairs = [(0, i) for i in range(1, 9)]
    rows = pagerank(_edges_df(spark, pairs), iterations=6).collect()
    total = sum(r["rank"] for r in rows)
    assert total == pytest.approx(1.0, abs=1e-9)
    by_node = {r["node"]: r["rank"] for r in rows}
    assert by_node[0] > max(v for k, v in by_node.items() if k != 0)


def test_pagerank_matches_model_on_random_graph(spark, monkeypatch):
    rng = random.Random(407)
    nodes = list(range(30))
    pairs = {
        (a, b)
        for _ in range(80)
        for a, b in [sorted(rng.sample(nodes, 2))]
    }
    want = _pagerank_model(pairs, iterations=4)
    for limit in _each_regime(monkeypatch):
        got = {
            r["node"]: r["rank"]
            for r in pagerank(_edges_df(spark, pairs), iterations=4).collect()
        }
        assert set(got) == set(want), limit
        for v in want:
            assert got[v] == pytest.approx(want[v], abs=1e-12), limit


def test_pagerank_plan_depth_constant_across_iterations(spark):
    """The dd8 iterative contract: localCheckpoint truncates lineage,
    so the FINAL plan must not grow with the iteration count."""
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4)]
    e = _edges_df(spark, pairs)
    plan2 = pagerank(e, iterations=2)._jdf.queryExecution().toString()
    plan6 = pagerank(e, iterations=6)._jdf.queryExecution().toString()
    assert len(plan6) < 2 * len(plan2)


def test_triangle_count_k4(spark):
    pairs = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    row = triangle_count(_edges_df(spark, pairs)).collect()[0]
    assert (row["n_nodes"], row["n_edges"], row["n_triangles"]) == (4, 6, 4)


def test_triangle_count_no_triangles_on_bipartite(spark):
    pairs = [(a, b) for a in range(0, 3) for b in range(10, 13)]
    row = triangle_count(_edges_df(spark, pairs)).collect()[0]
    assert row["n_triangles"] == 0
    assert row["n_edges"] == 9


def test_triangle_count_matches_model_on_random_graphs(spark):
    rng = random.Random(1417)
    for trial in range(3):
        nodes = list(range(25))
        pairs = {
            (a, b)
            for _ in range(70 + 10 * trial)
            for a, b in [sorted(rng.sample(nodes, 2))]
        }
        row = triangle_count(_edges_df(spark, pairs)).collect()[0]
        assert row["n_triangles"] == _triangles_model(pairs), f"trial {trial}"


def _bfs_model(pairs, source, max_depth):
    adj = {}
    for a, b in pairs:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    dist = {source: 0}
    frontier = [source]
    for d in range(1, max_depth + 1):
        nxt = []
        for v in frontier:
            for w in adj.get(v, ()):
                if w not in dist:
                    dist[w] = d
                    nxt.append(w)
        frontier = nxt
    return dist


def test_bfs_levels_line_graph(spark):
    from dot_spark.operators.graph import bfs_levels

    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    got = {
        r["node"]: r["dist"]
        for r in bfs_levels(_edges_df(spark, pairs), source=1, max_depth=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # node 5 is 4 hops out


def test_bfs_levels_matches_model_on_random_graph(spark, monkeypatch):
    from dot_spark.operators.graph import bfs_levels

    rng = random.Random(721)
    nodes = list(range(40))
    pairs = {
        (a, b)
        for _ in range(60)
        for a, b in [sorted(rng.sample(nodes, 2))]
    }
    source = min(a for a, _ in pairs)
    for limit in _each_regime(monkeypatch):
        got = {
            r["node"]: r["dist"]
            for r in bfs_levels(
                _edges_df(spark, pairs), source=source, max_depth=3
            ).collect()
        }
        assert got == _bfs_model(pairs, source, 3), limit


def test_copurchase_edges_symmetric_and_loop_free(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    e = copurchase_edges(li).cache()
    try:
        assert e.filter(F.col("src") == F.col("dst")).count() == 0
        fwd = e.select("src", "dst")
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        assert fwd.exceptAll(rev).count() == 0
    finally:
        e.unpersist()


def test_multihop_topk_uses_take_ordered_not_global_sort(spark, sf_dir):
    """j17's top-10 must compile to TakeOrderedAndProject — a global
    sort exchange on the aggregate output would be the 100 TB
    regression this pin exists to catch."""
    from dot_spark.queries import QUERIES

    plan = physical_plan(QUERIES["j17_multihop_topk"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "rangepartitioning" not in plan.lower()


def test_pagerank_empty_graph_returns_empty(spark):
    got = pagerank(_edges_df(spark, []), iterations=3)
    assert got.count() == 0
    assert [f.name for f in got.schema.fields] == ["node", "rank"]


def test_pagerank_zero_iterations_returns_uniform_ranks(spark):
    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    rows = pagerank(_edges_df(spark, pairs), iterations=0).collect()
    assert sorted(r["node"] for r in rows) == [1, 2, 3, 4]
    assert all(r["rank"] == pytest.approx(1 / 4, abs=1e-15) for r in rows)


def test_link_prediction_matches_bruteforce_on_random_graph(spark):
    """Exhaustive check on a seeded random graph: every (unlinked
    pair, common-neighbor count, Jaccard) must equal a networkx-free
    brute-force adjacency computation, and no linked pair may
    appear."""
    import itertools
    import random

    from dot_spark.operators.graph import link_prediction

    rng = random.Random(11)
    nodes = list(range(30))
    und = {
        (a, b)
        for a, b in itertools.combinations(nodes, 2)
        if rng.random() < 0.15
    }
    sym = [(a, b) for a, b in und] + [(b, a) for a, b in und]
    edges = spark.createDataFrame(sym, "src BIGINT, dst BIGINT")
    got = {
        (r["a"], r["b"]): (r["n_common"], r["deg_a"], r["deg_b"], r["jaccard"])
        for r in link_prediction(edges, top_k=10_000, min_common=1).collect()
    }
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b)
        adj[b].add(a)
    exp = {}
    for a, b in itertools.combinations(nodes, 2):
        if (a, b) in und:
            continue
        cn = len(adj[a] & adj[b])
        if cn >= 1:
            import math

            j = math.floor(cn / (len(adj[a]) + len(adj[b]) - cn) * 10000 + 0.5) / 10000
            exp[(a, b)] = (cn, len(adj[a]), len(adj[b]), j)
    assert got == exp


def test_link_prediction_duplicate_edges_count_as_wedge_multiset(spark):
    """The adjacency-array pair emission (r14) must count DUPLICATE
    edge rows exactly like the wedge self-join it replaced: for a
    sorted neighbor array both formulations count the multiset
    #{(i, j): nb[i] < nb[j]}. A duplicated spoke (1-2 twice, 1-3
    once) therefore gives the unlinked pair (2, 3) n_common = 2,
    and NULL pivots/neighbors contribute nothing (equi-join
    semantics)."""
    from dot_spark.operators.graph import link_prediction

    dup = spark.createDataFrame(
        [(1, 2), (1, 2), (2, 1), (2, 1), (1, 3), (3, 1)],
        "src bigint, dst bigint",
    )
    rows = link_prediction(dup, top_k=100, min_common=1).collect()
    assert [(r["a"], r["b"], r["n_common"]) for r in rows] == [(2, 3, 2)]
    # deg is measured on the raw (duplicated) out-edge list: deg(2)=2
    assert (rows[0]["deg_a"], rows[0]["deg_b"]) == (2, 1)

    nulled = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 1), (None, 2), (None, 3), (1, None)],
        "src bigint, dst bigint",
    )
    got = [
        (r["a"], r["b"], r["n_common"])
        for r in link_prediction(nulled, top_k=100, min_common=1).collect()
    ]
    assert got == [(2, 3, 1)]


def test_link_prediction_topk_order_is_deterministic(spark):
    """top_k must cut on the documented (n_common desc, jaccard
    desc, a, b) order — re-running yields the identical pair set."""
    from dot_spark.operators.graph import link_prediction

    edges_rows = [(a, b) for a in range(8) for b in range(8) if a != b and (a + b) % 3]
    edges = spark.createDataFrame(edges_rows, "src BIGINT, dst BIGINT")
    r1 = [(r["a"], r["b"]) for r in link_prediction(edges, top_k=5).collect()]
    r2 = [(r["a"], r["b"]) for r in link_prediction(edges, top_k=5).collect()]
    assert r1 == r2 and len(r1) == 5


def test_label_propagation_separates_disjoint_cliques(spark, monkeypatch):
    """Two disjoint cliques converge to two communities, each labeled
    by its minimum node (deterministic tie-break); a bridge-less
    graph can never merge them."""
    from dot_spark.operators.graph import label_propagation

    def clique(nodes):
        return [
            (a, b) for a in nodes for b in nodes if a != b
        ]

    edges = spark.createDataFrame(
        clique([1, 2, 3]) + clique([10, 11, 12, 13]), "src long, dst long"
    )
    for limit in _each_regime(monkeypatch):
        got = {r.node: r.label for r in label_propagation(edges, rounds=4).collect()}
        assert {got[n] for n in (1, 2, 3)} == {1}, limit
        assert {got[n] for n in (10, 11, 12, 13)} == {10}, limit


def test_label_propagation_fixed_rounds_deterministic(spark):
    """Same graph, same rounds -> identical labels on every run (the
    reproducibility contract the fixed-round sync variant exists
    for), including on an oscillation-prone even cycle."""
    from dot_spark.operators.graph import label_propagation

    cyc = [(i, (i + 1) % 6) for i in range(6)]
    edges = spark.createDataFrame(
        cyc + [(b, a) for a, b in cyc], "src long, dst long"
    )
    runs = [
        tuple(sorted((r.node, r.label) for r in label_propagation(edges, rounds=4).collect()))
        for _ in range(2)
    ]
    assert runs[0] == runs[1]


def test_label_propagation_directed_input_keeps_all_nodes(spark, monkeypatch):
    """On a DIRECTED edge list every node must appear in the output:
    sink-only nodes start self-labeled, and nodes receiving no votes
    in a round keep their label instead of vanishing (pre-fix, src-
    only init dropped pure sinks and the argmax dropped unvoted
    nodes)."""
    from dot_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (2, 4)], "src long, dst long"
    )
    for limit in _each_regime(monkeypatch):
        got = {r.node: r.label for r in label_propagation(edges, rounds=3).collect()}
        assert set(got) == {1, 2, 3, 4}, limit


def test_cap_degree_identity_below_cap(spark, sf_dir):
    """The law the cap contract promises: with max_degree at or above
    the graph's true max degree, cap_degree is the identity on the
    edge set."""
    from dot_spark.operators.graph import cap_degree
    from dot_spark.sources.registry import load_table

    li = load_table(spark, "lineitem", sf_dir)
    edges = copurchase_edges(li).localCheckpoint(eager=True)
    max_deg = (
        edges.groupBy("src").count().agg(F.max("count").alias("m")).collect()[0].m
    )
    capped = cap_degree(edges, max_degree=int(max_deg))
    assert capped.count() == edges.count()
    assert (
        capped.exceptAll(edges).count() == 0
        and edges.exceptAll(capped).count() == 0
    )


def test_cap_degree_removes_hub_and_its_edges(spark):
    """Above the cap: a star hub's edges all drop (both directions),
    the spoke-to-spoke structure survives, and degrees are measured
    ONCE on the input (one-shot, not recursive)."""
    from dot_spark.operators.graph import cap_degree

    # hub 0 -> 1..6 (deg 6), plus a 1-2 edge (spoke degs stay <= 3)
    und = [(0, i) for i in range(1, 7)] + [(1, 2)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    got = {(r.src, r.dst) for r in cap_degree(edges, max_degree=3).collect()}
    assert got == {(1, 2), (2, 1)}
    # spokes 3..6 became isolated (their only edge touched the hub):
    # one-shot semantics drop the edge, not re-evaluate the survivors


def test_cap_degree_directed_keeps_dst_only_nodes(spark):
    """On a DIRECTED (non-symmetrized) edge list a node appearing
    only as dst must still get a degree row — measuring degree via
    groupBy(src) alone leaves it rowless and the dst-side semi-join
    silently drops every edge into it. Degree is
    greatest(out, in): the chain 1->2->3 plus a fan into 4 keeps all
    low-degree edges, and only the true in-hub's edges drop."""
    from dot_spark.operators.graph import cap_degree

    # 1->2->3 chain; nodes 5..9 all point at hub 4 (in-degree 5)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3)] + [(i, 4) for i in range(5, 10)],
        "src long, dst long",
    )
    got = {(r.src, r.dst) for r in cap_degree(edges, max_degree=3).collect()}
    # dst-only nodes 2 and 3 (deg 1) keep their edges; hub 4 (in 5) drops
    assert got == {(1, 2), (2, 3)}
    # with the cap above the hub's in-degree the op is the identity
    all_edges = {(r.src, r.dst) for r in cap_degree(edges, max_degree=5).collect()}
    assert all_edges == {(1, 2), (2, 3)} | {(i, 4) for i in range(5, 10)}


def test_copurchase_max_basket_drops_pathological_keys(spark):
    """max_basket is dd4b's stop-shingle rule for baskets: a key with
    more distinct items than the cap contributes NO edges; smaller
    baskets are untouched (capped == uncapped below the cap)."""
    rows = [(1, p) for p in (10, 11, 12)] + [(2, p) for p in range(20, 29)]
    li = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    uncapped = {
        (r.src, r.dst) for r in copurchase_edges(li).collect()
    }
    small_only = {
        (r.src, r.dst) for r in copurchase_edges(li, max_basket=5).collect()
    }
    assert small_only == {
        (a, b) for a in (10, 11, 12) for b in (10, 11, 12) if a != b
    }
    # below the cap the operator is the identity
    assert {
        (r.src, r.dst) for r in copurchase_edges(li, max_basket=9).collect()
    } == uncapped


def test_folded_degree_cap_equals_composed_cap(spark, sf_dir):
    """triangle_count(edges, max_degree=d) must equal
    triangle_count(cap_degree(edges, d)) — the folded cap is a plan
    optimization (one fewer edge aggregation), never a semantics
    change. Checked at a BINDING cap on the co-purchase graph and on
    a hub star."""
    from dot_spark.operators.graph import cap_degree
    from dot_spark.sources.registry import load_table

    li = load_table(spark, "lineitem", sf_dir)
    edges = copurchase_edges(li).localCheckpoint(eager=True)
    for cap in (5, 50):
        folded = triangle_count(edges, max_degree=cap).collect()[0]
        composed = triangle_count(cap_degree(edges, cap)).collect()[0]
        assert folded == composed, (cap, folded, composed)
    # hub star: everything incident to the hub drops either way
    und = [(0, i) for i in range(1, 7)] + [(1, 2), (2, 3), (1, 3)]
    star = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    f = triangle_count(star, max_degree=4).collect()[0]
    c = triangle_count(cap_degree(star, 4)).collect()[0]
    assert f == c
    assert f.n_triangles == 1  # the 1-2-3 triangle survives the cap
