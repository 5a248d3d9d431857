"""Distributed graph analytics over DataFrame edge lists.

The corpus-dedup family already does two graph jobs — connected
components (textdedup.connected_components, pointer-jumping label
propagation) and hierarchy flattening (relational.tree_root_depth,
pointer doubling). This module adds the other two staples a
large-scale pipeline reaches for:

- PageRank (Page et al. 1999) as the canonical *weighted* iterative
  fixpoint — the template for any "importance flows along edges"
  computation (canonical-document selection in a near-dup cluster,
  domain authority for crawl prioritization, entity salience).
- Triangle counting as the canonical *enumeration* problem whose
  naive form explodes: the degree-ordered node-iterator join
  (Schank & Wagner 2005; Suri & Vassilvitskii WWW'11) bounds the
  wedge blow-up by orienting every edge from the lower-degree
  endpoint to the higher-degree one.

Both operate on a plain (src, dst) DataFrame, so any upstream edge
construction (co-purchase, LSH candidate pairs, hyperlinks) plugs in.

Scale shape (the part that must survive 100 TB):
- Edges are the big side. ``pagerank`` materializes the
  degree-annotated edge list ONCE, repartitioned on the join key and
  PERSISTED (an InMemoryTableScan keeps outputPartitioning; a
  localCheckpoint RDD scan loses it and would re-shuffle the edges
  every round), so each iteration shuffles only the small
  (node, rank) table into the cached edge partitioning, never the
  edges themselves.
- Iterations are bounded and the per-iteration plan is constant-depth
  (each rank table is localCheckpointed, the dd8 iterative contract);
  lineage cannot grow with the iteration count.
- The only driver-side values are two scalars (node count, and the
  checkpoint barriers) — no edge or rank row ever leaves the
  executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# |V| at or below which pagerank, bfs_levels and label_propagation
# broadcast their per-node table every round; larger graphs shuffle
# it into the cached edge partitioning instead.
BROADCAST_NODES = 2_000_000


def copurchase_edges(
    lineitem: DataFrame,
    key: str = "l_orderkey",
    item: str = "l_partkey",
    max_basket: int | None = None,
) -> DataFrame:
    """Undirected co-occurrence edges: two items are linked when they
    appear under the same key (parts co-purchased in one order, docs
    sharing an LSH bucket, ...). Returns BOTH directions of each
    edge — callers that need each undirected edge once should build
    the a<b orientation themselves (triangle counting does).

    Scale: the self-join is per-key, so the blow-up is sum(k_i^2)
    over per-key item counts — bounded when keys are small baskets
    (orders average ~4 lineitems). ``max_basket`` is the explicit cap
    for pathological keys (a crawl "order" with 10^5 items): a key
    with MORE than max_basket distinct items contributes NO edges —
    dd4b's stop-shingle (maxdf) discipline, where a token shared by
    everything carries no pairing signal and only its quadratic cost.
    The basket-size filter runs before the self-join, so the
    quadratic stage never sees the hub key at all; the join itself is
    a plain equi-join AQE can skew-split (receipt: the plan-pinned
    skew=true engagement test in tests/test_scale.py).
    """
    # ONE exchange for the whole (distinct -> per-key ops) prefix
    # (r14 optimization round, guide §2.4 "two operations keyed the
    # same way share one exchange"): hash(k) satisfies the distinct's
    # ClusteredDistribution(k, p) AND the self-join's (and the
    # basket-size agg/semi-join's) hash(k) requirement, so the
    # explicit repartition replaces the hash(k, p) distinct exchange
    # + the hash(k) join exchange of the old shape — measured
    # construction noop 1.53 -> 1.14 s at sf0.1, identical pair set.
    kp = (
        lineitem.select(F.col(key).alias("k"), F.col(item).alias("p"))
        .repartition("k")
        .distinct()
    )
    if max_basket is not None:
        sizes = kp.groupBy("k").agg(F.count(F.lit(1)).alias("__bs"))
        kp = kp.join(
            sizes.filter(F.col("__bs") <= max_basket).select("k"), "k", "left_semi"
        )
    a, b = kp.alias("a"), kp.alias("b")
    # the symmetrizing union consumes `pairs` TWICE, and Catalyst
    # compiles the basket self-join once per branch (ReuseExchange
    # only dedupes the shuffle, not the join work above it). A lazy
    # localCheckpoint materializes the a<b orientation once and both
    # branches read the checkpointed blocks: g1_pagerank 4.52->3.67s
    # at sf0.1 (min-of-4 interleaved, quiet box). eager=False so no
    # job runs at plan-build time; storage is the |E|/2-row pair list.
    pairs = (
        a.join(b, on=(F.col("a.k") == F.col("b.k")) & (F.col("a.p") < F.col("b.p")))
        .select(F.col("a.p").alias("src"), F.col("b.p").alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    return pairs.union(pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def cap_degree(edges: DataFrame, max_degree: int) -> DataFrame:
    """Hub-degree cap for the wedge-join family (triangle_count,
    link_prediction, label_propagation): drop every edge incident to
    a node whose degree on the INPUT list exceeds ``max_degree``.
    Wedge volume is sum(deg²), so one crawl-hub node at 100× data is
    the difference between m^1.5 and effectively-unbounded — the cap
    is dd4b's maxdf discipline applied to nodes (a hub adjacent to
    everything carries no pairwise signal, only quadratic cost).

    One-shot semantics (degrees measured once on the input, both
    endpoints must be under the cap; no recursive re-measure) — the
    deterministic contract the law test pins: with max_degree >= the
    true max degree the output IS the input edge set. Degree per node
    is ``greatest(out_degree, in_degree)``: on a symmetrized edge
    list out == in, so this is EXACTLY the out-degree the oracle SQL
    mirrors; on a directed input it gives every endpoint a degree row
    — measuring only groupBy(src) would leave dst-only nodes rowless
    and the dst-side semi-join would silently drop every edge into
    them regardless of their actual degree (label_propagation
    explicitly supports directed inputs). Cost: two |V|-sized partial
    aggs + one node-table outer join plus two semi-joins; the
    survivor list is |nodes ≤ cap|-sized and AQE broadcasts it when
    small. The input is lazily checkpointed — it feeds THREE
    consumers (both degree aggs and the semi-join probe side), and an
    unmaterialized construction plan would recompile per consumer
    (the copurchase self-join costs real work even with its own pair
    checkpoint; measured on g4's weighted-pair graph)."""
    edges = edges.localCheckpoint(eager=False)
    out_d = edges.groupBy(F.col("src").alias("n")).agg(
        F.count(F.lit(1)).alias("__out")
    )
    in_d = edges.groupBy(F.col("dst").alias("n")).agg(
        F.count(F.lit(1)).alias("__in")
    )
    deg = out_d.join(in_d, "n", "full_outer").select(
        "n",
        F.greatest(
            F.coalesce(F.col("__out"), F.lit(0)),
            F.coalesce(F.col("__in"), F.lit(0)),
        ).alias("__d"),
    )
    ok = deg.filter(F.col("__d") <= max_degree).select(F.col("n").alias("src"))
    return edges.join(ok, "src", "left_semi").join(
        ok.withColumnRenamed("src", "dst"), "dst", "left_semi"
    ).select("src", "dst")


def _pagerank_round(
    edges_part: DataFrame,
    ranks: DataFrame,
    deg: DataFrame,
    base: float,
    damping: float,
    small: bool,
) -> DataFrame:
    """One PageRank iteration, UN-checkpointed: contributions
    aggregate per destination, then every node's rank updates as
    base + damping * mass. ``ranks`` carries (node, out_deg, rank) —
    the degree rides the SMALL side (r14 optimization round: the old
    shape materialized a second degree-annotated copy of the whole
    edge list just to have out_deg next to src; joining the |V|-row
    rank table's own out_deg instead drops that second |E|-row
    materialization with byte-identical ranks — guide §2.3 "shuffle
    keys and metadata instead of payloads"). Extracted so the twin
    plan pin in tests/test_plans.py can watch the per-round shape
    (broadcast regime: the rank side broadcasts and the contribution
    aggregate runs inside the cached dst partitioning with no
    edge-sized exchange) — the production loop checkpoints each
    round's ranks, truncating this subtree to a LogicalRDD stub."""
    rank_side = F.broadcast(ranks) if small else ranks
    contrib = (
        edges_part.join(rank_side, on=(edges_part["src"] == ranks["node"]))
        .groupBy("dst")
        .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("mass"))
    )
    return deg.join(
        contrib, on=(deg["node"] == contrib["dst"]), how="left"
    ).select(
        "node",
        "out_deg",
        (
            F.lit(base)
            + F.lit(damping) * F.coalesce(F.col("mass"), F.lit(0.0))
        ).alias("rank"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 5,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank over a (src, dst) edge list, fixed iteration count.

    Returns (node, rank) for every node appearing as a source (on a
    symmetrized graph that is every node). Ranks sum to 1 when the
    graph has no dangling nodes — symmetrized graphs never do, and a
    directed caller should add self-loops or accept the standard
    leaked-mass formulation (both engines of the oracle pair compute
    the identical recurrence, so verification is unaffected).

    The MapReduce-era recurrence (Page et al. 1999; Pregel,
    Malewicz et al. SIGMOD'10), Spark-first:

    - ``edges ⋈ deg`` is computed once, repartitioned on the
      regime's join key (``dst`` when ranks broadcast, ``src`` when
      they shuffle — see the regime comment in the body) and
      PERSISTED: the heavy table pays ONE shuffle total. persist (not
      localCheckpoint) is load-bearing — an InMemoryTableScan carries
      outputPartitioning into later plans, so every iteration's
      contribution pass reuses the cached partitioning and moves only
      the (node, rank) table (|V| rows, two columns) or nothing at
      all (broadcast regime); a checkpointed RDD scan loses the
      metadata and would re-shuffle the edges every round — verified
      in the physical plan both ways.
    - contribution aggregation is groupBy(dst).sum — partial
      aggregation runs map-side inside the edge partitions. The rank
      UPDATE (nodes left-join contrib) also re-uses cached
      partitioning: nodes' distinct leaves it hash-partitioned on
      node, contrib's agg leaves it partitioned on dst.
    - each iteration's rank table is localCheckpointed so the plan
      stays constant-depth regardless of ``iterations`` (same
      contract as textdedup.connected_components, which
      tests/test_plans.py pins for the iterative family).
    - the single driver scalar is |V| (one count), the same class of
      one-row collect as the pl2 watermark.
    """
    # ONE materialization of the whole edge side (r14 optimization
    # round): repartition on the regime's join key + persist — the
    # InMemoryTableScan keeps outputPartitioning, so every
    # iteration's contribution pass reuses the cached partitioning.
    # The old shape materialized TWICE (an eager localCheckpoint of
    # the raw edges, then a degree-annotated copy): the degree now
    # rides the |V|-row rank table instead (see _pagerank_round), so
    # the second |E|-row pass is gone — measured g1 ~5.0 -> ~4.1 s
    # at sf0.1 with byte-identical ranks.
    spark = edges.sparkSession
    # the regime (broadcast vs shuffled ranks) keys the cache
    # partitioning, but |V| is unknown until the degree table exists.
    # Materialize ONCE with the small-regime key (dst) — the common
    # case — and re-key from the CACHE (one |E| exchange, no
    # construction replay) only when the degree count lands in the
    # big regime below.
    ep = edges.repartition("dst").persist()
    # degrees (node = every distinct src): ONE aggregation serves as
    # both the degree table and the node table — the old separate
    # nodes.distinct() pass scanned the edges a second time for the
    # same key set. deg.count() below is ALSO the action that
    # materializes the ep cache (the agg reads through it), so the
    # old separate ep.count() pass is gone (r14 optimization round:
    # one cache-scan job saved, ~0.3 s at sf0.1); everything after
    # deg.count() — the big-regime re-key included — reads the
    # already-populated cache.
    deg = ep.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("out_deg")
    ).persist()
    n = deg.count()
    if n == 0:
        ep.unpersist()
        deg.unpersist()
        return spark.createDataFrame([], "node long, rank double")
    # Two physical regimes for the per-iteration contribution pass:
    # - |V| <= BROADCAST_NODES: BROADCAST the (node, out_deg, rank)
    #   table each round; the contribution groupBy(dst) aggregates
    #   inside the cached dst partitioning with NO edge-sized
    #   exchange per round.
    # - larger graphs: ranks cannot broadcast; the rank table (the
    #   small side) shuffles into the cached edge partitioning and
    #   the groupBy(dst) exchange moves map-side combined partials.
    small = n <= BROADCAST_NODES
    if not small:
        # big regime: the rank table shuffles into the cached edge
        # partitioning on SRC every round — re-key the cache from
        # itself (reads the in-memory blocks, never replays the
        # upstream construction)
        ep2 = ep.repartition("src").persist()
        ep2.count()
        ep.unpersist()
        ep = ep2
    base = (1.0 - damping) / n
    # lazy initial checkpoint (r15): the uniform rank table is a
    # |V|-row projection of the deg cache — materializing it was one
    # whole driver-synchronized job before the first round; lazily it
    # rides the final round's eager job (the caches are still alive
    # inside the try block, so the deferred materialization reads
    # them, and the returned plan still sees only the final
    # checkpoint's RDD stub). With no rounds it IS the returned plan,
    # so it must materialize before the caches unpersist.
    ranks = deg.withColumn("rank", F.lit(1.0 / n)).localCheckpoint(
        eager=(iterations == 0)
    )
    try:
        # r14 fixed-cost consolidation (the connected_components
        # pattern): intermediate rounds checkpoint LAZILY — each
        # still truncates to a LogicalRDD at plan time (constant
        # depth) but materializes inside the FINAL round's one
        # eager job instead of paying a driver-synchronized job per
        # round. The last round must be eager: the caches unpersist
        # in finally, so the returned plan may not lazily reference
        # them. No probes read intermediate rounds (fixed iteration
        # count), so laziness is observationally identical.
        for i in range(iterations):
            ranks = _pagerank_round(
                ep, ranks, deg, base, damping, small
            ).localCheckpoint(eager=(i == iterations - 1))
    finally:
        # every iteration's output is checkpointed, so the caches are
        # no longer reachable from the returned plan
        ep.unpersist()
        deg.unpersist()
    return ranks.select("node", "rank")


def bfs_levels(
    edges: DataFrame,
    source: int,
    max_depth: int = 3,
) -> DataFrame:
    """Single-source BFS levels (node, dist) for every node within
    ``max_depth`` hops of ``source`` — the Pregel-style frontier
    traversal (Malewicz et al. SIGMOD'10), the template for crawl
    frontier expansion / neighborhood feature extraction.

    Each round: frontier ⋈ edges (the frontier side shuffles into the
    edge list's CACHED partitioning — persist, not localCheckpoint,
    because only an InMemoryTableScan carries outputPartitioning into
    later plans; see pagerank), distinct, anti-join against the
    visited set — so a node's recorded dist is its first (minimal)
    reach, the BFS invariant. Frontier and visited are
    localCheckpointed per round (constant plan depth); edges pay one
    shuffle + one materialization total. Rounds are bounded by
    ``max_depth``; each moves only frontier-sized data.

    TWO REGIMES (the pagerank/label_propagation discipline, r14
    optimization round): frontier and visited are both bounded by
    |V|, so when |V| <= ``BROADCAST_NODES`` the per-round gather
    BROADCASTS the frontier and the dedup anti-join BROADCASTS the
    visited set — without the hints the planner sized the sides by
    estimate and picked the |E|-row EDGE list as the build side
    (measured on g3's 2.4M-edge graph: a 54.5 MiB edge hash relation
    rebuilt per round against a 1-row round-1 frontier; guide §3.1).
    |V| is counted once from the edge cache (one scalar, the
    documented bounded-collect class) to pick the regime; larger
    graphs keep the original shuffle plans.
    """
    spark = edges.sparkSession
    edges = edges.repartition("src").persist()
    # the regime count is the first action through the persisted edge
    # table, so it also materializes the cache — no separate count()
    # pass (r14 optimization round, the pagerank consolidation)
    n_nodes = edges.select("src").distinct().count()
    small = n_nodes <= BROADCAST_NODES
    visited = spark.createDataFrame(
        [(source, 0)], "node long, dist long"
    ).localCheckpoint(eager=True)
    frontier = visited
    try:
        # NOTE: bfs keeps EAGER per-round checkpoints — the r14 lazy
        # consolidation (see pagerank) was measured neutral-to-
        # slightly-negative here (nxt feeds three consumers across
        # rounds; the interleaved A/B leaned 1.04x), so the simpler
        # eager contract stays.
        for d in range(1, max_depth + 1):
            fr_side = F.broadcast(frontier) if small else frontier
            vis_probe = visited.select("node")
            nxt = (
                fr_side.join(edges, frontier["node"] == edges["src"])
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(
                    F.broadcast(vis_probe) if small else vis_probe,
                    on="node",
                    how="left_anti",
                )
                .withColumn("dist", F.lit(d).cast("long"))
                .localCheckpoint(eager=True)
            )
            visited = visited.unionByName(nxt).localCheckpoint(eager=True)
            frontier = nxt
    finally:
        edges.unpersist()
    return visited


def triangle_count(
    edges: DataFrame, max_degree: int | None = None
) -> DataFrame:
    """Global triangle count over a SYMMETRIZED (src, dst) edge list,
    returned as one row (n_nodes, n_edges, n_triangles).

    ``max_degree`` folds the hub cap INTO the orientation's own
    degree table (identical semantics to cap_degree(edges, d) —
    one-shot input-degree cap on both endpoints, law-tested equal —
    but one fewer edge-list aggregation and no semi-join passes,
    since the orientation join already carries every node's degree).

    The node-iterator++ plan (Schank & Wagner 2005; the standard
    MapReduce formulation is Suri & Vassilvitskii WWW'11): orient
    every undirected edge from its lower-(degree, id) endpoint to the
    higher one. Every triangle then has exactly one "pivot" node with
    two out-edges; the orientation is the entire scale story: a star
    node with degree d contributes d² wedges un-oriented but ~(d
    choose 2 capped by ranking) oriented — worst-case wedge work
    drops from sum(d_i²) to m^1.5.

    CLOSING VIA ADJACENCY INTERSECTION (r14 optimization round,
    guide §1.2 "the distributed algorithm" + §2.3 "shuffle keys, not
    payloads"): triangles(u,v) = |N+(u) ∩ N+(v)| summed over
    oriented edges — the out-neighbor ARRAYS are aggregated once
    (|V'| rows bounded by max_degree elements each), joined onto the
    |E'| edge rows, and each edge counts its intersection with one
    vectorized array_intersect. The wedge ROWS never materialize:
    the previous shape generated the 40.7M-row wedge join output and
    shuffled+sorted it into an (a,b) sort-merge closing join —
    measured 5.4s for the closing phase at sf0.1 vs 1.5s for this
    formulation (identical count 1,866,026; join strategy made <10%
    difference, the wedge materialization was the cost, so the
    adjacency joins carry no broadcast hint and stay scale-safe).

    The edge list feeds FOUR consumers (degree agg, adjacency agg,
    the intersection join's edge side, the node/edge counts) — it is
    localCheckpointed once so the upstream construction (e.g. the
    co-purchase basket self-join) runs exactly once, and the small
    oriented list is checkpointed again so the degree join is not
    replayed per consumer. Without that, Catalyst happily inlines the
    construction into every consumer (the first cut of this operator
    compiled to 93 exchanges / 36 scans).
    """
    edges = edges.localCheckpoint(eager=True)
    und = edges.filter(F.col("src") < F.col("dst")).distinct()
    deg = (
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        .select(F.col("src").alias("node"), "d")
    )
    # orient: keep (lo, hi) ordered by (degree, id); the cap rides
    # the same joins as a plain filter on the carried degrees
    e = (
        und.join(deg.withColumnRenamed("node", "src").withColumnRenamed("d", "ds"), on="src")
        .join(deg.withColumnRenamed("node", "dst").withColumnRenamed("d", "dd"), on="dst")
    )
    if max_degree is not None:
        e = e.filter(
            (F.col("ds") <= max_degree) & (F.col("dd") <= max_degree)
        )
    e = (
        e.select(
            F.when(
                (F.col("ds") < F.col("dd"))
                | ((F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))),
                F.struct(F.col("src").alias("u"), F.col("dst").alias("v")),
            )
            .otherwise(F.struct(F.col("dst").alias("u"), F.col("src").alias("v")))
            .alias("e")
        )
        .select(F.col("e.u").alias("u"), F.col("e.v").alias("v"))
        .localCheckpoint(eager=True)
    )
    # out-neighbor arrays: |V'| rows, each bounded by max_degree
    # elements (per-group collect_list state; an UNcapped hub costs d
    # array slots here vs d² wedge rows in the join formulation)
    adj = e.groupBy("u").agg(F.collect_list("v").alias("nb"))
    # per oriented edge (u, v): |N+(u) ∩ N+(v)|. u always has an
    # adjacency row (it has the out-edge (u,v)); v may have none —
    # left join + empty-array coalesce. Arrays are duplicate-free
    # (e is deduped), so array_intersect's set semantics count
    # exactly the closing wedges.
    j = (
        e.join(
            adj.select(F.col("u").alias("__u"), F.col("nb").alias("nu")),
            F.col("u") == F.col("__u"),
        )
        .join(
            adj.select(F.col("u").alias("__v"), F.col("nb").alias("nv")),
            F.col("v") == F.col("__v"),
            "left",
        )
    )
    tri = j.select(
        F.size(
            F.array_intersect("nu", F.coalesce("nv", F.slice("nu", 1, 0)))
        ).alias("__c")
    ).agg(F.coalesce(F.sum("__c"), F.lit(0)).cast("long").alias("n_triangles"))
    # n_nodes from the ORIENTED list's endpoints: identical to the
    # input's distinct sources on an (uncapped) symmetrized graph,
    # and correct under max_degree (a node whose every edge was
    # capped away is no longer in the graph)
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
    )
    # e holds each undirected surviving edge exactly once (reoriented)
    counts = e.agg(
        F.count(F.lit(1)).alias("n_edges"),
    ).crossJoin(nodes.agg(F.count(F.lit(1)).alias("n_nodes")))
    return counts.crossJoin(tri).select("n_nodes", "n_edges", "n_triangles")


def link_prediction(
    edges: DataFrame, top_k: int = 100, min_common: int = 1
) -> DataFrame:
    """Common-neighbor link prediction over a SYMMETRIZED (src, dst)
    edge list (Liben-Nowell & Kleinberg CIKM'03): for every UNLINKED
    pair (a, b) sharing >= min_common neighbors, emit the
    common-neighbor count and the Jaccard coefficient
    |N(a) ∩ N(b)| / |N(a) ∪ N(b)|, keeping the global top_k by
    (common desc, jaccard desc, a, b) — a fully deterministic order.

    Plan (r14 optimization round — the triangle_count adjacency
    lesson, guide §1.2/§2.3): wedges are emitted from per-pivot
    ADJACENCY ARRAYS instead of the self-join. One groupBy(src)
    builds nb = sorted neighbor list per pivot (ONE exchange of the
    edge list where the w⋈w self-join shuffled it twice and
    sort-merged); each pivot's candidate pairs come out of a
    vectorized higher-order expression over nb — every (i, j)
    position pair with nb[i] < nb[j], which is EXACTLY the multiset
    the self-join's a < b wedge filter counts (sorted array: value
    order == position order; duplicate neighbors multiply both the
    join rows and the position pairs identically; NULL-pivot rows
    are excluded up front because an equi-join never matches NULL
    keys, and NULL neighbors fail y > x just as they fail a < b).
    Existing edges leave via anti-join; degrees join back. The edge
    list feeds four consumers (adjacency, degrees, the anti-join),
    so it is localCheckpointed once (the triangle_count lesson:
    without the barrier Catalyst replays the upstream edge
    construction per consumer).

    Scale: wedge volume is sum(deg_w^2) — the caller bounds it by
    pruning hub nodes / weighting edges BEFORE this operator (the
    g4 query keeps co-purchase edges with support >= 2, the dd4b
    stop-key discipline); a per-pivot array holds deg_w elements
    where the join materialized deg_w^2 wedge rows, so the array
    form is strictly smaller per task than the join it replaces;
    top-k compiles to TakeOrderedAndProject (per-partition bounded
    heaps, no global sort)."""
    edges = edges.localCheckpoint(eager=True)
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    adj = (
        edges.where(F.col("src").isNotNull())
        .groupBy("src")
        .agg(F.sort_array(F.collect_list("dst")).alias("nb"))
    )
    pairs_expr = (
        "flatten(transform(nb, (x, i) -> "
        "transform(filter(slice(nb, i + 2, greatest(size(nb) - i - 1, 0)), "
        "y -> y > x), y -> struct(x AS a, y AS b))))"
    )
    cn = (
        adj.select(F.explode(F.expr(pairs_expr)).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    linked = edges.filter(F.col("src") < F.col("dst")).select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    )
    cand = cn.join(linked, ["a", "b"], "left_anti")
    da = deg.select(F.col("src").alias("a"), F.col("d").alias("deg_a"))
    db = deg.select(F.col("src").alias("b"), F.col("d").alias("deg_b"))
    scored = (
        cand.join(da, "a")
        .join(db, "b")
        .select(
            "a",
            "b",
            "n_common",
            "deg_a",
            "deg_b",
            F.expr(
                "FLOOR(CAST(n_common AS DOUBLE) / (deg_a + deg_b - n_common)"
                " * 10000e0 + 0.5e0) / 10000e0"
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("n_common").desc(), F.col("jaccard").desc(), "a", "b"
    ).limit(top_k)


def label_propagation(edges: DataFrame, rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (community detection): every
    node starts labeled with itself; each round a node adopts the
    most frequent label among its NEIGHBORS, ties broken to the
    smallest label (Raghavan et al., Phys. Rev. E 2007 — the
    deterministic synchronous variant). Runs a FIXED ``rounds``
    count: sync LPA is not guaranteed to converge (bipartite
    structures oscillate), so the operator's contract is "the label
    state after R deterministic rounds" — the same recurrence the
    oracle replays as chained CTEs, and what a production run pins
    for reproducibility (async/randomized LPA trades determinism for
    convergence). Returns (node, label).

    Scale shape (the pagerank discipline, including its TWO REGIMES):
    the caller's edge plan materializes ONCE (lazy eager checkpoint),
    the node set and the regime scalar |V| read those blocks, and the
    edge list is then persisted keyed FOR its regime —
    InMemoryTableScan keeps outputPartitioning, so every round rides
    the cached partitioning.

    Small regime (|V| <= ``BROADCAST_NODES``) — a ZERO-EXCHANGE
    round (r14 optimization round, guide §2.4): edges cached
    hash-partitioned by SRC; the gather join BROADCASTS the
    (node, label) table (without the hint the planner sizes the two
    sides by ESTIMATE, and a |E|-row edge list that slips under
    autoBroadcastJoinThreshold gets picked as the build side — r14
    measured exactly that on g5's 2.4M-edge / 20k-node graph:
    54.5 MiB edge build re-broadcast EVERY round, 3.2-4.2 s/round);
    the broadcast join preserves the streamed side's partitioning,
    so the per-node vote aggregation rides hashpartitioning(src)
    with no exchange, and the keep-label left join broadcasts the
    |V|-row voted table. Nothing larger than the label table moves,
    through zero shuffles. Large graphs shuffle the label table into
    the cached dst partitioning instead — the original large-|V|
    plan, where broadcasting |V| rows is off the table.

    The vote itself (r14): ONE aggregation — collect_list of
    neighbor labels per node, then the deterministic mode as an
    ascending sort_array fold ("most frequent, ties to smallest" =
    first label among equal-count runs in ascending order). The
    previous two-level shape (partial-agg (node,label) counts, then
    arg-max via max(struct)) shuffled less in theory but paid a
    second exchange plus a SortAggregate (struct max is not
    hash-aggregable) every round; the array ships one degree-bounded
    label list per node (the cap_degree contract bounds it) and
    measures 2x faster end-to-end on g5's graph with byte-identical
    labels. Rounds are localCheckpointed — constant plan depth;
    intermediate rounds lazy, final eager (the r14 consolidation —
    see pagerank)."""
    # one materialization of the caller's plan; |V|, the node set
    # and the regime-keyed cache below all read these blocks
    edges = edges.localCheckpoint(eager=True)
    # nodes = src UNION dst: on a directed edge list a pure-sink node
    # must still start self-labeled (and vote through its in-edges) —
    # src-only init would silently drop it from the output
    labels = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    small = labels.count() <= BROADCAST_NODES
    # regime-keyed cache, materialized by the first round that reads
    # it (the final eager round checkpoint materializes the whole
    # chain before the finally-unpersist) — the old separate count()
    # was a pure extra cache pass (r14, the pagerank consolidation)
    edges = edges.repartition("src" if small else "dst").persist()
    # deterministic mode of the sorted neighbor-label array: the
    # ascending fold keeps the FIRST (= smallest) label among
    # max-count runs — exactly "most frequent, ties to smallest"
    # typed NULLs (IF(FALSE, __ls[0], NULL)) keep the fold — and the
    # output label column — at the caller's id type, like the old
    # struct arg-max did
    mode_expr = (
        "aggregate(sort_array(__ls), "
        "named_struct('bl', IF(FALSE, __ls[0], NULL), 'bc', 0L, "
        "             'cl', IF(FALSE, __ls[0], NULL), 'cc', 0L), "
        "(s, x) -> CASE WHEN s.cl IS NOT NULL AND x = s.cl THEN "
        "  named_struct('bl', IF(s.cc + 1L > s.bc, s.cl, s.bl), "
        "               'bc', GREATEST(s.bc, s.cc + 1L), "
        "               'cl', s.cl, 'cc', s.cc + 1L) "
        "ELSE named_struct('bl', IF(1L > s.bc, x, s.bl), "
        "                  'bc', GREATEST(s.bc, 1L), "
        "                  'cl', x, 'cc', 1L) END, "
        "s -> s.bl)"
    )
    try:
        for r in range(rounds):
            lab_side = F.broadcast(labels) if small else labels
            voted = (
                edges.join(lab_side, edges["dst"] == labels["node"])
                .select(F.col("src").alias("node"), "label")
                .groupBy("node")
                .agg(F.collect_list("label").alias("__ls"))
                .select("node", F.expr(mode_expr).alias("__new"))
            )
            if small:
                voted = F.broadcast(voted)
            # a node with no out-edges (directed input) receives no
            # votes this round — it KEEPS its label instead of
            # vanishing from the state (symmetrized graphs never hit
            # this: every node votes and is voted for)
            labels = (
                labels.join(voted, "node", "left")
                .select(
                    "node",
                    F.coalesce(F.col("__new"), F.col("label")).alias("label"),
                )
                .localCheckpoint(eager=(r == rounds - 1))
            )
    finally:
        edges.unpersist()
    return labels
