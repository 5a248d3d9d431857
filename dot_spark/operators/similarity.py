"""Similarity search over embedding columns (array<float>).

Beyond-reference surface: approximate-nearest-neighbor primitives a
training-data pipeline needs (near-dup mining, retrieval eval).

- `cosine` is a pure column expression (zip_with product + aggregate
  fold), computed in double, JVM-side — no Python, no Arrow transfer.
- `brute_force_topk` is the exact baseline: score every
  (query, candidate) pair, rank per query. Correct everywhere;
  quadratic. Use with a small broadcast query set.
- `ivf_topk` is the scale path: candidates are pruned to the query's
  coarse cell (precomputed bucket column — IVF cell id from any
  assignment, e.g. k-means or an LSH sign signature), turning the
  cross join into an equi-join on the cell key.

Ranking determinism: ranks are computed over (round(cos, 6) DESC,
id ASC) so distributed float summation cannot reorder near-ties
differently between runs or engines.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Dot product of two array columns, folded left-to-right in
    double precision (deterministic order => engine-portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    """L2 norm of an array column."""
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array columns as a column expression."""
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k per query over the whole corpus.

    The query side is broadcast (it is small by assumption), so the
    corpus never shuffles for the scoring pass; the only exchange is
    the per-query rank. With Q queries the scored set is Q*N rows —
    at large Q*N switch to ivf_topk or pre-aggregate per-partition
    local top-k before the global rank.

    Both sides carry their norm as a precomputed column (once per
    vector, not once per pair — inlined cosine() triples the fold
    work); the corpus side is spread to full width first so the Q*N
    scoring pass parallelizes even off a single-split local scan.
    """
    from dot_spark.operators.textdedup import spread_small_input

    q = queries.withColumn("__qn", norm(F.col(query_vec)))
    c = spread_small_input(corpus).withColumn("__cn", norm(F.col(corpus_vec)))
    scored = F.broadcast(q).crossJoin(c).withColumn(
        "cos_sim",
        F.round(
            dot(F.col(query_vec), F.col(corpus_vec)) / (F.col("__qn") * F.col("__cn")),
            6,
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos_sim", "rank")
    )


def spherical_kmeans(
    x: np.ndarray, n_cells: int, iters: int = 8, seed: int = 7
) -> list[list[float]]:
    """Spherical k-means (Lloyd) on unit-normalized rows of ``x``,
    float64 numpy throughout. ONE definition shared by the Spark
    training path (train_ivf_centroids) and the generated SQL oracle
    (queries._ss3_oracle_sql, which replays training on the same
    sample read via DuckDB) — identical input rows in identical order
    produce bit-identical centroids, so the oracle's literal
    centroids can never drift from the engine's."""
    x = np.asarray(x, dtype=np.float64)
    x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_cells, len(x)), replace=False)]
    for _ in range(iters):
        sims = x @ cents.T
        assign = sims.argmax(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                m = members.sum(axis=0)
                cents[c] = m / max(np.linalg.norm(m), 1e-12)
    return cents.tolist()


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    sample: int = 4096,
    iters: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Train IVF coarse centroids: spherical k-means (Lloyd) on a
    deterministic sample, driver-side numpy.

    Sample-based training is the standard ANN recipe (an IVF index
    over 1e10 vectors is trained on ~1e5 of them): only the sample
    crosses to the driver, never the corpus. Determinism: the sample
    is the `sample` smallest ids (reproducible across runs/engines),
    init is seeded. Returns plain lists — small enough to ship as a
    broadcast/literal to every executor.
    """
    rows = (
        corpus.select(id_col, vec_col)
        .orderBy(id_col)
        .limit(sample)
        .collect()
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    return spherical_kmeans(x, n_cells, iters=iters, seed=seed)


def assign_cells(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str,
    nprobe: int = 1,
    out_col: str = "__cells",
) -> DataFrame:
    """Attach the `nprobe` nearest centroid ids as an array column.

    Arrow-vectorized Pandas UDF: each batch is one matmul against the
    (broadcast-serialized) centroid matrix — the per-row Python cost
    is amortized to a BLAS call, the idiomatic shape when a column
    expression would mean C interpreted array-folds per row.
    """
    from pyspark.sql.functions import pandas_udf

    cents = np.array(centroids, dtype=np.float64)

    @pandas_udf("array<int>")
    def _cells(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch (empty partition)
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy())
        x = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
        sims = x @ cents.T
        top = np.argsort(-sims, axis=1)[:, :nprobe]
        return pd.Series(list(top.astype("int32")))

    return df.withColumn(out_col, _cells(F.col(vec_col)))


def ivf_search(
    queries: DataFrame,
    corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Trained-IVF top-k: corpus vectors live in their nearest cell,
    queries probe their `nprobe` nearest cells, candidates come from
    an equi-join on the cell id.

    Scale shape: the corpus shuffles once on its cell id (or is
    written bucketed by cell and never again); per query the scored
    set is nprobe/n_cells of the corpus. Raising nprobe trades
    compute for recall without touching the index.
    """
    corpus_cells = assign_cells(corpus, centroids, corpus_vec, nprobe=1).select(
        F.element_at(F.col("__cells"), 1).alias("__cell"), corpus_id, corpus_vec
    )
    query_cells = assign_cells(queries, centroids, query_vec, nprobe=nprobe).select(
        F.explode(F.col("__cells")).alias("__cell"), query_id, query_vec
    )
    scored = query_cells.join(corpus_cells, on="__cell").withColumn(
        "cos_sim", F.round(cosine(F.col(query_vec), F.col(corpus_vec)), 6)
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos_sim", "rank")
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    bucket_col: str,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """IVF-style pruned top-k: score only corpus vectors in the
    query's coarse cell (both sides carry `bucket_col` — the
    inverted-file cell assignment).

    Equi-join on the cell key: the (small) query side is broadcast,
    so the corpus keeps its scan partitioning — no corpus shuffle,
    and the scoring pass parallelizes over corpus splits rather than
    cells. Scored pairs drop from Q*N to Q*(N/cells) on balanced
    cells. Recall depends on the quantizer; probe more cells by
    unioning additional (query, cell) assignments before the join.
    Norms ride as precomputed per-vector columns.
    """
    from dot_spark.operators.textdedup import spread_small_input

    q = queries.withColumn("__qn", norm(F.col(query_vec)))
    c = spread_small_input(corpus).withColumn("__cn", norm(F.col(corpus_vec)))
    scored = F.broadcast(q).join(c, on=bucket_col).withColumn(
        "cos_sim",
        F.round(
            dot(F.col(query_vec), F.col(corpus_vec)) / (F.col("__qn") * F.col("__cn")),
            6,
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos_sim", "rank")
    )


def random_hyperplanes(dim: int, n_planes: int = 8, seed: int = 7) -> list[list[float]]:
    """Seeded Gaussian hyperplanes for sign-LSH over cosine space.

    sign(v . h) bits approximate angular locality (P[bit differs] =
    angle/pi); n_planes trades bucket granularity for recall. Plain
    lists — tiny, shipped to executors inside the UDF closure.
    """
    rng = np.random.default_rng(seed)
    h = rng.standard_normal((n_planes, dim))
    h /= np.linalg.norm(h, axis=1, keepdims=True)
    return h.tolist()


def hamming_masks(n_planes: int, radius: int) -> list[int]:
    """All bit masks with <= radius set bits among n_planes bits: the
    multi-probe bucket flips for sign-LSH (mask 0 = the home bucket).
    ONE definition shared by the Spark operator (lsh_buckets) and the
    generated SQL oracle (queries._ss4_oracle_sql) so the probe set
    can never drift between engine and oracle."""
    from itertools import combinations

    masks = [0]
    for d in range(1, radius + 1):
        for bits in combinations(range(n_planes), d):
            m = 0
            for b in bits:
                m |= 1 << b
            masks.append(m)
    return masks


def lsh_buckets(
    df: DataFrame,
    planes: list[list[float]],
    vec_col: str,
    hamming: int = 0,
    out_col: str = "__bucket",
) -> DataFrame:
    """Attach sign-LSH bucket id(s): the packed sign-bit integer of
    the vector against each hyperplane, plus every bucket within
    `hamming` bit-flips (multi-probe) — exploded to one row per
    probed bucket.

    Arrow-vectorized: one matmul per batch for the signs; the probe
    fan-out is (n_planes choose <=hamming) — a handful of ints per
    row, exploded JVM-side.
    """
    from pyspark.sql.functions import pandas_udf

    h = np.array(planes, dtype=np.float64)
    nb = len(planes)
    masks = np.array(hamming_masks(nb, hamming), dtype=np.int64)

    @pandas_udf("array<long>")
    def _buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:  # empty Arrow batch (empty partition)
            return pd.Series([], dtype=object)
        x = np.stack(vecs.to_numpy())
        signs = (x @ h.T) > 0
        base = (signs.astype(np.int64) << np.arange(nb, dtype=np.int64)).sum(axis=1)
        return pd.Series(list(base[:, None] ^ masks[None, :]))

    return df.withColumn(out_col, _buckets(F.col(vec_col)))


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    planes: list[list[float]],
    k: int = 10,
    hamming: int = 1,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Sign-LSH bucketed top-k: corpus vectors live in their home
    bucket, queries probe all buckets within `hamming` bit flips,
    candidates come from the bucket equi-join.

    Same scale shape as ivf_search: one corpus shuffle on the bucket
    key (or a bucketed table layout and none), candidate set ~
    (probes / 2^n_planes) of the corpus. hamming = n_planes probes
    every bucket and reproduces brute force exactly (tested).
    """
    corpus_b = lsh_buckets(corpus, planes, corpus_vec, hamming=0).select(
        F.element_at(F.col("__bucket"), 1).alias("__b"), corpus_id, corpus_vec
    )
    query_b = lsh_buckets(queries, planes, query_vec, hamming=hamming).select(
        F.explode(F.col("__bucket")).alias("__b"), query_id, query_vec
    )
    scored = query_b.join(corpus_b, on="__b").withColumn(
        "cos_sim", F.round(cosine(F.col(query_vec), F.col(corpus_vec)), 6)
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos_sim", "rank")
    )


def decontaminate_embeddings(
    train: DataFrame,
    eval_df: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "eval_id",
    eval_vec_col: str = "eval_vec",
    threshold: float = 0.2,
) -> DataFrame:
    """Embedding-space decontamination (DD7): flag training vectors
    within cosine `threshold` of any eval vector sharing the same
    coarse cell (`cell_col`). Output: one row per contaminated
    training id with (n_eval_hits, max_cos).

    Scale shape: the eval side is tiny and BROADCAST with its norms
    precomputed ONCE per vector (inlining cosine() in the pair
    projection would fold three dot products per pair — measured 3x);
    the training corpus is probed in scan order with its own norm
    computed once per row — no corpus shuffle until the per-vector
    aggregate of join survivors."""
    t = train.select(
        cell_col, id_col, vec_col, norm(F.col(vec_col)).alias("__tn")
    )
    ev = eval_df.select(
        cell_col,
        F.col(eval_id_col),
        F.col(eval_vec_col),
        norm(F.col(eval_vec_col)).alias("__en"),
    )
    sim = F.round(
        dot(F.col(vec_col), F.col(eval_vec_col)) / (F.col("__tn") * F.col("__en")), 4
    )
    return (
        t.join(F.broadcast(ev), cell_col)
        .withColumn("cos_sim", sim)
        .filter(F.col("cos_sim") >= threshold)
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_eval_hits"), F.max("cos_sim").alias("max_cos"))
    )


def cosine_to_cell_centroid(
    emb: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 4,
) -> DataFrame:
    """Per-vector cosine similarity to its cell's mean vector —
    the centrality score SemDeDup-style semantic dedup ranks by.

    Long-form throughout (posexplode -> per-(cell, dim) average ->
    broadcast the |cells| x dim centroid table back -> one grouped
    fold per vector): no driver materialization, two shuffles total
    (centroid aggregate + the per-vector regroup), both with map-side
    partials. Output: (id, cell, cos_to_centroid) with the score
    ROUNDED so downstream ordering is reproducible across engines.
    """
    comp = emb.select(
        F.col(id_col),
        F.col(cell_col),
        F.posexplode(vec_col).alias("dim", "c"),
    ).withColumn("c", F.col("c").cast("double"))
    cent = comp.groupBy(cell_col, "dim").agg(F.avg("c").alias("cv"))
    joined = comp.join(F.broadcast(cent), [cell_col, "dim"])
    return joined.groupBy(id_col, cell_col).agg(
        F.round(
            F.sum(F.col("c") * F.col("cv"))
            / (
                F.sqrt(F.sum(F.col("c") * F.col("c")))
                * F.sqrt(F.sum(F.col("cv") * F.col("cv")))
            ),
            round_to,
        ).alias("cos_to_centroid")
    )


def semdedup(
    emb: DataFrame,
    cell_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.45,
    max_bucket: int | str | None = None,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023, public
    arXiv:2303.09540): within each embedding cell, near-duplicate
    pairs above `threshold` cluster transitively, and each cluster
    keeps its LEAST central member (minimum cosine to the cell
    centroid — the paper's keep-the-outlier rule, which preserves
    diversity); every other member is marked dropped. Vectors with no
    near-duplicate form singleton clusters and are kept.

    Composition of three existing scale shapes: dd5b bucket-pruned
    pair mining (broadcast-build equi-join, never n^2), dd8
    connected components (large-star/small-star edge contraction),
    and the centroid scoring pass (two partial-agg shuffles). Output:
    (id, cell, cluster_id, cos_to_centroid, keep).

    ``max_bucket`` passes through to the pair miner (hot-cell cap):
    an over-cap cell contributes no pairs, so all its members stay
    singleton clusters and are KEPT — the conservative failure mode
    for a dedup (never drop data because one degenerate cell was too
    dense to score).
    """
    from pyspark.sql import Window

    from dot_spark.operators.textdedup import (
        bucketed_neardup_pairs,
        connected_components,
    )

    scored = cosine_to_cell_centroid(emb, cell_col, id_col, vec_col)
    pairs = bucketed_neardup_pairs(
        emb,
        cell_col,
        id_col=id_col,
        vec_col=vec_col,
        threshold=threshold,
        max_bucket=max_bucket,
    )
    cc = connected_components(pairs.select("id_a", "id_b"))
    labeled = scored.join(
        cc, scored[id_col] == cc["node"], "left"
    ).select(
        scored[id_col],
        scored[cell_col],
        F.coalesce(cc["label"], scored[id_col]).alias("cluster_id"),
        "cos_to_centroid",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.asc("cos_to_centroid"), F.asc(id_col)
    )
    return labeled.withColumn("keep", F.row_number().over(w) == 1)


def mmr_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    pool: int = 20,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Diversified top-k via Maximal Marginal Relevance (Carbonell &
    Goldstein SIGIR'98): greedily pick the candidate maximizing
    (2*sim(query, cand) - max(sim(cand, already-selected))) / 3
    (lambda = 2/3) — the retrieval pass that keeps a RAG context
    window from filling with near-duplicates of one document.

    Scale shape: relevance does the heavy lifting ONCE
    (brute_force_topk — swap in ivf/lsh_topk upstream at scale); the
    greedy loop then runs entirely on the per-query candidate pool
    (Q*pool rows, Q*pool^2 pairwise sims), both localCheckpointed and
    reused across the k rounds. Each round is an anti-join (drop the
    selected), a max() penalty aggregation against the selected set,
    and a per-query max_by argmax — pure codegen DataFrame ops, NO
    UDF, and every float the argmax compares derives from
    6-dp-rounded similarities so the greedy path is engine-portable
    (the DuckDB oracle replays the identical rounds as chained CTEs).

    Ties break on (score DESC, candidate id ASC) at every argmax.
    Returns (query_id, sel_rank, corpus_id, mmr_score).
    """
    cand = brute_force_topk(
        queries, corpus, k=pool,
        query_id=query_id, query_vec=query_vec,
        corpus_id=corpus_id, corpus_vec=corpus_vec,
    ).select(query_id, corpus_id, "cos_sim").localCheckpoint(eager=True)

    ce = (
        cand.join(corpus.select(corpus_id, corpus_vec), on=corpus_id)
        .select(
            query_id,
            F.col(corpus_id),
            F.col(corpus_vec),
            norm(F.col(corpus_vec)).alias("__n"),
        )
    )
    a = ce.select(
        query_id,
        F.col(corpus_id).alias("a_id"),
        F.col(corpus_vec).alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = ce.select(
        query_id,
        F.col(corpus_id).alias("b_id"),
        F.col(corpus_vec).alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pair = (
        a.join(b, on=query_id)
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            query_id,
            "a_id",
            "b_id",
            # norms precomputed once per vector, not per ordered pair
            F.round(
                dot(F.col("__va"), F.col("__vb")) / (F.col("__na") * F.col("__nb")),
                6,
            ).alias("sim_ab"),
        )
        .localCheckpoint(eager=True)
    )

    # argmax per query = row_number over (__m DESC, id ASC): works for
    # any orderable id type (no SQL-string interpolation of the id)
    wpick = Window.partitionBy(query_id).orderBy(
        F.col("__m").desc(), F.col(corpus_id).asc()
    )

    def _pick(scored, rank):
        return (
            scored.withColumn("__rn", F.row_number().over(wpick))
            .filter(F.col("__rn") == 1)
            .select(
                query_id,
                F.lit(rank).alias("sel_rank"),
                corpus_id,
                F.round("__m", 6).alias("mmr_score"),
            )
        )

    # MMR weights are THIRDS — (2*sim - penalty) / 3, i.e. lambda=2/3
    # — deliberately non-terminating in base 10: over 6-dp-rounded
    # inputs the exact score is k/3 * 1e-6, which sits >= 1.6e-7 away
    # from every 6-dp half-boundary, so the two engines' ROUNDs can
    # never be split by a 1-ULP float difference (terminating weights
    # like 0.7/0.3 produce exact-boundary scores — the w12 lesson).
    selected = _pick(
        cand.withColumn(
            "__m", (F.lit(2.0) * F.col("cos_sim") - F.lit(0.0)) / F.lit(3.0)
        ),
        1,
    ).localCheckpoint(eager=True)
    for r in range(2, k + 1):
        remaining = cand.join(
            selected.select(query_id, corpus_id), on=[query_id, corpus_id], how="left_anti"
        )
        pen = (
            pair.join(
                selected.select(query_id, F.col(corpus_id).alias("b_id")),
                on=[query_id, "b_id"],
            )
            .groupBy(query_id, "a_id")
            .agg(F.max("sim_ab").alias("pen"))
            # disambiguate before the join below — self-derived
            # lineages make remaining[query_id] == pen[query_id]
            # ambiguous to the analyzer
            .select(
                F.col(query_id).alias("__pq"),
                F.col("a_id").alias("__pa"),
                "pen",
            )
        )
        scored = remaining.join(
            pen,
            on=(F.col(query_id) == F.col("__pq"))
            & (F.col(corpus_id) == F.col("__pa")),
        ).select(
            query_id,
            corpus_id,
            (
                (F.lit(2.0) * F.col("cos_sim") - F.col("pen")) / F.lit(3.0)
            ).alias("__m"),
        )
        selected = selected.unionByName(_pick(scored, r)).localCheckpoint(eager=True)
    return selected


def train_sq_minmax(corpus: DataFrame, vec_col: str = "embedding") -> tuple[list, list]:
    """Per-dimension (min, max) over the corpus — the scalar-quantizer
    training artifact (2*dims doubles regardless of corpus size, the
    ss3-centroid class of driver fetch). One posexplode + partial-agg
    pass; MIN/MAX are order-insensitive so the artifact is
    engine-exact."""
    rows = (
        corpus.select(F.posexplode(vec_col).alias("i", "x"))
        .groupBy("i")
        .agg(F.min(F.col("x").cast("double")).alias("mn"),
             F.max(F.col("x").cast("double")).alias("mx"))
        .orderBy("i")
        .collect()
    )
    return [r["mn"] for r in rows], [r["mx"] for r in rows]


def _sq_dequant(vec, mins: list, maxs: list):
    """Elementwise int8 quantize-then-reconstruct as ONE codegen
    expression: x_hat = mn + round((x-mn)/(mx-mn)*255)/255*(mx-mn),
    constant dims (mx == mn) reconstruct to mn exactly."""
    rng = F.zip_with(
        F.array(*[F.lit(m) for m in mins]),
        F.array(*[F.lit(m) for m in maxs]),
        lambda mn, mx: F.struct(mn.alias("mn"), mx.alias("mx")),
    )
    return F.zip_with(
        vec,
        rng,
        lambda x, s: F.when(
            s["mx"] > s["mn"],
            s["mn"]
            + F.round((x.cast("double") - s["mn"]) / (s["mx"] - s["mn"]) * 255, 0)
            / 255
            * (s["mx"] - s["mn"]),
        ).otherwise(s["mn"]),
    )


def sq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    pool: int = 30,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Scalar-quantized (int8) top-k with exact re-rank — THE ANN
    memory play at 100 TB: the scan-side vectors hold 1 byte per
    dimension (4x smaller than float32, 8x than float64), the
    asymmetric approximate score (full-precision query vs
    reconstructed corpus vector) selects a candidate pool, and only
    pool*Q full-precision vectors are ever touched for the exact
    re-rank. Quantization error costs recall only, never precision of
    the FINAL scores — the output is exact cosine over the original
    vectors (rank semantics identical to brute force whenever the
    true top-k survives the pool cut; test-pinned).

    Engine-portability: reconstruction uses round((x-mn)/(mx-mn)*255)
    — both engines round the identical double — and both the approx
    and exact cosines are 6-dp-rounded before any ordering, with id
    tie-breaks, so the DuckDB oracle replays the whole path.
    """
    from dot_spark.operators.textdedup import spread_small_input

    mins, maxs = train_sq_minmax(corpus, corpus_vec)
    # reconstructed vector AND its norm computed once per corpus row,
    # never per (query, row) pair (the brute_force_topk norm rule)
    c = (
        spread_small_input(corpus)
        .withColumn("__deq", _sq_dequant(F.col(corpus_vec), mins, maxs))
        .withColumn("__dn", norm(F.col("__deq")))
    )
    q = F.broadcast(queries.withColumn("__qn", norm(F.col(query_vec))))
    approx = q.crossJoin(c).withColumn(
        "approx_sim",
        F.round(
            dot(F.col(query_vec), F.col("__deq"))
            / (F.col("__qn") * F.col("__dn")),
            6,
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_sim").desc(), F.col(corpus_id).asc()
    )
    cand = (
        approx.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= pool)
        .select(query_id, query_vec, "__qn", corpus_id)
    )
    exact = cand.join(
        corpus.select(
            corpus_id, corpus_vec
        ).withColumn("__cn", norm(F.col(corpus_vec))),
        on=corpus_id,
    ).withColumn(
        "cos_sim",
        F.round(
            dot(F.col(query_vec), F.col(corpus_vec))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ),
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos_sim", "rank")
    )


def _fold_dot(a, b) -> float:
    """Strict left-to-right float64 dot product — the ONE summation
    order shared by every PQ artifact consumer (the training replay,
    the encode UDF's per-dimension accumulation loop, and the SQL
    oracle's sequential list_sum), so a centroid norm computed here
    is bit-identical wherever it is recomputed."""
    acc = 0.0
    for x, y in zip(a, b):
        acc += float(x) * float(y)
    return acc


def pq_kmeans(
    x: np.ndarray, n_codes: int, iters: int = 8, seed: int = 7
) -> list[list[float]]:
    """Plain (L2) Lloyd k-means, float64 numpy, seeded init — the PQ
    per-subspace trainer. Like spherical_kmeans this is the ONE
    definition shared by the Spark training path (train_pq_codebooks)
    and the generated SQL oracle (queries._ss9_oracle_sql replays it
    on the same sample read via DuckDB): identical rows in identical
    order produce bit-identical codebooks. Subvectors are NOT unit
    vectors, so PQ trains in raw L2 space (Jegou et al., TPAMI 2011),
    not on the sphere."""
    x = np.asarray(x, dtype=np.float64)
    rng = np.random.default_rng(seed)
    cents = x[rng.choice(len(x), size=min(n_codes, len(x)), replace=False)].copy()
    for _ in range(iters):
        d = ((x[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        assign = d.argmin(axis=1)
        for c in range(len(cents)):
            members = x[assign == c]
            if len(members):
                cents[c] = members.mean(axis=0)
    return cents.tolist()


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    sample: int = 1024,
    iters: int = 8,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[list[float]]]:
    """Train product-quantization codebooks: split each vector into
    `m` contiguous subvectors and run seeded L2 k-means per subspace
    on a deterministic sample (the `sample` smallest ids — the
    train_ivf_centroids recipe). Returns m x n_codes x (dim/m)
    nested lists: m*n_codes*(dim/m) doubles total regardless of
    corpus size — the ss3-centroid class of driver artifact, shipped
    to executors as literals."""
    rows = (
        corpus.select(id_col, vec_col).orderBy(id_col).limit(sample).collect()
    )
    x = np.array([r[1] for r in rows], dtype=np.float64)
    dsub = x.shape[1] // m
    return [
        pq_kmeans(x[:, j * dsub : (j + 1) * dsub], n_codes, iters=iters, seed=seed)
        for j in range(m)
    ]


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[float]]],
    vec_col: str,
    out_col: str = "__codes",
    with_reconstruction: bool = False,
) -> DataFrame:
    """Attach the m-byte PQ code array: per subspace, the L2-nearest
    codebook entry (argmin of -2*x.c + |c|^2; |x|^2 is constant per
    row and cannot change the argmin).

    Arrow-vectorized Pandas UDF, one batch = m small matrix ops (the
    assign_cells shape). Engine-portability: the dot accumulates
    per-DIMENSION left-to-right (acc += x_i*c_i), the exact order the
    SQL oracle's sequential list_sum uses, and |c|^2 is precomputed
    once by _fold_dot in the same order — so near-tie argmins cannot
    flip between engines on summation-order float dust. Ties proper
    break to the LOWEST code on both sides (numpy argmin takes the
    first minimum; the oracle orders score ASC, code ASC).

    ``with_reconstruction=True`` also emits ``__rec`` (the decoded
    centroid concat, the exact doubles of the codebook) and ``__dn``
    (its norm, accumulated per-dimension left-to-right — the oracle's
    list_sum order) FROM THE SAME Arrow batch. This is load-bearing
    for wall time, not a convenience: decoding via a codegen literal
    lookup (pq_reconstruct) plants a ~4k-literal expression tree that
    norm() then references twice (zip_with doubles it), and Spark
    evaluates the resulting giant tree interpreted — measured 4 s for
    a 2,000-row decode vs milliseconds in the batch that already
    holds the codes. Same class as layout.ranked_by's derived-key
    lesson: deep derived expression trees must be materialized at a
    barrier, and the Arrow stage IS the barrier."""
    from pyspark.sql.functions import pandas_udf

    books = [np.array(b, dtype=np.float64) for b in codebooks]
    cnorm2 = [np.array([_fold_dot(c, c) for c in b], dtype=np.float64) for b in books]
    m = len(books)
    dsub = books[0].shape[1]

    def _assign(x: np.ndarray) -> np.ndarray:
        out = np.empty((len(x), m), dtype=np.int32)
        for j in range(m):
            xs = x[:, j * dsub : (j + 1) * dsub]
            acc = np.zeros((len(x), len(books[j])), dtype=np.float64)
            for i in range(dsub):
                acc = acc + xs[:, i : i + 1] * books[j][:, i][None, :]
            out[:, j] = (-2.0 * acc + cnorm2[j]).argmin(axis=1)
        return out

    if not with_reconstruction:

        @pandas_udf("array<int>")
        def _codes(vecs: pd.Series) -> pd.Series:
            if len(vecs) == 0:  # empty Arrow batch (empty partition)
                return pd.Series([], dtype=object)
            x = np.stack(vecs.to_numpy()).astype(np.float64)
            return pd.Series(list(_assign(x)))

        return df.withColumn(out_col, _codes(F.col(vec_col)))

    @pandas_udf("struct<codes:array<int>, rec:array<double>, dn:double>")
    def _full(vecs: pd.Series) -> pd.DataFrame:
        if len(vecs) == 0:
            return pd.DataFrame({"codes": [], "rec": [], "dn": []})
        x = np.stack(vecs.to_numpy()).astype(np.float64)
        codes = _assign(x)
        rec = np.concatenate(
            [books[j][codes[:, j]] for j in range(m)], axis=1
        )
        # per-dimension left-to-right accumulation == the HOF fold ==
        # the oracle's list_sum order (bit-stable near-tie pool cuts)
        acc = np.zeros(len(x), dtype=np.float64)
        for i in range(rec.shape[1]):
            acc = acc + rec[:, i] * rec[:, i]
        dn = np.sqrt(acc)
        return pd.DataFrame(
            {"codes": list(codes), "rec": list(rec), "dn": dn}
        )

    staged = df.withColumn("__pq", _full(F.col(vec_col)))
    return (
        staged.withColumn(out_col, F.col("__pq.codes"))
        .withColumn("__rec", F.col("__pq.rec"))
        .withColumn("__dn", F.col("__pq.dn"))
        .drop("__pq")
    )


def pq_reconstruct(codes: Column, codebooks: list[list[list[float]]]) -> Column:
    """Decode an m-length PQ code array back to the concatenated
    centroid vector as a pure expression over the literal codebooks
    (index-aware transform + flatten).

    KEPT AS THE DOCUMENTED ANTI-PATTERN, not the hot path: the
    literal codebook is a ~4k-node expression tree, any norm over
    the result references it twice (zip_with doubles the tree), and
    Spark evaluates the blown-up tree interpreted — measured ~2 ms/
    row (4 s for a 2,000-row decode) vs milliseconds via
    pq_encode(with_reconstruction=True), which decodes inside the
    Arrow batch that already holds the codes. Use this form only for
    one-off decodes of a handful of rows where adding a Python stage
    is not worth it."""
    cb = F.array(
        *[
            F.array(*[F.array(*[F.lit(float(v)) for v in cent]) for cent in book])
            for book in codebooks
        ]
    )
    return F.flatten(
        F.transform(
            codes,
            lambda c, i: F.element_at(F.element_at(cb, (i + 1).cast("int")), c + 1),
        )
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    k: int = 10,
    pool: int = 30,
    sample: int = 1024,
    seed: int = 7,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
) -> DataFrame:
    """Product-quantized top-k with exact re-rank — the ANN memory
    play beyond ss8's scalar quantizer: the scan side holds m CODE
    BYTES per vector (64-dim float32 = 256 B -> 8 B at m=8, a 32x
    compression vs ss8's 4x), the asymmetric approximate score
    (full-precision query vs codebook-reconstructed corpus vector)
    selects a candidate pool, and only pool*Q original vectors are
    touched for the exact re-rank. Same contract as sq_topk:
    quantization costs recall only — final scores are exact cosine
    over the original vectors (test-pinned recall@10).

    Scale shape: train on a bounded sample (driver artifact =
    m*n_codes*(dim/m) doubles); encode AND reconstruction AND the
    reconstructed norm are ONE Arrow-batched pass that rides the
    corpus scan partitioning (the codegen-literal decode alternative
    is ~100x slower — see pq_reconstruct); at real scale the codes
    table is the stored index and this pass is the scan-time decode
    of 8-byte rows — the memory win. The pool cut is one per-query
    window; the re-rank join touches pool*Q rows. No corpus shuffle
    before the pool cut.

    At 100 TB you would persist (corpus_id, codes) as the index
    table and skip re-encoding per query batch; the per-query-batch
    flow here IS that read path.
    """
    from dot_spark.operators.textdedup import spread_small_input

    codebooks = train_pq_codebooks(
        corpus,
        m=m,
        n_codes=n_codes,
        sample=sample,
        seed=seed,
        id_col=corpus_id,
        vec_col=corpus_vec,
    )
    # reconstructed vector AND its norm computed once per corpus row,
    # never per (query, row) pair (the brute_force_topk norm rule) —
    # and inside the SAME Arrow batch as the code assignment: the
    # codegen-literal decode path is 100x slower here (see the
    # with_reconstruction note on pq_encode)
    c = pq_encode(
        spread_small_input(corpus),
        codebooks,
        corpus_vec,
        with_reconstruction=True,
    ).select(corpus_id, "__rec", "__dn")
    q = F.broadcast(queries.withColumn("__qn", norm(F.col(query_vec))))
    approx = q.crossJoin(c).withColumn(
        "approx_sim",
        F.round(
            dot(F.col(query_vec), F.col("__rec")) / (F.col("__qn") * F.col("__dn")),
            6,
        ),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("approx_sim").desc(), F.col(corpus_id).asc()
    )
    cand = (
        approx.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= pool)
        .select(query_id, query_vec, "__qn", corpus_id)
    )
    exact = cand.join(
        corpus.select(corpus_id, corpus_vec).withColumn(
            "__cn", norm(F.col(corpus_vec))
        ),
        on=corpus_id,
    ).withColumn(
        "cos_sim",
        F.round(
            dot(F.col(query_vec), F.col(corpus_vec))
            / (F.col("__qn") * F.col("__cn")),
            6,
        ),
    )
    w2 = Window.partitionBy(query_id).orderBy(
        F.col("cos_sim").desc(), F.col(corpus_id).asc()
    )
    return (
        exact.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "cos_sim", "rank")
    )
