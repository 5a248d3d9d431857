"""Property-style tests for the training-data pipeline operators:
text analysis, dedup suite, similarity search.

Style follows the reference's rule-per-test pattern
(dbt-classify/main_test.py): each invariant gets its own test.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dot_spark.operators.similarity import brute_force_topk, cosine, ivf_topk
from dot_spark.operators.text import fingerprint, language_id, quality_score, token_stats
from dot_spark.operators.textdedup import (
    embedding_neardup_pairs,
    exact_dedup,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_signature,
)
from dot_spark.sources.registry import load_table
from tests.conftest import unmaterialized


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, "documents", sf_dir).cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, "embeddings", sf_dir).cache()


# --- text analysis ---------------------------------------------------------


def test_token_stats_positive_and_consistent(docs):
    out = token_stats(docs).select("doc_id", "n_tokens_ws", "n_tokens_bpe", "avg_token_len")
    bad = out.filter(
        (F.col("n_tokens_ws") <= 0)
        | (F.col("n_tokens_bpe") <= 0)
        | (F.col("avg_token_len") <= 0)
    )
    assert bad.count() == 0


def test_quality_score_bounded(docs):
    out = quality_score(docs)
    bad = out.filter((F.col("quality") < 0) | (F.col("quality") > 1))
    assert bad.count() == 0
    bad_ratio = out.filter((F.col("stopword_ratio") < 0) | (F.col("stopword_ratio") > 1))
    assert bad_ratio.count() == 0


def test_language_id_pred_from_profiles(docs):
    out = language_id(docs)
    # prediction only ever comes from the declared profile set or NULL
    preds = {r.lang_pred for r in out.select("lang_pred").distinct().collect()}
    assert preds <= {"en", "es", "de", "fr", None}
    # argmax consistency: predicted language's hits equal the max hits
    mx = F.greatest("hits_en", "hits_es", "hits_de", "hits_fr")
    for lang in ("en", "es", "de", "fr"):
        bad = out.filter((F.col("lang_pred") == lang) & (F.col(f"hits_{lang}") != mx))
        assert bad.count() == 0, lang


def test_fingerprint_deterministic_and_edit_robust(spark, docs):
    out = fingerprint(docs).select("doc_id", "fp_full", "fp_rolling")
    a = {r.doc_id: (r.fp_full, r.fp_rolling) for r in out.collect()}
    b = {r.doc_id: (r.fp_full, r.fp_rolling) for r in out.collect()}
    assert a == b
    # fp_full is md5-shaped
    assert all(len(v[0]) == 32 for v in a.values())
    # rolling fingerprint survives an appended token far from the
    # minimum shingle in most docs (winnowing robustness, spot check)
    edited = docs.withColumn("text", F.concat(F.col("text"), F.lit(" zzz")))
    e = {r.doc_id: r.fp_rolling for r in fingerprint(edited).collect()}
    same = sum(1 for d in a if e[d] == a[d][1])
    assert same > len(a) * 0.8


# --- dedup suite -----------------------------------------------------------


def test_exact_dedup_partitions_ids(docs):
    out = exact_dedup(docs)
    total = out.agg(F.sum("n_dups")).collect()[0][0]
    assert total == docs.count()
    # keep_id is a real doc id
    ids = docs.select("doc_id").distinct()
    missing = out.join(ids, out.keep_id == ids.doc_id, "left_anti")
    assert missing.count() == 0


def test_exact_dedup_finds_planted_duplicate(spark, docs):
    dup = docs.limit(1).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    out = exact_dedup(docs.unionByName(dup))
    assert out.filter(F.col("n_dups") == 2).count() >= 1


def test_lsh_recall_against_exact_jaccard(docs):
    """Every true near-dup pair (3-gram Jaccard >= 0.9) must appear in
    the LSH candidate set: at j=0.9 the per-band collision chance is
    j^4 ~ 0.65, so P(miss all 4 bands) ~ 1.5% per pair — with the
    planted ~0.99 cluster it is ~0 and the fixture is deterministic."""
    truth = ngram_jaccard_pairs(docs, n=3, threshold=0.9).select("id_a", "id_b")
    assert truth.count() > 0  # the corpus has planted near-dups
    sig = minhash_signatures(docs, num_hashes=16, shingle_n=3)
    cand = lsh_candidate_pairs(lsh_bands(sig))
    missed = truth.join(cand, ["id_a", "id_b"], "left_anti")
    assert missed.count() == 0


def test_simhash_shape_and_self_similarity(docs):
    out = docs.select("doc_id", simhash("text").alias("sh"))
    rows = out.collect()
    assert all(len(r.sh) == 16 and set(r.sh) <= {"0", "1"} for r in rows)
    # identical text => identical simhash
    dup = docs.limit(5).withColumn("doc_id", F.col("doc_id") + 1_000_000)
    both = docs.limit(5).unionByName(dup).select("doc_id", simhash("text").alias("sh"))
    got = [r.sh for r in both.orderBy("doc_id").collect()]
    assert got[:5] == got[5:]


def test_simhash_df_op_matches_column_form(docs):
    """The scale-shaped explode+sum formulation must produce the
    exact fingerprint of the reference column expression."""
    col_form = docs.select("doc_id", simhash("text").alias("simhash"))
    df_form = simhash_signature(docs)
    diff = col_form.exceptAll(df_form)
    assert diff.count() == 0
    assert df_form.count() == docs.count()


def test_ngram_jaccard_symmetric_bounds(docs):
    out = ngram_jaccard_pairs(docs, n=3, threshold=0.7)
    bad = out.filter((F.col("jaccard") < 0.7) | (F.col("jaccard") > 1.0))
    assert bad.count() == 0
    ordered = out.filter(F.col("id_a") >= F.col("id_b"))
    assert ordered.count() == 0


def test_embedding_neardup_matches_manual_cosine(emb):
    pairs = embedding_neardup_pairs(emb, threshold=0.45).collect()
    if not pairs:
        pytest.skip("no near-dup pairs at this sf")
    vecs = {r.vec_id: r.embedding for r in emb.collect()}
    import math

    for p in pairs[:5]:
        a, b = vecs[p.id_a], vecs[p.id_b]
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        assert abs(dot / (na * nb) - p.cos_sim) < 1e-3


# --- similarity search -----------------------------------------------------


def test_cosine_self_is_one(emb):
    out = emb.select(cosine(F.col("embedding"), F.col("embedding")).alias("c"))
    bad = out.filter(F.abs(F.col("c") - 1.0) > 1e-9)
    assert bad.count() == 0


def test_brute_force_topk_rank_contract(emb):
    q = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = brute_force_topk(q, emb, k=5)
    rows = out.collect()
    # exactly k rows per query, rank 1..k, self is rank 1 with cos 1.0
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    for qid, rs in by_q.items():
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, 6))
        top = min(rs, key=lambda r: r.rank)
        assert top.vec_id == qid and top.cos_sim == 1.0
        # scores non-increasing with rank
        srt = sorted(rs, key=lambda r: r.rank)
        assert all(srt[i].cos_sim >= srt[i + 1].cos_sim for i in range(len(srt) - 1))


def test_ivf_topk_subset_of_cell(emb):
    q = emb.filter(F.col("vec_id") < 3).select(
        "label", F.col("vec_id").alias("query_id"), F.col("query_vec")
        if "query_vec" in emb.columns
        else F.col("embedding").alias("query_vec"),
    )
    out = ivf_topk(q, emb, "label", k=5)
    # every returned candidate shares the query's cell
    qlab = {r.vec_id: r.label for r in emb.filter(F.col("vec_id") < 3).collect()}
    clab = {r.vec_id: r.label for r in emb.collect()}
    for r in out.collect():
        assert clab[r.vec_id] == qlab[r.query_id]


def test_trained_ivf_recall_against_exact(emb):
    """Recall gate (deterministic: seeded k-means on a sorted-id
    sample). The synthetic embeddings are only weakly clustered, so
    half-probing (4 of 8 cells) must recover >= 80% of the exact
    top-10, and probing ALL cells must reproduce brute force EXACTLY
    — the end-to-end correctness invariant of the index pipeline."""
    from dot_spark.operators.similarity import ivf_search, train_ivf_centroids

    cents = train_ivf_centroids(emb, n_cells=8, sample=1024, seed=7)
    assert len(cents) == 8 and all(abs(sum(x * x for x in c) - 1.0) < 1e-9 for c in cents)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(q, emb, k=10).collect()}
    approx = {(r.query_id, r.vec_id)
              for r in ivf_search(q, emb, cents, k=10, nprobe=4).collect()}
    assert len(approx & exact) / len(exact) >= 0.8
    # self is always found: the query's own vector shares its cell
    assert all((qid, qid) in approx for qid in range(5))
    # probing every cell removes the approximation entirely
    full = {(r.query_id, r.vec_id)
            for r in ivf_search(q, emb, cents, k=10, nprobe=8).collect()}
    assert full == exact


def test_trained_ivf_centroids_deterministic(emb):
    from dot_spark.operators.similarity import train_ivf_centroids

    c1 = train_ivf_centroids(emb, n_cells=4, sample=256, seed=7)
    c2 = train_ivf_centroids(emb, n_cells=4, sample=256, seed=7)
    assert c1 == c2


def test_lsh_bucketed_topk_recall_and_exactness(emb):
    """Sign-LSH ANN: recall grows monotonically with the Hamming
    probe radius, and probing every bucket (radius = n_planes) must
    reproduce brute force EXACTLY — the same end-to-end invariant as
    the trained-IVF path. Absolute recall at small radii is a
    property of the (weakly clustered) fixture, so only the
    structure is pinned."""
    from dot_spark.operators.similarity import lsh_topk, random_hyperplanes

    planes = random_hyperplanes(64, n_planes=6, seed=7)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(q, emb, k=10).collect()}
    recalls = []
    for hm in (0, 2, 6):
        approx = {(r.query_id, r.vec_id)
                  for r in lsh_topk(q, emb, planes, k=10, hamming=hm).collect()}
        recalls.append(len(approx & exact) / len(exact))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0
    full = {(r.query_id, r.vec_id)
            for r in lsh_topk(q, emb, planes, k=10, hamming=6).collect()}
    assert full == exact


def test_lsh_planes_deterministic_and_unit(emb):
    from dot_spark.operators.similarity import random_hyperplanes

    p1 = random_hyperplanes(64, n_planes=6, seed=7)
    p2 = random_hyperplanes(64, n_planes=6, seed=7)
    assert p1 == p2
    assert all(abs(sum(x * x for x in h) - 1.0) < 1e-9 for h in p1)


def test_bucketed_neardup_scale_path(emb):
    """dd5's scale path end-to-end: IVF cells from the trained
    quantizer prune the pair join. Single-probe pairs must be a
    SUBSET of the brute-force pairs (same scoring, fewer
    candidates); probing every cell on both sides removes the
    approximation and must reproduce brute force EXACTLY. (The 0.45
    threshold keeps the fixture non-empty, but such pairs sit at
    ~63 degrees — far from parallel — so single-probe recall is a
    property of the data, not pinned here.)"""
    from dot_spark.operators.similarity import assign_cells, train_ivf_centroids
    from dot_spark.operators.textdedup import bucketed_neardup_pairs

    exact = {(r.id_a, r.id_b)
             for r in embedding_neardup_pairs(emb, threshold=0.45).collect()}
    if not exact:
        pytest.skip("no near-dup pairs at this sf")
    cents = train_ivf_centroids(emb, n_cells=8, sample=1024, seed=7)
    home = assign_cells(emb, cents, "embedding", nprobe=1).select(
        F.element_at(F.col("__cells"), 1).alias("cell"), "vec_id", "embedding"
    )
    got = {(r.id_a, r.id_b)
           for r in bucketed_neardup_pairs(home, "cell", threshold=0.45).collect()}
    assert got <= exact
    # full multi-probe: every vector appears in all 8 cells, so every
    # pair co-buckets somewhere; distinct() collapses multi-cell hits
    allcells = assign_cells(emb, cents, "embedding", nprobe=8).select(
        F.explode(F.col("__cells")).alias("cell"), "vec_id", "embedding"
    )
    full = {(r.id_a, r.id_b) for r in bucketed_neardup_pairs(
        allcells, "cell", threshold=0.45).distinct().collect()}
    assert full == exact


def test_bucketed_neardup_hot_cell_cap_laws(emb):
    """max_bucket (the dd5b hot-cell escape hatch) laws:
    (a) cap >= the true max cell size is the IDENTITY;
    (b) a cap below a cell's size removes EXACTLY that cell's pairs
        (other cells untouched) — the degenerate cell contributes
        nothing instead of an unbounded m_b² task;
    (c) cap that excludes every cell yields no pairs, and semdedup
        then KEEPS every vector as a singleton (the conservative
        failure mode for a dedup)."""
    from dot_spark.operators.similarity import semdedup
    from dot_spark.operators.textdedup import bucketed_neardup_pairs

    base = {
        (r.id_a, r.id_b)
        for r in bucketed_neardup_pairs(emb, "label", threshold=0.45).collect()
    }
    sizes = {
        r["label"]: r["n"]
        for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    cell_of = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    mx = max(sizes.values())

    capped_at_max = {
        (r.id_a, r.id_b)
        for r in bucketed_neardup_pairs(
            emb, "label", threshold=0.45, max_bucket=mx
        ).collect()
    }
    assert capped_at_max == base  # (a) identity

    hot = {lbl for lbl, n in sizes.items() if n > mx - 1}
    want = {p for p in base if cell_of[p[0]] not in hot}
    got = {
        (r.id_a, r.id_b)
        for r in bucketed_neardup_pairs(
            emb, "label", threshold=0.45, max_bucket=mx - 1
        ).collect()
    }
    assert got == want  # (b) surgical removal

    none = bucketed_neardup_pairs(emb, "label", threshold=0.45, max_bucket=0)
    assert none.count() == 0  # (c) every cell hot -> no pairs
    sem = semdedup(emb, "label", threshold=0.45, max_bucket=0).collect()
    assert all(r["keep"] for r in sem)
    assert all(r["cluster_id"] == r["vec_id"] for r in sem)


# --- round-2 operators: repetition, scrub, tfidf, contamination, ---------
# --- sampling, sessionize                                         ---------


def test_repetition_ratio_known_values(spark):
    from dot_spark.operators.text import repetition_ratio

    df = spark.createDataFrame(
        [(1, "a b a b c"), (2, "x y z"), (3, "w w w w")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: (r.rep_2gram, r.rep_3gram) for r in repetition_ratio(df).collect()}
    # doc1 2-grams: [a b, b a, a b, b c] -> 1 - 3/4
    assert got[1] == (0.25, 0.0)
    assert got[2] == (0.0, 0.0)
    # doc3 2-grams: [w w]*3 -> 1 - 1/3; 3-grams: [w w w]*2 -> 1 - 1/2
    assert got[3] == (0.6667, 0.5)


def test_scrub_text_patterns(spark):
    from dot_spark.operators.text import scrub_text

    df = spark.createDataFrame(
        [(1, "mail bob.smith+x@corp.example.org now"),
         (2, "see https://a.example.com/p?q=1 ok"),
         (3, "pin 123456 but keep 123"),
         (4, "clean text stays")],
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r.scrubbed for r in scrub_text(df).collect()}
    assert got[1] == "mail <EMAIL> now"
    assert got[2] == "see <URL> ok"
    assert got[3] == "pin <NUM> but keep 123"
    assert got[4] == "clean text stays"


def test_tfidf_rare_term_outranks_common(spark):
    from dot_spark.operators.text import tfidf_top_terms

    df = spark.createDataFrame(
        [(1, "shared shared rare"), (2, "shared common"), (3, "shared common")],
        "doc_id BIGINT, text STRING",
    )
    top = {r.doc_id: r.term for r in tfidf_top_terms(df, k=1).collect()}
    # 'shared' appears in every doc (idf ln(4/4)=0); 'rare' only in doc1
    assert top[1] == "rare"
    ranks = tfidf_top_terms(df, k=3).filter(F.col("doc_id") == 1).collect()
    # doc1 has two distinct terms; rare (idf>0) outranks shared (idf=0)
    assert [(r.rank, r.term) for r in sorted(ranks, key=lambda r: r.rank)] == [
        (1, "rare"), (2, "shared")
    ]


def test_contamination_flags_planted_overlap(spark):
    from dot_spark.operators.textdedup import contamination_flags

    bench = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], "doc_id BIGINT, text STRING"
    )
    train = spark.createDataFrame(
        [(1, "x alpha beta gamma delta y"),   # shares 4-gram(s)
         (2, "totally different words here"),
         (3, "alpha beta gamma delta epsilon")],  # identical -> 2 shingles
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: (r.n_hit_shingles, r.n_bench_docs)
           for r in contamination_flags(train, bench, n=4).collect()}
    assert set(got) == {1, 3}
    assert got[1] == (1, 1)  # 'alpha beta gamma delta'
    assert got[3] == (2, 1)  # both 4-grams of the 5-word doc


def test_contamination_broadcasts_bench_side(spark, sf_dir):
    """The 100 TB contract: the benchmark shingle index must
    BROADCAST (training side never shuffles for the join)."""
    from dot_spark.operators.textdedup import contamination_flags
    from dot_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    plan = (
        contamination_flags(docs.filter("doc_id % 97 <> 0"),
                            docs.filter("doc_id % 97 = 0"), n=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan, plan


def test_hash_sample_reproducible_and_partition_invariant(spark):
    from dot_spark.operators.sampling import hash_sample

    df = spark.range(10000).withColumnRenamed("id", "k")
    a = sorted(r.k for r in hash_sample(df, "k").collect())
    b = sorted(r.k for r in hash_sample(df.repartition(17), "k").collect())
    assert a == b and a  # same rows regardless of partitioning
    rate = len(a) / 10000
    assert 0.07 < rate < 0.14  # ~26/256


def test_stratified_hash_sample_rates_and_allowlist(spark):
    from dot_spark.operators.sampling import stratified_hash_sample

    df = spark.range(30000).selectExpr(
        "id AS k", "CASE id % 3 WHEN 0 THEN 'a' WHEN 1 THEN 'b' ELSE 'c' END AS s"
    )
    out = stratified_hash_sample(df, "k", "s", {"a": 128, "b": 26}).collect()
    by = {}
    for r in out:
        by.setdefault(r.s, []).append(r.k)
    assert set(by) == {"a", "b"}  # 'c' dropped (allowlist)
    assert 0.45 < len(by["a"]) / 10000 < 0.55
    assert 0.07 < len(by["b"]) / 10000 < 0.14


def test_sessionize_gap_boundaries(spark):
    import datetime as dt

    from dot_spark.operators.sampling import sessionize

    t0 = dt.datetime(2026, 5, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [
        (1, 10, t0),            # session 1
        (1, 11, t0 + 10 * m),   # still session 1 (gap 10m)
        (1, 12, t0 + 41 * m),   # gap 31m > 30m -> session 2
        (1, 13, t0 + 71 * m),   # gap exactly 30m -> stays session 2
        (2, 20, t0),            # other user: own session numbering
    ]
    df = spark.createDataFrame(rows, "user_id BIGINT, event_id BIGINT, ts TIMESTAMP")
    got = {r.event_id: r.session_idx for r in sessionize(df).collect()}
    assert got == {10: 1, 11: 1, 12: 2, 13: 2, 20: 1}


def test_sessionize_accepts_timestamp_ntz(spark):
    """The gap arithmetic must be legal for TIMESTAMP_NTZ inputs
    (cast("long") is not): any reader bypassing load_table's
    normalization hands sessionize a raw NTZ column."""
    import datetime as dt

    from dot_spark.operators.sampling import sessionize

    t0 = dt.datetime(2026, 5, 1, 12, 0, 0)
    m = dt.timedelta(minutes=1)
    rows = [(1, 10, t0), (1, 11, t0 + 10 * m), (1, 12, t0 + 41 * m)]
    df = spark.createDataFrame(rows, "user_id BIGINT, event_id BIGINT, ts TIMESTAMP_NTZ")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    got = {r.event_id: r.session_idx for r in sessionize(df).collect()}
    assert got == {10: 1, 11: 1, 12: 2}


def test_sessionize_single_shuffle(spark):
    """Both window passes must reuse ONE per-user exchange."""
    import datetime as dt

    from dot_spark.operators.sampling import sessionize

    df = spark.createDataFrame(
        [(1, 1, dt.datetime(2026, 5, 1))], "user_id BIGINT, event_id BIGINT, ts TIMESTAMP"
    )
    plan = sessionize(df)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning(user_id") == 1, plan


def test_chunk_documents_coverage_and_overlap(spark):
    from dot_spark.operators.text import chunk_documents

    words = " ".join(f"w{i}" for i in range(60))
    df = spark.createDataFrame([(1, words), (2, "short doc")], "doc_id BIGINT, text STRING")
    rows = sorted(chunk_documents(df, chunk_size=32, stride=24).collect(),
                  key=lambda r: (r.doc_id, r.chunk_idx))
    by1 = [r for r in rows if r.doc_id == 1]
    # starts at tokens 0, 24, 48 -> 3 chunks; sizes 32, 32, 12
    assert [r.chunk_idx for r in by1] == [0, 1, 2]
    assert [r.n_tokens for r in by1] == [32, 32, 12]
    assert by1[0].chunk_text.split(" ")[24:] == by1[1].chunk_text.split(" ")[:8]  # overlap
    assert by1[2].chunk_text.split(" ")[-1] == "w59"  # full coverage
    by2 = [r for r in rows if r.doc_id == 2]
    assert len(by2) == 1 and by2[0].n_tokens == 2 and by2[0].chunk_text == "short doc"


def test_stratified_hash_sample_empty_rates_drops_all(spark):
    from dot_spark.operators.sampling import stratified_hash_sample

    df = spark.range(100).selectExpr("id AS k", "'a' AS s")
    assert stratified_hash_sample(df, "k", "s", {}).count() == 0


def test_quality_filter_rule_order_and_diversity(spark, docs):
    from dot_spark.operators.text import quality_filter

    crafted = spark.createDataFrame(
        [(1, "the cat sat on the mat quietly today"),   # keep
         (2, "spam spam spam spam spam spam"),          # repetitive
         (3, "alpha beta gamma delta epsilon zeta")],   # no stopwords
        "doc_id BIGINT, text STRING",
    )
    got = {r.doc_id: r.verdict for r in quality_filter(crafted).collect()}
    assert got == {1: "keep", 2: "repetitive", 3: "no_stopwords"}
    # on the corpus the filter must actually split the data
    verds = {r.verdict for r in quality_filter(docs, max_rep3=0.01)
             .select("verdict").distinct().collect()}
    assert len(verds) >= 2


def test_semdedup_keep_rule_and_singletons(spark):
    """pl9: within a cell, transitive near-dups collapse to one
    cluster keeping the LEAST-central member (min cosine to the cell
    centroid); a vector with no near-dup keeps itself."""
    from dot_spark.operators.similarity import semdedup

    # cell 0: three near-identical vectors (pairwise cos ~1) plus one
    # orthogonal outlier -> one 3-cluster + one singleton
    rows = [
        (1, [1.0, 0.0, 0.01], 0),
        (2, [1.0, 0.0, 0.02], 0),
        (3, [1.0, 0.0, 0.03], 0),
        (4, [0.0, 1.0, 0.0], 0),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    out = {r["vec_id"]: r for r in semdedup(emb, "label", threshold=0.9).collect()}
    assert len(out) == 4
    # 1,2,3 share one cluster labeled by the min id
    assert out[1]["cluster_id"] == out[2]["cluster_id"] == out[3]["cluster_id"] == 1
    # singleton keeps itself
    assert out[4]["cluster_id"] == 4 and out[4]["keep"]
    # exactly one survivor in the big cluster, the least-central one
    kept = [v for v in (1, 2, 3) if out[v]["keep"]]
    assert len(kept) == 1
    least_central = min((1, 2, 3), key=lambda v: (out[v]["cos_to_centroid"], v))
    assert kept == [least_central]


def test_bpe_training_is_partition_invariant(spark):
    """BPE merges must not depend on physical partitioning: pair
    counts are full aggregates and the argmax ordering is total, so
    any repartitioning yields the identical merge table."""
    from dot_spark.operators.bpe import bpe_merges, reference_bpe

    texts = ["aa ab aa", "ab ab b", "aa b ab", "b aa ab aa"]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    want = reference_bpe(texts, k=3)
    for parts in (1, 7):
        got = [
            (r["rank"], r["left_sym"], r["right_sym"], r["pair_count"])
            for r in bpe_merges(docs.repartition(parts), k=3).orderBy("rank").collect()
        ]
        assert got == want, parts


def test_leakproof_split_never_straddles_neardup_pairs(spark):
    """p17's contract on real data: every LSH candidate pair lands on
    the SAME side of the train/val/test split (the leak a doc-keyed
    split allows), and the split remains a total assignment of the
    corpus."""
    from dot_spark.queries import QUERIES
    from dot_spark.operators.textdedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from dot_spark.sources.registry import load_table

    sf = "/root/testdata/sf0.001"
    split = {r["doc_id"]: r["split"]
             for r in QUERIES["p17_leakproof_split"](spark, sf).collect()}
    docs = load_table(spark, "documents", sf)
    assert set(split) == {r["doc_id"] for r in docs.select("doc_id").collect()}

    pairs = lsh_candidate_pairs(
        lsh_bands(minhash_signatures(docs, num_hashes=16, shingle_n=3))
    ).collect()
    straddlers = [
        (r["id_a"], r["id_b"])
        for r in pairs
        if split[r["id_a"]] != split[r["id_b"]]
    ]
    assert not straddlers, straddlers


def test_mmr_diversifies_against_a_duplicate_cluster(spark):
    """Fixture (3D, numerically designed): the 4 most relevant corpus
    vectors are near-clones of one direction; plain top-5 returns the
    whole clone cluster, MMR must break out to the two diverse
    vectors right after the first pick. Also pins rank-1 == brute
    top-1 and determinism of the full ranked selection. (A 2D fixture
    cannot test this: with query == clone direction every candidate's
    similarity to the picked clone equals its relevance and MMR
    degenerates to top-k.)"""
    import math

    from dot_spark.operators.similarity import brute_force_topk, mmr_topk

    def unit(*v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    corpus = [
        (0, unit(0.9, 0.436, 0.0)),
        (1, unit(0.9, 0.436, 0.004)),
        (2, unit(0.9, 0.436, -0.004)),
        (3, unit(0.9, 0.430, 0.01)),    # the clone cluster 0-3
        (4, unit(0.8, 0.0, 0.6)),       # diverse, still relevant
        (5, unit(0.8, 0.0, -0.6)),
        (6, unit(0.6, -0.64, 0.48)),
        (7, unit(0.5, -0.5, -0.7)),
        (8, unit(-0.2, 1.0, 0.0)),
        (9, unit(-0.2, -1.0, 0.1)),
    ]
    emb = spark.createDataFrame(corpus, "vec_id long, embedding array<float>")
    q = spark.createDataFrame(
        [(100, unit(1.0, 0.0, 0.0))], "query_id long, query_vec array<float>"
    )
    top5 = {r["vec_id"] for r in brute_force_topk(q, emb, k=5).collect()}
    assert top5 == {0, 1, 2, 3, 4}, top5  # 4/5 are clones
    sel = mmr_topk(q, emb, k=5, pool=10).collect()
    picked = [r["vec_id"] for r in sorted(sel, key=lambda r: r["sel_rank"])]
    assert picked[0] == 3  # rank-1 is the brute top-1
    # lambda=2/3: ranks 2-4 are the three diverse vectors, exactly as
    # the independent pure-Python greedy model predicts
    assert set(picked[1:4]) == {4, 5, 6}, picked
    assert sum(1 for v in picked if v <= 3) <= 2, picked
    assert len(set(picked)) == 5
    # determinism: a second run selects the identical ranked list
    sel2 = mmr_topk(q, emb, k=5, pool=10).collect()
    key = lambda rows: sorted(
        (r["sel_rank"], r["vec_id"], r["mmr_score"]) for r in rows
    )
    assert key(sel) == key(sel2)


def test_sq_topk_exact_scores_and_high_recall(spark, sf_dir):
    """Scalar quantization may cost recall, never score precision:
    every (query, id) ss8 returns must carry the IDENTICAL exact
    cosine brute force computes for that pair, and with a 3x pool the
    true top-10 should survive the cut almost entirely on real
    embeddings (recall@10 >= 0.9 averaged over the 5 queries)."""
    from dot_spark.operators.similarity import brute_force_topk, sq_topk
    from dot_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_dir)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r["query_id"], r["vec_id"]): r["cos_sim"]
        for r in brute_force_topk(q, emb, k=10).collect()
    }
    got = sq_topk(q, emb, k=10, pool=30).collect()
    hits = 0
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in brute:
            hits += 1
            assert r["cos_sim"] == brute[key], key  # exact, not approximate
    assert hits / len(brute) >= 0.9, hits


def test_pq_topk_exact_scores_recall_and_codebook_determinism(spark, sf_dir):
    """Product quantization may cost recall, never score precision:
    every (query, id) ss9 returns must carry the IDENTICAL exact
    cosine brute force computes for that pair; with a 3x pool the
    true top-10 should mostly survive the 8-byte-code cut (recall@10
    >= 0.9 over the 5 queries; m=16 x 64-centroid codebooks — the
    measured knee where 21x-compressed codes stop costing recall on
    this corpus). Training
    must be bit-deterministic: two runs over the same corpus produce
    identical codebooks (the property the generated-literal oracle
    depends on)."""
    from dot_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
        train_pq_codebooks,
    )
    from dot_spark.sources.registry import load_table
    from pyspark.sql import functions as F

    emb = load_table(spark, "embeddings", sf_dir)
    cb1 = train_pq_codebooks(emb, m=16, n_codes=64, sample=1024, seed=7)
    cb2 = train_pq_codebooks(emb, m=16, n_codes=64, sample=1024, seed=7)
    assert cb1 == cb2  # bit-identical, not approximately equal
    assert len(cb1) == 16 and all(len(b) <= 64 for b in cb1)

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    brute = {
        (r["query_id"], r["vec_id"]): r["cos_sim"]
        for r in brute_force_topk(q, emb, k=10).collect()
    }
    got = pq_topk(q, emb, m=16, n_codes=64, k=10, pool=30).collect()
    hits = 0
    for r in got:
        key = (r["query_id"], r["vec_id"])
        if key in brute:
            hits += 1
            assert r["cos_sim"] == brute[key], key  # exact, not approximate
    assert hits / len(brute) >= 0.9, hits


def test_duplicated_spans_merges_overlaps_and_respects_cross_doc_rule(spark):
    """Constructed corpus: docs 1 and 2 share a 40-char region
    (overlapping 25-char windows must fuse into ONE maximal span
    covering the whole region in each doc); doc 3 repeats a window
    only WITHIN itself (min_docs=2 distinct docs — must not
    report); doc 4 shares nothing."""
    from dot_spark.operators.textdedup import duplicated_spans

    shared = "the quick brown fox jumps over the lazy dog!"  # 44 chars
    # flank the shared region with DIFFERENT characters in each doc,
    # else the flanks themselves extend the true maximal shared span
    rows = [
        (1, "AAAA;" + shared + ";unique tail one here"),
        (2, "something else leads in:" + shared + ":zz"),
        (3, "x" * 30 + "y" * 30 + "x" * 30),
        (4, "completely different text with no repeats at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {
        (r["doc_id"], r["span_start"], r["span_end_excl"]): (
            r["span_len"],
            r["n_windows"],
        )
        for r in duplicated_spans(df, window=25, min_docs=2).collect()
    }
    # doc 1: shared starts at pos 6 (1-based), 44 chars -> windows at
    # 6..25 fuse into [6, 50); doc 2: starts at 25 -> [25, 69)
    assert (1, 6, 50) in got, got
    assert (2, 25, 69) in got, got
    assert got[(1, 6, 50)] == (44, 20)
    assert all(doc not in (3, 4) for doc, _, _ in got), got


def test_duplicated_spans_adjacent_windows_fuse(spark):
    """Two duplicated windows exactly adjacent (second starts at
    prev_end_excl) must fuse: pos > prev_max_end is the ONLY span
    breaker."""
    from dot_spark.operators.textdedup import duplicated_spans

    a = "0123456789" * 5  # 50 chars: every 25-window duplicated across docs
    df = spark.createDataFrame(
        [(1, a + "padpadpadpad"), (2, "zzz " + a + " qqq")],
        "doc_id INT, text STRING",
    )
    got = [
        (r["doc_id"], r["span_start"], r["span_end_excl"])
        for r in duplicated_spans(df, window=25, min_docs=2).collect()
        if r["doc_id"] == 1
    ]
    assert len(got) == 1, got
    assert got[0][1] == 1 and got[0][2] >= 50, got


def test_containment_detects_subset_doc_asymmetrically(spark):
    """A short doc whose every shingle appears in a long container
    must score containment ~1.0 in the (contained -> container)
    direction while the reverse direction scores low — the asymmetry
    that distinguishes containment from Jaccard."""
    from dot_spark.operators.textdedup import containment_pairs

    core = "alpha beta gamma delta epsilon zeta eta theta"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(30))
    df = spark.createDataFrame(
        [(1, core), (2, core + " " + filler)], "doc_id INT, text STRING"
    )
    rows = {
        (r["contained_id"], r["container_id"]): r["containment"]
        for r in containment_pairs(df, n=3, threshold=0.0).collect()
    }
    # doc 1 has 6 shingles, all shared except the boundary ones that
    # cross into the filler: containment(1 in 2) must be high...
    assert rows[(1, 2)] >= 0.99, rows
    # ...and the reverse low (container has dozens of unshared
    # shingles)
    assert rows[(2, 1)] <= 0.2, rows


def test_containment_threshold_and_direction_consistency(spark, sf_dir):
    """Registry-level law: every emitted row clears the threshold and
    the directed pair's (inter, containment) must be consistent with
    the symmetric intersection — containment = inter / |contained
    doc's shingle set| recomputed from the operator's own inputs."""
    from dot_spark.operators.textdedup import (
        _distinct_shingle_hashes,
        containment_pairs,
    )
    from dot_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    got = containment_pairs(docs, n=3, threshold=0.5, shingle_maxdf=40).collect()
    assert all(r["containment"] >= 0.5 for r in got)
    _, sizes = _distinct_shingle_hashes(docs, "doc_id", "text", 3)
    nsh = {r["doc_id"]: r["n_sh"] for r in sizes.collect()}
    for r in got:
        expect = round(r["inter"] / nsh[r["contained_id"]], 4)
        assert abs(r["containment"] - expect) < 1e-9, r


# --- r11 additions: perplexity prune, hashed classifier, DSIR -------------


def test_hash_unit_matches_duckdb_bit_exact(spark):
    """Cross-engine pin for the portable hash primitive: Spark's
    conv(substr(md5,1,8),16,10) equals DuckDB's
    ('0x'||substr(md5,1,8))::UBIGINT on every probe — the identity
    t25/t26's oracles rely on."""
    import duckdb

    from dot_spark.operators.text import hash_unit

    probes = ["", "a", "hello world", "the the", "Ünïcode ✓", "123", " x "]
    df = spark.createDataFrame([(p,) for p in probes], "s string")
    got = {
        r["s"]: r["h"]
        for r in df.select("s", hash_unit(F.col("s")).alias("h")).collect()
    }
    con = duckdb.connect()
    for p in probes:
        (want,) = con.execute(
            "SELECT ('0x' || substr(md5(?), 1, 8))::UBIGINT", [p]
        ).fetchone()
        assert got[p] == want, (p, got[p], want)


def test_exact_percentile_matches_duckdb_interpolation(spark):
    """Spark exact percentile vs DuckDB quantile_cont: identical
    type-7 linear interpolation, bit-exact on doubles — the identity
    t24's head/middle/tail cuts rely on."""
    import duckdb

    vals = [1.234, 2.5, 3.75, 7.125, 9.001, 4.5, 0.125, 8.875, 6.0, 5.5, 2.25]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    row = df.agg(
        F.percentile("x", 0.33).alias("p33"), F.percentile("x", 0.66).alias("p66")
    ).first()
    con = duckdb.connect()
    want = con.execute(
        "SELECT quantile_cont(x, 0.33), quantile_cont(x, 0.66)"
        " FROM (SELECT UNNEST(?) AS x)",
        [vals],
    ).fetchone()
    assert row["p33"] == want[0] and row["p66"] == want[1]


def test_perplexity_prune_laws(docs):
    from dot_spark.operators.text import perplexity_prune

    out = perplexity_prune(docs).collect()
    n = len(out)
    assert n == docs.count()
    by = {"head": 0, "middle": 0, "tail": 0}
    for r in out:
        by[r["bucket"]] += 1
        assert r["kept"] == (r["bucket"] != "tail")
        assert r["nll"] > 0 and r["n_toks"] > 0
    # exact percentile cuts: head <= 33% + ties, tail >= ~34% - ties;
    # every bucket is populated on a 500-doc corpus
    assert all(v > 0 for v in by.values()), by
    assert by["head"] <= n * 0.45 and by["tail"] >= n * 0.2, by
    # head scores <= middle scores <= tail scores (bucket monotonicity)
    mx = {b: max(r["nll"] for r in out if r["bucket"] == b) for b in by}
    mn = {b: min(r["nll"] for r in out if r["bucket"] == b) for b in by}
    assert mx["head"] <= mn["middle"] and mx["middle"] <= mn["tail"]


def test_hashed_linear_quality_zero_shuffle_and_fold(spark, docs):
    """Score equals an independent Python replay of the same hash
    fold on a sample, and the plan holds zero exchanges (the
    classifier must fuse into the scan)."""
    import hashlib

    from dot_spark.operators.text import hashed_linear_quality

    out = hashed_linear_quality(docs)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    rows = {r["doc_id"]: r for r in out.collect()}
    sample = docs.select("doc_id", "text").limit(20).collect()
    for s in sample:
        from tests.conftest import norm_toks

        toks = norm_toks(s["text"])
        grams = (
            [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
            if len(toks) > 1
            else [" ".join(toks[:2])]
        )
        acc = 0.0
        for g in grams:
            h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
            acc += h / 4294967296.0 * 2 - 1
        want = round(acc / len(grams), 6)
        got = rows[s["doc_id"]]
        assert got["score"] == pytest.approx(want, abs=1e-9)
        assert got["n_grams"] == len(grams)
        assert got["kept"] == (got["score"] > 0.0)


def test_dsir_importance_laws(docs):
    """Target-language docs score higher than non-target on average
    (the whole point of DSIR), accept_p = min(1, exp(log_w)) at 6dp,
    and acceptance is the deterministic u <= accept_p rule."""
    import hashlib
    import math

    from dot_spark.operators.text import dsir_importance

    out = dsir_importance(docs, F.col("lang") == "en").collect()
    langs = {r["doc_id"]: r["lang"] for r in docs.select("doc_id", "lang").collect()}
    en = [r["log_w"] for r in out if langs[r["doc_id"]] == "en"]
    rest = [r["log_w"] for r in out if langs[r["doc_id"]] != "en"]
    assert en and rest
    assert sum(en) / len(en) > sum(rest) / len(rest)
    for r in out:
        assert r["accept_p"] == pytest.approx(
            round(math.exp(min(0.0, r["log_w"])), 6), abs=1e-12
        )
        u = (
            int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
            / 4294967296.0
        )
        assert r["accepted"] == (u <= r["accept_p"])


def test_weighted_topk_sample_laws(spark, docs):
    """Exact k, deterministic across runs, TakeOrderedAndProject
    plan (no global sort), replayable selection: an independent
    Python replay of the Efraimidis-Spirakis keys picks the same
    rows, and zero-weight-adjacent docs (shortest) are
    under-represented vs the longest."""
    import hashlib
    import math

    from dot_spark.operators.sampling import weighted_topk_sample

    w = F.least(F.col("n_chars"), F.lit(2000)) / 2000.0
    out = weighted_topk_sample(docs, "doc_id", w, k=50)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan
    got = [r["doc_id"] for r in out.select("doc_id").collect()]
    assert len(got) == 50 and len(set(got)) == 50
    # independent replay
    rows = docs.select("doc_id", "n_chars").collect()
    keys = []
    for r in rows:
        h = int(hashlib.md5(str(r["doc_id"]).encode()).hexdigest()[:8], 16)
        u = (h + 1.0) / 4294967296.0
        wt = min(r["n_chars"], 2000) / 2000.0
        keys.append((round(math.log(u) / wt, 6), -r["doc_id"], r["doc_id"]))
    keys.sort(reverse=True)
    want = {d for _, _, d in keys[:50]}
    assert set(got) == want
    # run-to-run determinism
    got2 = [r["doc_id"] for r in out.select("doc_id").collect()]
    assert got == got2


def test_corpus_filter_scores_partitioning_invariant(spark, docs):
    """The 3-dp/6-dp rounding discipline must absorb distributed
    summation order: scores and verdicts from a 1-partition run equal
    the 32-partition run exactly (the property the oracle gate's
    engine-parity ultimately rests on)."""
    from dot_spark.operators.text import dsir_importance, perplexity_prune

    for op in (
        lambda d: perplexity_prune(d).select("doc_id", "nll", "bucket"),
        lambda d: dsir_importance(d, F.col("lang") == "en").select(
            "doc_id", "log_w", "accepted"
        ),
    ):
        wide = {tuple(r) for r in op(docs.repartition(32)).collect()}
        narrow = {tuple(r) for r in op(docs.coalesce(1)).collect()}
        assert wide == narrow


def test_perplexity_prune_unmaterialized_plan_pin(spark, docs):
    """The production form's localCheckpoint truncates the visible
    plan to a LogicalRDD stub, so the committed baseline cannot
    watch the scoring subtree. Pin the UNCHECKPOINTED shape here: a
    lost broadcast(freq) or an extra corpus scan grows these counts
    even though the production plan hides them."""
    from dot_spark.operators.text import perplexity_prune
    from tools.plan_baseline import plan_counts

    with unmaterialized():
        twin = perplexity_prune(docs)
    counts = plan_counts(twin)
    assert counts["scans"] <= 6, counts
    assert counts["exchanges"] <= 14, counts
    assert counts["py_eval"] == 0, counts
    # the two 1-row broadcasts (total, cuts) are the only
    # nested-loop sites
    assert counts["nested_loop"] <= 3, counts
    # and the two forms agree row-for-row
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in perplexity_prune(docs).collect()}
    assert a == b


def test_weighted_topk_excludes_nonpositive_weights(spark):
    """Zero/negative weights have zero E-S selection probability and
    must never rank (a zero weight would otherwise produce a NULL
    key; a negative one would outrank every valid row)."""
    from dot_spark.operators.sampling import weighted_topk_sample

    df = spark.createDataFrame(
        [(1, 1.0), (2, 0.0), (3, -2.0), (4, 0.5), (5, 2.0)], "id long, w double"
    )
    got = {r["id"] for r in weighted_topk_sample(df, "id", "w", k=5).collect()}
    assert got == {1, 4, 5}


def test_pmi_collocations_unmaterialized_plan_pin(spark, docs):
    """pmi's production checkpoints hide both count subtrees from
    the committed baseline (visible plan: 0 scans). Pin the
    UNCHECKPOINTED twin so a regression inside the hidden branches —
    shingle_rows losing its zero-shuffle slice-explode, an extra
    corpus scan under the unigram aggregate, a lost broadcast —
    still fails loudly (the t24 pattern)."""
    from dot_spark.operators.text import pmi_collocations
    from tools.plan_baseline import plan_counts

    with unmaterialized():
        twin = pmi_collocations(docs)
    counts = plan_counts(twin)
    assert counts["scans"] <= 5, counts
    assert counts["exchanges"] <= 13, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] <= 2, counts
    # the two forms agree row-for-row
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in pmi_collocations(docs).collect()}
    assert a == b


def test_ngram_jaccard_unmaterialized_plan_pin(spark, docs):
    """dd4b's production checkpoint of the distinct-shingle table
    hides the whole normalize+explode+distinct pipeline from the
    committed baseline (visible plan: 0 scans). Pin the
    UNCHECKPOINTED twin (the t24/t20 pattern): a regression inside
    the hidden subtree — shingle_rows losing its zero-shuffle
    slice-explode, a per-branch re-tokenization, a Python boundary —
    grows these counts and fails loudly."""
    from dot_spark.operators.textdedup import ngram_jaccard_pairs
    from tools.plan_baseline import plan_counts

    with unmaterialized():
        twin = ngram_jaccard_pairs(docs, shingle_maxdf=50)
    counts = plan_counts(twin)
    assert counts["scans"] <= 6, counts
    assert counts["exchanges"] <= 22, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] == 0, counts
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in ngram_jaccard_pairs(docs, shingle_maxdf=50).collect()}
    assert a == b


def test_containment_unmaterialized_plan_pin(spark, docs):
    """dd15 shares dd4b's distinct-shingle checkpoint, which hides
    the normalize+explode+distinct pipeline from the committed
    baseline. Pin the UNCHECKPOINTED twin: a per-branch
    re-tokenization, a lost exchange reuse or a Python boundary in
    the hidden subtree grows these counts and fails loudly."""
    from dot_spark.operators.textdedup import containment_pairs
    from tools.plan_baseline import plan_counts

    kw = dict(n=3, threshold=0.5, shingle_maxdf=40)
    with unmaterialized():
        twin = containment_pairs(docs, **kw)
    counts = plan_counts(twin)
    assert counts["scans"] <= 6, counts
    assert counts["exchanges"] <= 22, counts
    assert counts["py_eval"] == 0, counts
    assert counts["nested_loop"] == 0, counts
    a = {tuple(r) for r in twin.collect()}
    b = {tuple(r) for r in containment_pairs(docs, **kw).collect()}
    assert a == b


def test_fingerprint_preserves_colliding_caller_columns(spark):
    """fingerprint stages temp columns over the caller's full width;
    a caller column named like a staging temp must survive untouched
    (the round-11 ADVICE collision)."""
    from dot_spark.operators.text import fingerprint

    df = spark.createDataFrame(
        [(1, "a b c d e f g h i", "keep-n", "keep-t")],
        "doc_id long, text string, __fp_norm string, __fp_toks string",
    )
    out = fingerprint(df)
    assert set(df.columns) <= set(out.columns)
    row = out.first()
    assert row["__fp_norm"] == "keep-n" and row["__fp_toks"] == "keep-t"
    assert row["fp_full"] is not None and row["fp_rolling"] is not None


def test_derived_bucket_cap_formula(spark):
    """derived_bucket_cap = slack * (k-th largest size) with
    k = max(2, ceil(n/1000)): known distributions give known caps,
    the largest bucket never sets its own cap (k >= 2), and an empty
    sizes table yields None."""
    from dot_spark.operators.textdedup import derived_bucket_cap

    def cap_of(sizes):
        df = spark.createDataFrame([(i, s) for i, s in enumerate(sizes)],
                                   "bkt long, __bs long")
        return derived_bucket_cap(df.select("__bs"))

    # uniform-ish: cap = 8 * second largest
    assert cap_of([5, 7, 6, 7]) == 8 * 7
    # one mode-collapsed outlier: the 1000 does NOT set its own cap
    assert cap_of([1000, 9, 8, 7]) == 8 * 9
    # single bucket: k=2 clamps to the only value -> identity regime
    assert cap_of([42]) == 8 * 42
    empty = spark.createDataFrame([], "__bs long")
    assert derived_bucket_cap(empty) is None


def test_auto_cap_never_fires_on_undegenerate_fixture(spark, sf_dir):
    """The cap-never-fires identity law the gated queries rest on:
    max_bucket='auto' equals max_bucket=None on the embeddings
    fixture (its cell sizes are un-degenerate at every SF — measured
    max 218 vs derived cap 1744 at sf0.1), so dd5b/pl9's r11 gate
    rows remain byte-valid under the derived cap."""
    from dot_spark.operators.textdedup import bucketed_neardup_pairs
    from dot_spark.queries import load_table

    emb = load_table(spark, "embeddings", sf_dir)
    auto = {
        tuple(r)
        for r in bucketed_neardup_pairs(
            emb, "label", threshold=0.2, max_bucket="auto"
        ).collect()
    }
    uncapped = {
        tuple(r)
        for r in bucketed_neardup_pairs(
            emb, "label", threshold=0.2
        ).collect()
    }
    assert auto == uncapped and len(auto) > 0


def test_auto_cap_excludes_mode_collapsed_cell(spark):
    """On a DEGENERATE distribution the derived cap fires: one
    mode-collapsed cell (40 identical vectors) against a population
    of small cells contributes NO pairs, while the small cells still
    pair normally — and the conservative failure mode holds (the hot
    cell's members simply produce no candidates; nothing else
    changes)."""
    from dot_spark.operators.textdedup import bucketed_neardup_pairs

    rows = [(i, 0, [1.0, 0.0]) for i in range(40)]          # hot cell
    rows += [(100 + i, 1 + i // 2, [0.0, 1.0]) for i in range(8)]  # 4 cells of 2
    emb = spark.createDataFrame(
        rows, "vec_id long, label long, embedding array<double>"
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in bucketed_neardup_pairs(
            emb, "label", threshold=0.9, max_bucket="auto"
        ).collect()
    }
    # derived cap = 8 * s_2 = 8 * 2 = 16 < 40 -> hot cell excluded
    assert got == {(100 + 2 * j, 101 + 2 * j) for j in range(4)}


def test_kneser_ney_matches_python_replay(spark, sf_dir):
    """t27's interpolated-KN probabilities against an independent
    pure-Python replay (shared tokenizer contract via norm_toks, no
    engine code): per-doc n_pairs and 3-dp mean negative log-prob
    must match exactly, and the scores are partitioning-invariant."""
    import math
    from collections import Counter, defaultdict

    from dot_spark.queries import load_table, t27_kneser_ney_score
    from tests.conftest import norm_toks

    docs = load_table(spark, "documents", sf_dir)
    rows = docs.select("doc_id", "text").collect()
    bc: Counter = Counter()
    doc_pairs: dict[int, list] = {}
    for r in rows:
        t = norm_toks(r["text"])
        ps = list(zip(t, t[1:]))
        if ps:
            doc_pairs[r["doc_id"]] = ps
            bc.update(ps)
    c1dot: Counter = Counter()
    n1p_w1: Counter = Counter()
    n1p_w2: Counter = Counter()
    for (w1, w2), c in bc.items():
        c1dot[w1] += c
        n1p_w1[w1] += 1
        n1p_w2[w2] += 1
    n_types = len(bc)
    expect = {}
    for d, ps in doc_pairs.items():
        logp = sum(
            math.log(
                max(bc[p] - 0.75, 0) / c1dot[p[0]]
                + (0.75 * n1p_w1[p[0]] / c1dot[p[0]])
                * (n1p_w2[p[1]] / float(n_types))
            )
            for p in ps
        )
        expect[d] = (len(ps), round(-logp / len(ps), 3))
    got = {
        r["doc_id"]: (r["n_pairs"], r["avg_neg_logp"])
        for r in t27_kneser_ney_score(spark, sf_dir).collect()
    }
    assert got == expect
    # partitioning invariance (the oracle-parity property)
    one = {
        r["doc_id"]: (r["n_pairs"], r["avg_neg_logp"])
        for r in t27_kneser_ney_score(spark, sf_dir).coalesce(1).collect()
    }
    assert one == got


def test_gopher_rules_constructed_fixture(spark):
    """Rule-by-rule behavior of t28 on constructed documents: a
    clean doc passes every Gopher rule; each crafted failure doc
    trips exactly the intended rule (word count, stopword presence,
    bullet lines, ellipsis lines, symbol ratio, mean word length)."""
    from dot_spark.queries import t28_gopher_rules

    base = ("the cat and the dog have been walking to market with "
            "friends that carry baskets of bread ") * 3  # 51 words, stopwords
    docs = [
        (1, base.strip()),                                   # passes
        (2, "short text with the and that"),                 # < 50 words
        (3, ("zorp blarg kwyjibo flumox " * 13).strip()),    # no stopwords
        (4, "\n".join(["- " + base.strip()] * 10)),          # 100% bullets
        (5, "\n".join([base.strip() + "..."] * 10)),         # 100% ellipsis
        (6, base.strip() + " " + "#" * 40),                  # symbol ratio
        (7, ("a " * 60).strip() + " the of"),                # mean len < 3
    ]
    import os
    import tempfile

    d = tempfile.mkdtemp(prefix="gopher_fixture_")
    spark.createDataFrame(docs, "doc_id long, text string").withColumn(
        "lang", F.lit("en")
    ).withColumn("n_chars", F.length("text")).write.mode(
        "overwrite"
    ).parquet(os.path.join(d, "documents.parquet"))
    out = {r["doc_id"]: r for r in t28_gopher_rules(spark, d).collect()}
    assert out[1]["kept"] is True
    assert out[1]["n_stop_hits"] >= 2 and out[1]["n_words"] >= 50
    assert out[2]["kept"] is False and out[2]["n_words"] < 50
    assert out[3]["kept"] is False and out[3]["n_stop_hits"] < 2
    assert out[4]["kept"] is False and out[4]["bullet_frac"] > 0.9
    assert out[5]["kept"] is False and out[5]["ellipsis_frac"] > 0.3
    assert out[6]["kept"] is False and out[6]["symbol_ratio"] > 0.1
    assert out[7]["kept"] is False and out[7]["mean_word_len"] < 3


def test_soft_dedup_mass_conservation_and_dd8_consistency(spark, sf_dir):
    """dd18 laws: (a) every cluster's keep_weights sum to exactly 1
    (each near-dup cluster contributes one document of sampling
    mass); (b) cluster assignments agree with dd8's hard clustering
    for every doc dd8 clusters, and every OTHER doc is a weight-1
    singleton clustering as itself."""
    from dot_spark.queries import dd18_soft_dedup, dd8_dedup_clusters

    soft = dd18_soft_dedup(spark, sf_dir).collect()
    mass: dict = {}
    for r in soft:
        mass[r["cluster_id"]] = mass.get(r["cluster_id"], 0.0) + r["keep_weight"]
        assert r["keep_weight"] == round(1.0 / r["cluster_size"], 6)
    for cid, m in mass.items():
        assert abs(m - 1.0) < 1e-4, (cid, m)

    hard = {
        r["doc_id"]: r["cluster_id"]
        for r in dd8_dedup_clusters(spark, sf_dir).collect()
    }
    soft_by_doc = {r["doc_id"]: r for r in soft}
    for d, cid in hard.items():
        assert soft_by_doc[d]["cluster_id"] == cid
    for d, r in soft_by_doc.items():
        if d not in hard:
            assert r["cluster_id"] == d and r["cluster_size"] == 1


def test_soft_dedup_sizes_equal_window_formulation(spark, sf_dir):
    """LAW (r14 ADVICE): soft_dedup_weights' join-based cluster_size
    rests on two implicit invariants of connected_components output —
    one self-labeled row per clustered member (centers included), and
    singleton doc ids never appearing as labels. Recompute the sizes
    with the RETIRED formulation (count(*) over partitionBy(cluster_id)
    across the labeled corpus rows) and assert per-doc equality on the
    fixture corpus, so a future cc change that breaks either invariant
    fails loudly here instead of silently skewing keep_weights."""
    from pyspark.sql import Window

    from dot_spark.operators.textdedup import soft_dedup_weights
    from dot_spark.queries import load_table

    docs = load_table(spark, "documents", sf_dir)
    soft = soft_dedup_weights(docs)
    w = Window.partitionBy("cluster_id")
    rows = (
        soft.select(
            "doc_id",
            "cluster_size",
            F.count(F.lit(1)).over(w).alias("window_size"),
        )
    ).collect()
    assert rows
    bad = [
        (r["doc_id"], r["cluster_size"], r["window_size"])
        for r in rows
        if r["cluster_size"] != r["window_size"]
    ]
    assert not bad, f"join-based sizes diverge from the window count: {bad[:5]}"


def test_multiprobe_recall_monotone_and_saturates(spark, sf_dir):
    """ss11 laws: recall@10 is weakly MONOTONE in nprobe for every
    query (probing more cells can only add candidates, and the top-k
    over a superset can only match the brute truth at least as
    well... for a FIXED truth set, overlap of the candidate top-k is
    monotone because candidates nest), and probing every cell equals
    brute force exactly (recall 1.0 for all queries)."""
    from dot_spark.queries import load_table, ss11_multiprobe_recall
    from dot_spark.operators.similarity import brute_force_topk, ivf_topk

    rows = ss11_multiprobe_recall(spark, sf_dir).collect()
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], {})[r["nprobe"]] = r["recall_at_10"]
    assert by_q
    for q, curve in by_q.items():
        assert set(curve) == {1, 2, 3}
        assert curve[1] <= curve[2] <= curve[3], (q, curve)

    # full-probe saturation: candidates from ALL cells == brute force
    emb = load_table(spark, "embeddings", sf_dir)
    n_cells = emb.select("label").distinct().count()
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    # every (query, cell) pair probed -> ivf over the full corpus
    q_all = q.crossJoin(emb.select("label").distinct())
    full = {
        (r["query_id"], r["vec_id"])
        for r in ivf_topk(q_all, emb, "label", k=10).collect()
    }
    brute = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(q, emb, k=10).collect()
    }
    assert full == brute, n_cells


def test_suffix_array_spans_match_constructed_corpus(spark):
    """suffix_array_spans (the exact suffix-sort formulation)
    reproduces the dd14 semantics on the constructed corpus: shared
    regions fuse to maximal spans, within-doc-only repeats are
    excluded by the cross-doc rule, unrelated docs report nothing."""
    from dot_spark.operators.textdedup import suffix_array_spans

    shared = "the quick brown fox jumps over the lazy dog!"  # 44 chars
    rows = [
        (1, "AAAA;" + shared + ";unique tail one here"),
        (2, "something else leads in:" + shared + ":zz"),
        (3, "x" * 30 + "y" * 30 + "x" * 30),
        (4, "completely different text with no repeats at all ok"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {
        (r["doc_id"], r["span_start"], r["span_end_excl"]): (
            r["span_len"],
            r["n_windows"],
        )
        for r in suffix_array_spans(df, window=25, min_docs=2).collect()
    }
    assert (1, 6, 50) in got, got
    assert (2, 25, 69) in got, got
    assert got[(1, 6, 50)] == (44, 20)
    assert all(doc not in (3, 4) for doc, _, _ in got), got


def test_suffix_array_spans_equal_fingerprint_spans_law(spark, sf_dir):
    """LAW (r12 verdict task 7): the exact suffix-array pass (dd19)
    and the fingerprint-index pass (dd14) must produce IDENTICAL
    span sets on the fixture corpus — the fingerprint path is a
    lossy-in-principle (64-bit collision) re-expression of the same
    ground truth, so any divergence here is a bug in one of them,
    not an acceptable approximation gap."""
    from dot_spark.operators.textdedup import (
        duplicated_spans,
        suffix_array_spans,
    )
    from dot_spark.sources.registry import load_table

    docs = load_table(spark, "documents", sf_dir)
    key = ["doc_id", "span_start", "span_end_excl", "span_len", "n_windows"]
    exact = {tuple(r[c] for c in key)
             for r in suffix_array_spans(docs, window=25, min_docs=2).collect()}
    fp = {tuple(r[c] for c in key)
          for r in duplicated_spans(docs, window=25, min_docs=2).collect()}
    assert exact == fp, (
        f"suffix-array vs fingerprint span divergence: "
        f"only_exact={sorted(exact - fp)[:5]} only_fp={sorted(fp - exact)[:5]}"
    )
    assert exact, "law test vacuous: fixture produced no spans"


def test_self_repetition_spans_constructed_corpus(spark):
    """self_repetition_spans (dd20) flags WITHIN-document repeats
    only: a doc repeating a 20-char phrase reports the merged span
    over both occurrences' windows, a doc whose phrase appears once
    reports nothing even when ANOTHER doc shares it (cross-doc is
    dd14/dd19's job), and adjacent repeated windows fuse into one
    maximal span."""
    from dot_spark.operators.textdedup import self_repetition_spans

    phrase = "repeat me twenty char"  # 21 chars >= window 12
    rows = [
        # doc 1: phrase at pos 11 and pos 41 (0-based 10/40)
        (1, "x" * 10 + phrase + "y" * 9 + phrase + "z" * 6),
        # doc 2: same phrase ONCE — cross-doc only, must not report
        # (tail is 20 DISTINCT chars: a char run >= 12 would itself
        # be a legitimate self-repeat)
        (2, "a" * 10 + phrase + "0123456789!@#$%^&*()"),
        # doc 3: no 12-char repeats at all
        (3, "cdefghijklmnopqrstuvwxyz0123456789"),
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    got = {
        (r["doc_id"], r["span_start"], r["span_end_excl"]): (
            r["span_len"],
            r["n_windows"],
        )
        for r in self_repetition_spans(df, window=12, min_repeats=2).collect()
    }
    # doc 1's two phrase copies: windows at 1-based starts 11..20 and
    # 41..50 (10 windows each); the x-run (10 chars) is too short to
    # self-repeat at window 12, the gap "y"*9 keeps the spans apart
    assert set(got) == {(1, 11, 32), (1, 41, 62)}, got
    assert got[(1, 11, 32)] == (21, 10), got
    assert got[(1, 41, 62)] == (21, 10), got
    """The r14 fan-out fix (r13 verdict Missing #3): sampled range
    boundaries must spread a corpus whose docs ALL start with the
    same token across many sort buckets — the leading-code-point
    scheme this replaced collapses the first-position suffixes of
    such a corpus into one bucket and tops out ~30-way on natural
    English. Also re-pins correctness on the skew fixture: spans from
    the bucketed sort must match the shared-region construction."""
    import string

    from dot_spark.operators.textdedup import (
        _range_bucket,
        _sampled_suffix_bounds,
        _sfx_prefix_key,
        suffix_array_spans,
    )

    shared = "this exact sentence appears in both documents verbatim"
    letters = string.ascii_lowercase
    rows = [
        (
            i,
            "SAMETOKEN "
            + " ".join(
                f"{letters[(i * 7 + j) % 26] * 3}{i:03d}"
                f"{letters[(i + 5 * j) % 26] * 3}"
                for j in range(12)
            )
            + (" " + shared if i % 4 == 0 else f" doc{i:05d} end"),
        )
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id INT, text STRING")
    bounds = _sampled_suffix_bounds(df, "text", 25, n_buckets=64)
    sfx = df.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(text) - 24),"
                " i -> substring(text, i, 25))"
            )
        ).alias("sfx")
    )
    dist = (
        sfx.select(_range_bucket(_sfx_prefix_key("sfx"), bounds).alias("b"))
        .groupBy("b")
        .count()
        .collect()
    )
    assert len(dist) >= 16, f"only {len(dist)} buckets on the skew fixture"
    spans = suffix_array_spans(df, window=25, min_docs=2).collect()
    sharers = {r["doc_id"] for r in spans}
    assert sharers == {i for i in range(120) if i % 4 == 0}, sorted(sharers)[:8]
    # every sharer's span covers the shared sentence end-of-doc region
    for r in spans:
        assert r["span_len"] >= len(shared), r
