"""Keep-latest dedup rules (reference W1, okta-sync/main.py:628-671).

Rule-per-test style mirroring the reference's classifier suite
(dbt-classify/main_test.py)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from dot_spark.operators.dedup import dedupe_keep_latest, superseded_latest
from dot_spark.plans import physical_plan

T0 = dt.datetime(2024, 1, 1)
T1 = dt.datetime(2024, 1, 2)
T2 = dt.datetime(2024, 1, 3)


def make(spark, rows):
    return spark.createDataFrame(rows, "id string, grp string, ts timestamp, v long")


def test_latest_wins(spark):
    df = make(spark, [("a", "g", T0, 1), ("a", "g", T2, 2), ("a", "g", T1, 3)])
    out = dedupe_keep_latest(df, ["id"], ["ts"]).collect()
    assert len(out) == 1 and out[0].v == 2


def test_composite_key(spark):
    df = make(spark, [("a", "g1", T0, 1), ("a", "g2", T1, 2), ("a", "g1", T2, 3)])
    out = {(r.id, r.grp): r.v for r in dedupe_keep_latest(df, ["id", "grp"], ["ts"]).collect()}
    assert out == {("a", "g1"): 3, ("a", "g2"): 2}


def test_tiebreaker_deterministic(spark):
    df = make(spark, [("a", "g", T0, 1), ("a", "g", T0, 2)])
    out = dedupe_keep_latest(df, ["id"], ["ts"], tiebreaker="v").collect()
    assert len(out) == 1 and out[0].v == 1  # tiebreaker ASC


def test_idempotent(spark):
    df = make(spark, [("a", "g", T0, 1), ("a", "g", T1, 2), ("b", "g", T0, 3)])
    once = dedupe_keep_latest(df, ["id"], ["ts"])
    twice = dedupe_keep_latest(once, ["id"], ["ts"])
    assert sorted(map(str, once.collect())) == sorted(map(str, twice.collect()))


def test_no_duplicates_passthrough(spark):
    df = make(spark, [("a", "g", T0, 1), ("b", "g", T1, 2)])
    assert dedupe_keep_latest(df, ["id"], ["ts"]).count() == 2


def test_superseded_latest(spark):
    df = make(spark, [("job1", "g", T0, 1), ("job1", "g", T2, 2), ("job2", "g", T1, 3)])
    out = {r.id: r.v for r in superseded_latest(df, "id", "ts").collect()}
    assert out == {"job1": 2, "job2": 3}


def test_null_ts_loses(spark):
    df = make(spark, [("a", "g", None, 1), ("a", "g", T0, 2)])
    out = dedupe_keep_latest(df, ["id"], ["ts"]).collect()
    assert out[0].v == 2  # desc_nulls_last default in Spark desc()


def test_plan_is_single_shuffle(spark):
    # One window = one Exchange on the dedup keys; a second dedup on the
    # same keys must not add a second shuffle of the big side.
    df = make(spark, [("a", "g", T0, 1)])
    plan = physical_plan(dedupe_keep_latest(df, ["id"], ["ts"]))
    assert plan.count("Exchange") <= 1


def test_connected_components_clusters_and_chain(spark):
    """Star + chain + isolated pair: labels converge to the min node
    id per component; the 5-hop chain forces multiple propagation
    iterations; is-canonical semantics follow from node == label."""
    from dot_spark.operators.textdedup import connected_components

    pairs = spark.createDataFrame(
        # star 10-{11,12,13}; chain 1-2-3-4-5-6; pair 20-21
        [(10, 11), (10, 12), (10, 13),
         (1, 2), (2, 3), (3, 4), (4, 5), (5, 6),
         (20, 21)],
        "id_a BIGINT, id_b BIGINT",
    )
    got = {r.node: r.label for r in connected_components(pairs).collect()}
    assert got == {
        10: 10, 11: 10, 12: 10, 13: 10,
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 6: 1,
        20: 20, 21: 20,
    }


def test_connected_components_empty_and_limit(spark):
    """Empty pair set yields an empty labeling (no crash); an
    insufficient iteration cap raises instead of returning a
    half-converged labeling."""
    import pytest

    from dot_spark.operators.textdedup import connected_components

    empty = spark.createDataFrame([], "id_a BIGINT, id_b BIGINT")
    assert connected_components(empty).count() == 0

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a BIGINT, id_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(chain, max_iterations=2)


def test_connected_components_string_ids(spark):
    """Real dedup pipelines key docs by string hashes/URLs: the
    labeling (and its convergence probe) must work for non-numeric
    ids, with cluster_id = lexicographic min of the component."""
    from dot_spark.operators.textdedup import connected_components

    pairs = spark.createDataFrame(
        [("urlB", "urlA"), ("urlB", "urlC"), ("x", "y")],
        "id_a STRING, id_b STRING",
    )
    got = {r.node: r.label for r in connected_components(pairs).collect()}
    assert got == {
        "urlA": "urlA", "urlB": "urlA", "urlC": "urlA", "x": "x", "y": "x",
    }


def test_connected_components_long_chain_logarithmic(spark):
    """A 60-hop chain must converge well inside the default cap —
    the pointer-jumping shortcut makes rounds O(log diameter), not
    O(diameter). (Naive propagation would need 60 rounds and trip
    the 25-round cap; the sf0.1 LSH pair graph produced exactly such
    chains.)"""
    from dot_spark.operators.textdedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 61)], "id_a BIGINT, id_b BIGINT"
    )
    got = {r.node: r.label for r in connected_components(chain, max_iterations=12).collect()}
    assert got == {i: 1 for i in range(1, 62)}


def test_chunk_dedup_strips_cross_doc_passages(spark):
    """Chunk-level dedup: a passage repeated across docs survives
    only at its first (doc_id, chunk_idx) occurrence; intra-doc
    repeats collapse too; unique chunks all survive; a doc made
    entirely of repeats reassembles to ''."""
    from dot_spark.operators.textdedup import chunk_dedup

    boiler = " ".join(f"b{i}" for i in range(4))  # one 4-token chunk
    fresh1 = " ".join(f"x{i}" for i in range(4))
    fresh2 = " ".join(f"y{i}" for i in range(4))
    docs = spark.createDataFrame(
        [
            (1, boiler + " " + fresh1),          # keeps both chunks
            (2, boiler + " " + fresh2),          # boilerplate stripped
            (3, boiler),                         # all-repeat -> ''
            (4, fresh2 + " " + fresh2),          # intra-corpus repeat of doc2's chunk
        ],
        "doc_id INT, text STRING",
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_kept, r.dedup_text)
        for r in chunk_dedup(docs, chunk_size=4).collect()
    }
    assert got[1] == (2, 2, boiler + " " + fresh1)
    assert got[2] == (2, 1, fresh2)
    assert got[3] == (1, 0, "")
    assert got[4] == (2, 0, "")  # fresh2 already kept by doc 2


def test_verified_pairs_agree_with_exact_jaccard(spark):
    """verified_neardup_pairs must be a SUBSET of the all-pairs exact
    jaccard result (verification can only remove LSH proposals, never
    invent pairs or change scores), and exact duplicates — guaranteed
    LSH candidates via identical signatures — must come out verified
    at jaccard 1.0."""
    from dot_spark.operators.textdedup import (
        ngram_jaccard_pairs,
        verified_neardup_pairs,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base),                      # exact dup of 1
            (3, base + " extra tail here"), # near dup of 1/2
            (4, "totally different words about other things entirely"),
        ],
        "doc_id INT, text STRING",
    )
    got = {
        (r.id_a, r.id_b): (r.inter, r.jaccard)
        for r in verified_neardup_pairs(docs, threshold=0.5).collect()
    }
    exact = {
        (r.id_a, r.id_b): (r.inter, r.jaccard)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert set(got) <= set(exact)
    for pair, scores in got.items():
        assert scores == exact[pair], pair
    assert got[(1, 2)][1] == 1.0


def test_cdc_chunks_realign_after_insertion(spark):
    """The content-defined property dd16 exists for: after a
    single-token PREPEND, chunk boundaries re-synchronize at the
    first content-defined cut, so every chunk after it is
    hash-identical to the original's — fixed-size chunking (dd9)
    would shift every chunk. Verified on the raw chunk streams of
    the two variants (doc vs token-prepended doc)."""
    import random

    from dot_spark.operators.textdedup import cdc_chunks

    rng = random.Random(7)
    words = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()
    body = " ".join(rng.choice(words) for _ in range(400))
    docs = spark.createDataFrame(
        [(1, body), (2, "inserted " + body)], "doc_id INT, text STRING"
    )

    out = {
        r.doc_id: r
        for r in cdc_chunks(docs, window=4, divisor=8).collect()
    }
    # doc 2 shares every post-resync chunk with doc 1: its duplicate
    # token fraction must be large (>= half the doc), while doc 1 (the
    # first occurrence at a lower doc_id) owns the shared chunks.
    assert out[2].n_dup_chunks > 0
    assert out[2].dup_token_ratio >= 0.5, out[2]
    # chunk token accounting: the chunks partition the doc, so the
    # summed chunk lengths (the operator's n_toks output) must equal
    # each doc's token count exactly — an off-by-one in the slice
    # arithmetic would break this
    toks1 = len(body.split())
    assert out[1].n_toks == toks1 and out[2].n_toks == toks1 + 1


def test_cdc_chunks_exact_dup_fully_flagged(spark):
    """An exact duplicate document is 100% duplicate chunks (same
    boundaries, same hashes); a unique doc is 0%."""
    from dot_spark.operators.textdedup import cdc_chunks

    # body cycles with period 13 (> window+divisor) but doc 12's
    # tokens are position-unique — intra-doc chunk repeats are REAL
    # duplicates dd16 must flag (periodic boilerplate), so the
    # zero-dup control needs genuinely unrepeated content
    body = " ".join(f"w{i}" for i in range(120))
    other = " ".join(f"q{i}" for i in range(90))
    docs = spark.createDataFrame(
        [(10, body), (11, body), (12, other)], "doc_id INT, text STRING"
    )
    out = {r.doc_id: r for r in cdc_chunks(docs).collect()}
    assert out[10].dup_chunk_ratio == 0.0  # first occurrence wins
    assert out[11].dup_chunk_ratio == 1.0
    assert out[11].dup_token_ratio == 1.0
    assert out[12].dup_chunk_ratio == 0.0


def test_cc_star_equals_label_propagation_reference(spark, sf_dir):
    """LAW (r13 closure rewrite): the production star-contraction
    closure and the retained r8-r12 min-label-propagation reference
    (_cc_label_propagation — zero shared per-round code) must return
    IDENTICAL (node, label) sets on the fixture corpus pair graph
    and on adversarial synthetic graphs (deep chain, random sparse /
    dense, string ids). Any divergence is a bug in one of them."""
    import random

    from dot_spark.operators.textdedup import (
        _cc_label_propagation,
        connected_components,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from dot_spark.sources.registry import load_table

    def both(pairs):
        new = {(r["node"], r["label"])
               for r in connected_components(pairs).collect()}
        old = {(r["node"], r["label"])
               for r in _cc_label_propagation(pairs, max_iterations=64).collect()}
        return new, old

    docs = load_table(spark, "documents", sf_dir)
    sig = minhash_signatures(docs, num_hashes=16, shingle_n=3)
    fixture_pairs = lsh_candidate_pairs(
        lsh_bands(sig, bands=4, rows_per_band=4)
    ).localCheckpoint()
    cases = {"fixture": fixture_pairs}
    cases["chain60"] = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    for n, m, seed in ((300, 200, 1), (300, 450, 2)):
        rnd = random.Random(seed)
        es = [(rnd.randrange(n), rnd.randrange(n)) for _ in range(m)]
        cases[f"rand{seed}"] = spark.createDataFrame(
            [(a, b) for a, b in es if a != b], "id_a long, id_b long"
        )
    cases["strings"] = spark.createDataFrame(
        [("d1", "d2"), ("d2", "d3"), ("d9", "d3"), ("d4", "d5")],
        "id_a string, id_b string",
    )
    for name, pairs in cases.items():
        new, old = both(pairs)
        assert new == old, (
            f"{name}: star vs propagation divergence "
            f"new-old={sorted(new - old)[:5]} old-new={sorted(old - new)[:5]}"
        )
        assert new or name != "fixture", "fixture law vacuous"
        # the final labeling's filter(a > b) assumes the star
        # fixpoint is a star FOREST (one center per leaf). The
        # production large-star half deviates from the published
        # Kiveris formulation (it keeps b <= a edges instead of
        # emitting (a, m) — see _cc_star_round), so a non-star
        # fixpoint must fail LOUDLY here rather than silently fan
        # out downstream joins: every node gets exactly one label.
        from collections import Counter
        multi = {n for n, c in Counter(n for n, _ in new).items() if c > 1}
        assert not multi, f"{name}: nodes with multiple labels: {sorted(multi)[:5]}"


def test_cc_star_round_count_logarithmic(spark):
    """The r13 rewrite's reason made checkable: star-contraction
    round counts stay small and near-flat as chain diameter grows
    10x (O(log d) by the Kiveris proof) — the propagation reference
    measurably cannot do this (13 -> 22 rounds across K=1 -> 10
    corpora, NOTES_r13), which is what was ratcheting toward the
    iteration cap."""
    from dot_spark.operators.textdedup import connected_components

    rounds_at = {}
    for n in (30, 300):
        st: dict = {}
        chain = spark.createDataFrame(
            [(i, i + 1) for i in range(n)], "id_a long, id_b long"
        )
        labels = connected_components(chain, stats=st)
        assert {r["label"] for r in labels.collect()} == {0}
        rounds_at[n] = st["rounds"]
    assert rounds_at[300] <= rounds_at[30] + 4, rounds_at
    assert rounds_at[300] <= 12, rounds_at


def test_spread_small_input_by_input_files(spark, sf_dir, monkeypatch):
    """spread_small_input classifies a plan by its inputFiles() count
    alone. A parquet scan spreads only below defaultParallelism files;
    plans with no file leaves (pandas and list createDataFrame,
    `select 1`) report no input files and spread; an inputFiles() that
    raises propagates instead of picking a fallback."""
    import pandas as pd

    from dot_spark.operators.textdedup import spread_small_input

    target = spark.sparkContext.defaultParallelism
    scan = spark.read.parquet(f"{sf_dir}/region.parquet")
    n_files = len(scan.inputFiles())
    assert n_files >= 1
    assert (spread_small_input(scan) is not scan) == (n_files < target)

    for df in (
        spark.createDataFrame(pd.DataFrame({"a": [1, 2]})),
        spark.sql("select 1 as a"),
        spark.createDataFrame([(1,), (2,)], "a int"),
    ):
        assert df.inputFiles() == []
        assert spread_small_input(df) is not df

    def no_files(self):
        raise RuntimeError("not file-backed")

    monkeypatch.setattr(type(scan), "inputFiles", no_files)
    with pytest.raises(RuntimeError, match="not file-backed"):
        spread_small_input(scan)
