"""Text-analysis operators for training-data pipelines.

Beyond-reference surface (the reference delegates all analytics to
BigQuery): language-ID, quality scoring, token counting, and document
fingerprinting over a `documents(doc_id, text, lang, source, n_chars)`
table. These are the per-document scoring passes a 100 TB pretraining
corpus pipeline runs before dedup/filtering.

Scale design: every operator here is a pure column expression —
narrow (zero-shuffle), whole-stage-codegen'd, linear in input size.
On a 1000-executor cluster each task scores its own parquet split;
nothing is collected, nothing is aggregated across partitions.
Hashes are md5 (not xxhash64) so results are portable across engines
(the DuckDB oracle) and stable across Spark versions.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A deliberately small, order-stable stopword set per language. The
# synthetic corpus shares one vocabulary across langs, so these score
# *structure* (stopword density), not real language identity — the
# operator shape (profile scoring + argmax) is what matters.
LANG_PROFILES: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in"),
    "es": ("el", "la", "de", "que", "y", "en"),
    "de": ("der", "die", "das", "und", "ist", "ein"),
    "fr": ("le", "la", "de", "et", "les", "des"),
}

STOPWORDS: tuple[str, ...] = ("the", "a", "of", "and", "to", "in", "is", "it")

# BPE-ish pre-tokenizer: letter runs, digit runs, or single
# non-alphanumeric marks — the usual GPT-2-style pretokenize shape.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


def tokens(text_col: str | Column) -> Column:
    """Whitespace tokenization as a column expression."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(col, " ")


def token_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Token counting: whitespace tokens, BPE-ish regex tokens, and
    average token length, all JVM-side.

    avg_token_len uses the identity len(text) = sum(len(tok)) +
    (n_tokens - 1) for single-space-joined text, avoiding a second
    pass over the token array.
    """
    toks = tokens(text_col)
    n_ws = F.size(toks)
    n_bpe = F.regexp_count(F.col(text_col), F.lit(BPE_PATTERN))
    avg_len = F.round((F.length(text_col) - n_ws + 1) / n_ws, 4)
    return df.withColumns(
        {
            "n_tokens_ws": n_ws,
            "n_tokens_bpe": n_bpe,
            "avg_token_len": avg_len,
        }
    )


def quality_score(
    df: DataFrame,
    text_col: str = "text",
    stopwords: Sequence[str] = STOPWORDS,
) -> DataFrame:
    """Heuristic document quality scoring (Gopher/C4-style filters):
    stopword ratio, punctuation ratio, digit ratio, mean word length,
    plus a composite 0-1 score. One narrow projection; at 100 TB this
    is a map-only pass fused into the scan by codegen.
    """
    toks = tokens(text_col)
    n_toks = F.size(toks)
    sw = F.array([F.lit(s) for s in stopwords])
    n_stop = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    n_punct = F.length(F.regexp_replace(F.col(text_col), "[A-Za-z0-9 ]", ""))
    n_digit = F.length(F.regexp_replace(F.col(text_col), "[^0-9]", ""))
    stop_ratio = F.round(n_stop / n_toks, 4)
    punct_ratio = F.round(n_punct / F.length(text_col), 4)
    digit_ratio = F.round(n_digit / F.length(text_col), 4)
    avg_word = F.round((F.length(text_col) - n_toks + 1) / n_toks, 4)
    # Composite: reward stopword presence and sane word lengths,
    # penalize punctuation/digit noise and ultra-short docs.
    score = (
        F.lit(1.0)
        - F.least(F.lit(0.4), punct_ratio * 2)
        - F.least(F.lit(0.3), digit_ratio * 2)
        - F.when(n_toks < 5, F.lit(0.3)).otherwise(F.lit(0.0))
        - F.when((avg_word < 2) | (avg_word > 12), F.lit(0.2)).otherwise(F.lit(0.0))
    )
    return df.withColumns(
        {
            "stopword_ratio": stop_ratio,
            "punct_ratio": punct_ratio,
            "digit_ratio": digit_ratio,
            "avg_word_len": avg_word,
            "quality": F.round(F.greatest(F.lit(0.0), score), 4),
        }
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    profiles: Mapping[str, Sequence[str]] = LANG_PROFILES,
) -> DataFrame:
    """N-gram/stopword-profile language ID: count profile hits per
    language, predict the argmax (ties broken by profile declaration
    order, NULL prediction when nothing hits).

    The per-language hit counters are independent column expressions
    over one shared token array — Catalyst computes the split once.
    """
    toks = tokens(text_col)

    def profile_hits(words: Sequence[str]) -> Column:
        arr = F.array([F.lit(w) for w in words])
        return F.size(F.filter(toks, lambda t: F.array_contains(arr, t)))

    out = df.withColumns({f"hits_{lang}": profile_hits(w) for lang, w in profiles.items()})

    langs = list(profiles)
    best = F.greatest(*[F.col(f"hits_{lang}") for lang in langs])
    pred = F.lit(None).cast("string")
    # CASE chain in declaration order => deterministic argmax.
    expr = None
    for lang in langs:
        cond = F.col(f"hits_{lang}") == best
        expr = F.when(cond, F.lit(lang)) if expr is None else expr.when(cond, F.lit(lang))
    pred = F.when(best > 0, expr).otherwise(F.lit(None).cast("string"))
    return out.withColumn("lang_pred", pred)


def fingerprint(
    df: DataFrame,
    text_col: str = "text",
    window: int = 8,
) -> DataFrame:
    """Document fingerprinting: a whole-document hash over normalized
    text plus a winnowing-style rolling fingerprint (minimum hash over
    all `window`-token shingles — robust to local edits).

    Rolling min is expressed as array_min over a transform of shingle
    windows: still a narrow per-row expression, no shuffle, no UDF.

    STAGED projections (repetition_ratio's discipline): the token
    array materializes BEFORE the shingle transform — an unstaged
    `toks` puts the whole split inside the per-shingle lambda, which
    the interpreted HOF path re-evaluates once per ELEMENT, turning
    the pass O(len²) per document (measured ~5x at sf0.1, and
    unboundedly worse on long documents at scale).
    """
    # collision-proof staging names: the operator keeps the caller's
    # full width, so a fixed "__norm"/"__toks" would silently
    # overwrite-and-drop a caller column with that name — extend the
    # prefix until both names are free (deterministic, never raises)
    base = "__fp"
    while f"{base}_norm" in df.columns or f"{base}_toks" in df.columns:
        base += "_"
    norm_c, toks_c = f"{base}_norm", f"{base}_toks"
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), " +", " "))
    # two stages, not one: deriving the token array from the STAGED
    # normalized column evaluates the lower/regexp/trim chain once
    # per row (inlining `norm` into both columns would run it twice)
    staged = df.withColumn(norm_c, norm).withColumn(
        toks_c, F.split(F.col(norm_c), " ")
    )
    idx = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.size(toks_c) - (window - 1))
    )
    shingle_hashes = F.transform(
        idx,
        lambda i: F.md5(F.array_join(F.slice(F.col(toks_c), i, window), " ")),
    )
    return staged.withColumns(
        {
            "fp_full": F.md5(F.col(norm_c)),
            "fp_rolling": F.array_min(shingle_hashes),
        }
    ).drop(norm_c, toks_c)


def repetition_ratio(
    df: DataFrame, text_col: str = "text", ns: Sequence[int] = (2, 3)
) -> DataFrame:
    """Repetition quality signal (MassiveText-style): for each n in
    `ns`, the fraction of n-gram occurrences that are repeats of an
    n-gram already seen in the document — 1 - distinct/total. High
    ratios flag boilerplate/looping generations that dedup won't
    catch (the doc is unique; its content is not).

    Zero shuffle, linear. STAGED projections matter here: tokenize
    into a materialized column first, build each n-gram array as its
    own materialized column, and only then derive the two size()
    reads — inlining everything into one projection re-tokenizes the
    doc per gram element on the interpreted HOF path and runs each
    transform twice (one per size() reference); the staged plan holds
    ONE regexp/split and ONE transform per n (pinned in
    tests/test_plans.py)."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), " +", " ")), " ")
    staged = df.select("*", toks.alias("__toks"))

    def grams(n: int) -> Column:
        # NB: the transform lambda must take exactly one parameter —
        # a second parameter (even a defaulted one) makes pyspark
        # treat it as the (element, index) form
        idx = F.sequence(F.lit(1), F.greatest(F.lit(1), F.size(F.col("__toks")) - (n - 1)))
        return F.transform(idx, lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " "))

    staged = staged.select("*", *[grams(n).alias(f"__g{n}") for n in ns])
    out = staged.withColumns(
        {
            f"rep_{n}gram": F.round(
                F.lit(1.0)
                - F.size(F.array_distinct(F.col(f"__g{n}"))) / F.size(F.col(f"__g{n}")),
                4,
            )
            for n in ns
        }
    )
    return out.drop("__toks", *[f"__g{n}" for n in ns])


# Scrub patterns are intentionally RE2-safe (no lookarounds) so the
# same pattern string runs identically on Spark (Java regex) and the
# DuckDB oracle (RE2).
SCRUB_PATTERNS: tuple[tuple[str, str], ...] = (
    (r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    (r"https?://[^ ]+", "<URL>"),
    (r"[0-9]{4,}", "<NUM>"),
)


def scrub_text(df: DataFrame, text_col: str = "text", out_col: str = "scrubbed") -> DataFrame:
    """PII/noise scrubbing pass: emails -> <EMAIL>, URLs -> <URL>,
    long digit runs -> <NUM>, applied as a chain of regexp_replace
    column expressions (zero shuffle; order matters — emails before
    digit runs so an address is not half-eaten)."""
    c: Column = F.col(text_col)
    for pat, repl in SCRUB_PATTERNS:
        c = F.regexp_replace(c, pat, repl)
    return df.withColumn(out_col, c)


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
) -> DataFrame:
    """Top-k characteristic terms per document by TF-IDF
    (idf = ln((N+1)/(df+1)), the smoothed form).

    Scale shape: DF (docs-per-term) is derived FROM the TF aggregate
    — tf rows are already distinct (doc, term), so a plain COUNT per
    term equals count_distinct(doc) with no Expand, and the two
    groupBys share one (doc, term) exchange (ReuseExchange dedupes
    the identical subtree). The DF table is |vocab| rows — broadcast
    back to the TF side. Ranking ties are broken by term asc over
    the ROUNDED score so a distributed sum's last-ulp wiggle cannot
    reorder the cut."""
    from pyspark.sql import Window

    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), " +", " ")), " ")
    terms = df.select(F.col(id_col), F.explode(toks).alias("term"))
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = df.select(F.count_distinct(id_col).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(F.col("tf") * F.log((F.col("n_docs") + 1) / (F.col("df") + 1)), 4),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def bm25_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 3,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-k terms per document by Okapi BM25 (Robertson et al.,
    TREC-3) — the retrieval scorer TF-IDF approximates: term
    frequency saturates (k1) and is normalized by document length
    relative to the corpus average (b), so long documents can't win
    on raw repetition. idf uses the non-negative smoothed form
    ln((N - df + 0.5)/(df + 0.5) + 1).

    Scale shape — same as tfidf_top_terms plus the length terms, at
    no extra exchange: dl (doc token count) RIDES the explode as a
    carried constant and joins the TF grouping key (constant per doc,
    so group cardinality is unchanged — no second doc-keyed shuffle
    to re-attach lengths); DF derives from the distinct (doc, term)
    TF rows; (n_docs, avgdl) is ONE tiny aggregate cross-joined as a
    broadcast literal. Ranking ties break on term asc over the
    4-dp-ROUNDED score, so a distributed sum's last-ulp wiggle cannot
    reorder the cut and the DuckDB oracle replays the identical
    expression tree."""
    from pyspark.sql import Window

    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), " +", " ")), " ")
    toked = df.select(F.col(id_col), toks.alias("__toks"))
    terms = toked.select(
        F.col(id_col),
        F.size("__toks").alias("dl"),
        F.explode("__toks").alias("term"),
    )
    tf = terms.groupBy(id_col, "dl", "term").agg(F.count(F.lit(1)).alias("tf"))
    docfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    # (n_docs, avgdl) derives from the TF table's per-doc groups, not
    # a second corpus scan: every doc yields >= 1 TF row (split of ""
    # is [""], size >= 1), so the group count IS the doc count and
    # first(dl) the doc's length — and the TF exchange is reused, so
    # the corpus text is read and tokenized exactly once
    stats = (
        tf.groupBy(id_col)
        .agg(F.first("dl").alias("__dl"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.avg("__dl").alias("avgdl"),
        )
    )
    scored = (
        tf.join(F.broadcast(docfreq), "term")
        .crossJoin(F.broadcast(stats))
        .withColumn(
            "bm25",
            F.round(
                F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1)
                * (F.col("tf") * (k1 + 1))
                / (F.col("tf") + k1 * ((1 - b) + b * F.col("dl") / F.col("avgdl"))),
                4,
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.col("bm25").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "bm25", "rank")
    )


def pmi_collocations(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_count: int = 5,
) -> DataFrame:
    """Bigram collocations scored by pointwise mutual information
    (Church & Hanks, CL'90): pmi = ln(P(xy) / (P(x)P(y))) over
    occurrence counts — the corpus-analysis pass that separates
    'new york' (a unit) from 'of the' (chance co-occurrence of
    frequent words). Computed as a sum of logs, ln(c_xy) +
    2 ln(N_uni) - ln(N_bi) - ln(c_x) - ln(c_y): exact integer counts
    feed each ln, the same expression tree the DuckDB oracle
    evaluates, and products of counts can never overflow a long.

    Scale shape: ONE token explode feeds the unigram counts and ONE
    bigram sweep (shingle_rows' zero-shuffle slice-explode) feeds the
    bigram counts; BOTH corpus totals derive from the count tables
    (sum of counts == row count, exactly, in integers) so neither
    total replays its corpus-sized explode — the totals are
    vocab-sized aggregations of already-aggregated rows. The
    |vocab|-row unigram table broadcasts back onto the min-count-
    surviving bigrams (two broadcast hash joins, the fact side never
    re-shuffles); both totals are 1-row broadcast literals."""
    from dot_spark.operators.textdedup import shingle_rows

    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), " +", " ")), " ")
    terms = df.select(F.explode(toks).alias("term"))
    # uni feeds THREE consumers (n_uni, u1, u2) and bc_all feeds TWO
    # (n_bi, the floor-filtered bc) — materialize both vocab-sized
    # tables so neither corpus explode compiles per branch (t15's
    # discipline; measured 1.7x on the unigram family at sf0.1).
    uni = terms.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    uni = uni.localCheckpoint(eager=False)
    n_uni = uni.agg(F.sum("c").alias("n_uni"))
    bg = shingle_rows(df, id_col=id_col, text_col=text_col, n=2)
    bc_all = bg.groupBy(F.col("shingle").alias("bigram")).agg(
        F.count(F.lit(1)).alias("c_xy")
    ).localCheckpoint(eager=False)
    n_bi = bc_all.agg(F.sum("c_xy").alias("n_bi"))
    bc = (
        bc_all.filter(F.col("c_xy") >= min_count)
        .withColumn("__w", F.split("bigram", " "))
        .filter(F.size("__w") == 2)
        .select(
            "bigram",
            "c_xy",
            F.col("__w")[0].alias("w1"),
            F.col("__w")[1].alias("w2"),
        )
    )
    u1 = uni.select(F.col("term").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("term").alias("w2"), F.col("c").alias("c_y"))
    return (
        bc.join(F.broadcast(u1), "w1")
        .join(F.broadcast(u2), "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_bi))
        .withColumn(
            "__pmi",
            F.round(
                F.log("c_xy")
                + 2 * F.log("n_uni")
                - F.log("n_bi")
                - F.log("c_x")
                - F.log("c_y"),
                4,
            ),
        )
        .select(
            "bigram",
            "w1",
            "w2",
            "c_xy",
            # normalize IEEE signed zero: a ~-1e-17 pre-round value
            # rounds to -0.0, whose canonical repr differs from 0.0
            # even though the values compare equal
            F.when(F.col("__pmi") == 0, F.lit(0.0))
            .otherwise(F.col("__pmi"))
            .alias("pmi"),
        )
    )


def readability_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Syllable-free readability indices per document: Automated
    Readability Index (Senter & Smith 1967) and Coleman-Liau (1975)
    — the two standard grade-level scores computable from character
    counts alone (Flesch needs syllables, which need a dictionary).
    The corpus-quality pass that flags degenerate documents (walls of
    unpunctuated text score absurdly high; character soup scores
    negative) before training ingest.

    Definitions (mirrored exactly by the SQL oracle):
    - letters  = [A-Za-z] character count
    - words    = whitespace tokens of the space-collapsed text
    - sentences = maximal runs of [.!?] (min 1, so fragments count
      as one sentence rather than dividing by zero)
    - ARI = 4.71*(letters/words) + 0.5*(words/sentences) - 21.43
    - CLI = 0.0588*L - 0.296*S - 15.8, with L/S = letters/sentences
      per 100 words

    Rounding: 4 dp via explicit floor(x*1e4 + 0.5)/1e4 over the IEEE
    double — NOT engine-native round(). The formula's decimal
    constants (4.71, 21.43, …) are not binary-exact, so scores can
    land on decimal half-boundaries where Spark's BigDecimal HALF_UP
    and DuckDB's rounding disagree on the float just below the
    boundary (measured: ari 28.35375 at sf0.01, the w12 class). The
    scaled-floor form is a pure double expression both engines
    evaluate bit-identically given the same operation order.

    Scale shape: pure row-local column expressions — zero shuffle,
    zero Python; rides whatever scan partitioning the corpus has."""
    letters = F.length(F.regexp_replace(F.col(text_col), "[^A-Za-z]", ""))
    words = F.greatest(
        F.lit(1),
        F.size(F.split(F.trim(F.regexp_replace(F.col(text_col), " +", " ")), " ")),
    )
    sentences = F.greatest(
        F.lit(1), F.size(F.expr(f"regexp_extract_all({text_col}, '[.!?]+', 0)"))
    )
    ari_raw = (
        4.71 * F.col("n_letters") / F.col("n_words")
        + 0.5 * F.col("n_words") / F.col("n_sentences")
        - 21.43
    )
    cli_raw = (
        0.0588 * (100.0 * F.col("n_letters") / F.col("n_words"))
        - 0.296 * (100.0 * F.col("n_sentences") / F.col("n_words"))
        - 15.8
    )
    return df.select(
        F.col(id_col),
        letters.cast("long").alias("n_letters"),
        words.cast("long").alias("n_words"),
        sentences.cast("long").alias("n_sentences"),
    ).select(
        id_col,
        "n_letters",
        "n_words",
        "n_sentences",
        (F.floor(ari_raw * 10000.0 + 0.5) / 10000.0).alias("ari"),
        (F.floor(cli_raw * 10000.0 + 0.5) / 10000.0).alias("cli"),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_size: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap
    (stride < chunk_size), the context-window chunking pass that
    feeds embedding / training-example generation.

    Same codegen shape as shingle_rows: tokenize ONCE into a carried
    array column, explode the stride-spaced start positions, slice
    per exploded row with scalar expressions — no interpreted lambda,
    no re-tokenization per chunk, zero shuffle (fan-out is
    ~len/stride per doc, not per-token)."""
    toks = F.split(F.trim(F.regexp_replace(F.lower(F.col(text_col)), " +", " ")), " ")
    toked = df.select(F.col(id_col), toks.alias("__toks"))
    st = toked.select(
        F.col(id_col),
        "__toks",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.lit(1), F.size("__toks")), F.lit(stride))
        ).alias("__i"),
    )
    return st.select(
        F.col(id_col),
        F.floor((F.col("__i") - 1) / stride).cast("int").alias("chunk_idx"),
        F.array_join(F.slice("__toks", F.col("__i"), chunk_size), " ").alias("chunk_text"),
        F.least(F.lit(chunk_size), F.size("__toks") - F.col("__i") + 1)
        .cast("int")
        .alias("n_tokens"),
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_quality: float = 0.55,
    max_rep3: float = 0.01,
    min_stopword: float = 0.03,
) -> DataFrame:
    """C4/Gopher-style keep-drop filter: an ORDERED rule chain over
    the per-doc quality signals (first matching rule wins, like the
    reference classifier's decision tree) — low_quality, then
    repetitive, then no_stopwords, else keep. Composes the
    quality_score and repetition_ratio passes; still one narrow
    map-only projection end to end."""
    scored = repetition_ratio(quality_score(df, text_col), text_col, ns=(3,))
    verdict = (
        F.when(F.col("quality") < min_quality, "low_quality")
        .when(F.col("rep_3gram") > max_rep3, "repetitive")
        .when(F.col("stopword_ratio") < min_stopword, "no_stopwords")
        .otherwise("keep")
    )
    return scored.withColumn("verdict", verdict)



def hash_unit(col: Column) -> Column:
    """First 32 bits of md5 as an unsigned integer in [0, 2^32) —
    the engine-portable hash primitive (DuckDB replays it as
    ('0x' || substr(md5(x), 1, 8))::UBIGINT, bit-exact with
    conv(..., 16, 10) here; verified in tests/test_textops.py)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash_uniform(col: Column) -> Column:
    """md5-derived uniform in [0, 1): hash_unit / 2^32. The single
    place the divisor lives — hashed_weight, dsir_importance, and
    the DuckDB oracle replicas all derive from this construction, so
    a precision/width change has one engine-side home."""
    return hash_unit(col).cast("double") / F.lit(4294967296.0)


def hashed_weight(gram: Column) -> Column:
    """Deterministic 'shipped model' weight for the hashing trick:
    md5-derived uniform in [-1, 1). Both engines compute
    h / 2^32 * 2 - 1 over the identical integer h, so the weight is
    bit-exact across the gate."""
    return hash_uniform(gram) * 2 - 1


def hashed_linear_quality(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    threshold: float = 0.0,
) -> DataFrame:
    """fastText-shaped linear quality classifier INFERENCE with a
    hashed n-gram feature map: score = mean over word n-grams of
    w(gram), where w is a deterministic md5-derived weight vector
    (the hashing trick — no weight table ships to executors at all,
    the 'model' is the hash function). kept = score > threshold.

    This is the inference half of the quality-classifier stage every
    modern pretraining pipeline runs (CCNet/fastText, GPT-3's LR
    filter); training stays offline, scoring must scale to 100 TB.

    Scale shape: ZERO shuffle — grams, weights, and the score are one
    narrow whole-stage-codegen'd projection; the per-doc sum is a
    row-local sequential array fold (F.aggregate), so summation order
    is the array order on BOTH engines (DuckDB list_reduce replays
    the identical left fold) — no distributed-sum nondeterminism,
    which is why the score can gate at 6 decimals. A learned 2^k
    weight table would broadcast-join instead; the hash-weight form
    is the zero-state variant.
    """
    from dot_spark.operators.textdedup import normalize_text

    # STAGED projections (repetition_ratio's discipline, and the
    # reason this stays fast): the gram transform and the hash fold
    # run on the interpreted HOF path, which re-evaluates any inlined
    # subexpression once per ELEMENT — an unstaged `toks` puts the
    # whole split inside the per-gram lambda, turning gram
    # construction O(len²) (measured ~10x at sf0.1). Materialize the
    # token array, then the gram array, then the fold, then derive
    # kept from the rounded score — each expression evaluates exactly
    # once per row.
    toks = F.split(normalize_text(F.col(text_col)), " ")
    tk = df.select(F.col(id_col), toks.alias("__toks"))
    idx = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.size("__toks") - (n - 1))
    )
    grams = F.transform(
        idx, lambda i: F.array_join(F.slice(F.col("__toks"), i, n), " ")
    )
    staged = tk.select(F.col(id_col), grams.alias("__grams"))
    fold = F.aggregate(
        F.col("__grams"), F.lit(0.0), lambda acc, g: acc + hashed_weight(g)
    )
    scored = staged.select(
        F.col(id_col),
        F.size("__grams").cast("bigint").alias("n_grams"),
        F.round(fold / F.size("__grams"), 6).alias("score"),
    )
    return scored.select(
        F.col(id_col),
        "n_grams",
        "score",
        (F.col("score") > F.lit(threshold)).alias("kept"),
    )


def perplexity_prune(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    q_low: float = 0.33,
    q_high: float = 0.66,
) -> DataFrame:
    """CCNet-style perplexity partition: score every doc by its
    average negative log-probability under the corpus's own unigram
    LM, then cut the corpus into head/middle/tail at exact score
    percentiles (q_low, q_high); kept = not tail. CCNet (Wenzek et
    al. 2020) keeps the low-perplexity head/middle for pretraining.

    Scale shape: the corpus is tokenized TWICE — once materializing
    the |vocab|-row frequency table (broadcast back) and once as the
    scoring probe side (a broadcast probe shares no exchange, so
    ReuseExchange cannot dedupe the branches; materializing the
    vocab table is the t15 discipline, and materializing the
    corpus-sized probe would be worse). The percentile cut is ONE
    exact-percentile aggregation over the per-doc score column —
    Spark's exact percentile holds value->count state, and scores
    are rounded to 3 decimals first, so the aggregation state is
    bounded by the distinct rounded scores (~1e4), NOT the corpus
    row count. No global sort, no window. The 2-threshold row
    broadcasts onto the scored table. Both engines interpolate
    percentiles identically (type-7 linear; bit-exactness pinned in
    tests/test_textops.py).
    """
    from dot_spark.operators.textdedup import normalize_text

    toks = F.split(normalize_text(F.col(text_col)), " ")
    terms = df.select(F.col(id_col), F.explode(toks).alias("term"))
    # |vocab|-row table, two consumers (join side + total):
    # materialize once (t15's discipline)
    freq = terms.groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
    freq = freq.localCheckpoint(eager=False)
    total = freq.agg(F.sum("cnt").alias("n"))
    scored = (
        terms.join(F.broadcast(freq), "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(
                -F.sum(F.log(F.col("cnt") / F.col("n")))
                / F.count(F.lit(1)),
                3,
            ).alias("nll"),
        )
    )
    # both the percentile cut and the final projection read `scored`;
    # without materialization Catalyst compiles (and runs) the whole
    # explode+join+agg subtree once per branch — a lazy localCheckpoint
    # of the narrow per-doc table (3 columns, one row per doc) halves
    # the heavy work (the dd4b shared-shingle-table pattern)
    scored = scored.localCheckpoint(eager=False)
    cuts = scored.agg(
        F.percentile("nll", q_low).alias("__c1"),
        F.percentile("nll", q_high).alias("__c2"),
    )
    bucket = (
        F.when(F.col("nll") <= F.col("__c1"), "head")
        .when(F.col("nll") <= F.col("__c2"), "middle")
        .otherwise("tail")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            F.col(id_col),
            F.col("n_toks").cast("bigint").alias("n_toks"),
            F.col("nll"),
            bucket.alias("bucket"),
            (F.col("nll") <= F.col("__c2")).alias("kept"),
        )
    )


def dsir_importance(
    df: DataFrame,
    target_flag: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
) -> DataFrame:
    """DSIR (Xie et al., NeurIPS 2023) data selection via importance
    resampling: estimate target and raw unigram distributions over
    hashed feature buckets, weight every raw doc by
    log w = sum over tokens of log(p_target(b)/p_raw(b)), and accept
    deterministically iff u(doc) <= min(1, exp(log w)) with u a
    md5-derived uniform — the hash-seeded variant of DSIR's sampling
    step, reproducible across engines and runs.

    Scale shape: the corpus is tokenized TWICE — once under the
    n_buckets-row count aggregation (raw AND target counts in the
    same pass: a count_if, not separate scans per side) and once as
    the probe side of the scoring join; the counts table
    localCheckpoints so its two consumers (the broadcast join side
    and the totals aggregate) read 256 materialized rows instead of
    re-compiling the corpus explode per branch. Checkpointing the
    probe side itself would materialize a corpus-sized (one row per
    TOKEN) table — recomputing the cheap explode is the right trade
    at 100 TB. The per-doc reduction is one partial-agg shuffle on
    doc_id. Laplace (+1 per bucket) smoothing keeps every log
    finite. The per-doc sum rounds to 3 decimals before the
    acceptance exponential so distributed summation order cannot
    flip a verdict (t15's discipline), and exp() is rounded to 6
    before the u comparison.
    """
    from dot_spark.operators.textdedup import normalize_text

    toks = F.split(normalize_text(F.col(text_col)), " ")
    terms = df.select(
        F.col(id_col),
        target_flag.alias("__tgt"),
        F.explode(toks).alias("term"),
    )
    bucketed = terms.withColumn(
        "bkt", hash_unit(F.col("term")) % F.lit(n_buckets)
    )
    counts = bucketed.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("raw_c"),
        F.count(F.when(F.col("__tgt"), 1)).alias("tgt_c"),
    )
    # n_buckets rows feeding two consumers (join build side +
    # totals) — materialize so neither branch re-runs the corpus
    # explode under the aggregation
    counts = counts.localCheckpoint(eager=False)
    totals = counts.agg(
        F.sum("raw_c").alias("raw_n"), F.sum("tgt_c").alias("tgt_n")
    )
    # log ratio with +1/bucket smoothing, all in exact integer counts
    # until the final log
    ratio = (
        F.log(F.col("tgt_c") + 1)
        - F.log(F.col("tgt_n") + n_buckets)
        - F.log(F.col("raw_c") + 1)
        + F.log(F.col("raw_n") + n_buckets)
    )
    per_doc = (
        bucketed.join(F.broadcast(counts), "bkt")
        .crossJoin(F.broadcast(totals))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_toks"),
            F.round(F.sum(ratio), 3).alias("log_w"),
        )
    )
    accept_p = F.round(F.exp(F.least(F.lit(0.0), F.col("log_w"))), 6)
    u = hash_uniform(F.col(id_col).cast("string"))
    return per_doc.select(
        F.col(id_col),
        F.col("n_toks").cast("bigint").alias("n_toks"),
        F.col("log_w"),
        accept_p.alias("accept_p"),
        (u <= accept_p).alias("accepted"),
    )
