"""Text-analysis operators for the LLM-data-pipeline surface
(SURVEY.md §2.10; driver `documents` table).

Everything is built from JVM-side expressions (split/transform/filter/
aggregate/regexp) — no Python in the hot path, so whole-stage codegen covers
each operator and the only shuffles are the explicit groupBys. All
constructions are chosen to be expressible 1:1 in the DuckDB oracle (md5,
list lambdas, regexp_extract_all exist on both engines).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Deterministic language markers for the heuristic scorer. The synthetic
# corpus draws from one shared vocabulary, so this demonstrates the operator
# shape (n-gram/marker scoring → argmax), not real linguistics.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a"),
    "pt": ("data", "table"),
    "es": ("row", "column"),
}

# BPE-ish pretokenizer: letter runs, digit runs, single non-space symbols.
TOKEN_REGEX = r"[a-z]+|[0-9]+|[^a-z0-9\s]"
# Token width of the minhash shingle set: the shared default of
# shingles_regex and has_shingle (dedup.with_minhash_signature shingles
# through shingles_regex's default), so the has_shingle pre-filter admits
# exactly the docs that get a signature.
SHINGLE_N = 3


def tokens(col: str = "text") -> Column:
    """Whitespace tokenization as an array column (narrow, no shuffle)."""
    return F.split(F.col(col), " ")


def with_text_stats(df: DataFrame, col: str = "text") -> DataFrame:
    """Quality-scoring features: char/token counts, mean token length,
    stopword ratio — the classic cheap quality filters for pretraining
    corpora, all as codegen'd expressions."""
    toks = tokens(col)
    n_tokens = F.size(toks).cast("long")
    stop_hits = F.size(
        F.filter(toks, lambda t: (t == "the") | (t == "a"))
    ).cast("long")
    return df.withColumns(
        {
            "n_chars_calc": F.length(col).cast("long"),
            "n_tokens": n_tokens,
            "avg_token_len": (
                (F.length(col).cast("double") - (n_tokens - 1).cast("double"))
                / n_tokens.cast("double")
            ),
            "stopword_ratio": stop_hits.cast("double") / n_tokens.cast("double"),
        }
    )


def with_token_count_regex(df: DataFrame, col: str = "text") -> DataFrame:
    """Token counting with a BPE-ish pretokenizer regex (ASCII classes only,
    identical semantics under Java regex and RE2)."""
    return df.withColumn(
        "n_bpe_tokens",
        F.size(F.regexp_extract_all(F.col(col), F.lit(TOKEN_REGEX), 0)).cast("long"),
    )


def with_lang_id(df: DataFrame, col: str = "text") -> DataFrame:
    """Marker-based language-ID heuristic: count marker tokens per language,
    argmax with a deterministic (alphabetical) tie-break."""
    toks = tokens(col)

    def score(markers: tuple[str, ...]) -> Column:
        hits = F.filter(toks, lambda t: t.isin(*markers))
        return F.size(hits).cast("long")

    scored = df.withColumns(
        {f"score_{lang}": score(m) for lang, m in sorted(LANG_MARKERS.items())}
    )
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"score_{l}") for l in langs])
    pred = F.lit(None).cast("string")
    # Reverse order + when-chains → first alphabetical language wins ties.
    for lang in reversed(langs):
        pred = F.when(F.col(f"score_{lang}") == best, F.lit(lang)).otherwise(pred)
    return scored.withColumn("pred_lang", pred)


def with_fingerprint(df: DataFrame, col: str = "text") -> DataFrame:
    """Document fingerprint: md5 over the normalized text — the exact-dedup
    key. (Near-dup fingerprints come from shingle minhash in dedup.py.)"""
    return df.withColumn("fingerprint", F.md5(F.lower(F.trim(F.col(col)))))


def quality_score(col: str = "text") -> Column:
    """Composite quality score in [0, 1] from the cheap pretraining-filter
    features: penalizes very short docs, extreme mean token length, and
    stopword-free text. Pure JVM expression — this is the fast path."""
    toks = tokens(col)
    n_tok = F.size(toks).cast("double")
    len_score = F.least(n_tok / F.lit(20.0), F.lit(1.0))
    avg_len = (F.length(col).cast("double") - (n_tok - 1)) / n_tok
    shape_score = F.when((avg_len >= 3.0) & (avg_len <= 10.0), 1.0).otherwise(0.5)
    stop_hits = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a"))).cast(
        "double"
    )
    stop_score = F.least(stop_hits / F.greatest(n_tok * 0.01, F.lit(1.0)), F.lit(1.0))
    return (len_score * 0.4 + shape_score * 0.3 + stop_score * 0.3).alias(
        "quality_score"
    )


def quality_score_pandas_udf():
    """Arrow-vectorized twin of `quality_score` (§2.8 UDF surface): the
    same arithmetic over pandas Series batches. Exists to (a) prove the
    expression and UDF paths agree bit-for-bit (tests), (b) be the template
    for scoring logic that genuinely needs Python (an ML model, a tokenizer
    lib). The expression form is preferred in every hot path — JVM codegen
    beats Arrow transfer whenever the logic is expressible."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    # no pd.Series type hints: `from __future__ import annotations` turns
    # them into strings the UDF type-inferencer can't resolve here; the
    # explicit "double" returnType carries the contract
    @pandas_udf("double")
    def score(text):
        n_tok = text.str.split(" ").str.len().astype("float64")
        len_score = np.minimum(n_tok / 20.0, 1.0)
        avg_len = (text.str.len().astype("float64") - (n_tok - 1)) / n_tok
        shape_score = np.where((avg_len >= 3.0) & (avg_len <= 10.0), 1.0, 0.5)
        stop_hits = text.str.split(" ").map(
            lambda ts: float(sum(t in ("the", "a") for t in ts))
        )
        stop_score = np.minimum(stop_hits / np.maximum(n_tok * 0.01, 1.0), 1.0)
        return len_score * 0.4 + shape_score * 0.3 + stop_score * 0.3

    return score


def shingles_from_tokens(tok_col: str, n: int = 3) -> Column:
    """Shingles from an already-materialized token-array column. The index
    `transform` touches a bound attribute, not an expression, so the
    tokenizer runs exactly once per row — measured ~1.8x faster per scan
    than the single-expression fold below. Heavy consumers should
    materialize tokens first (`with_shingles`)."""
    toks = F.col(tok_col)
    last = F.size(toks) - (n - 1)
    mk = F.transform(
        F.sequence(F.lit(1), last),
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(n)]),
    )
    # guard: sequence(1, k) with k < 1 counts DOWN — short docs need []
    return F.when(last >= 1, mk).otherwise(F.array().cast("array<string>"))


def winnowing_fingerprints(
    df: DataFrame, k: int = 8, w: int = 4, col: str = "text"
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken, the MOSS
    algorithm): hash every character k-gram, slide a window of w hashes,
    keep the minimum per window, emit the distinct minima as the doc's
    fingerprint set — overlap between fingerprint sets localizes shared
    substrings, not just whole-document equality.

    The classic formulation uses a Karp-Rabin ROLLING hash so each
    successive k-gram costs O(1); per-row expressions can't carry that
    running state, so each k-gram is hashed independently (md5-prefix →
    bigint — engine-portable, and the k-gram extraction is the same
    single-pass regex-lookahead trick as shingles_regex, so the scan stays
    one linear sweep). Same fingerprint SET as the rolling version, O(k)
    per gram instead of O(1) — a constant factor inside one narrow
    projection, no shuffle anywhere until a consumer aggregates.

    r10: explode_outer + `fp IS NOT NULL` replaces the r9 localCheckpoint
    barrier. explode() made the optimizer infer `size(fps) > 0 AND
    isnotnull(fps)` and push it below the projections BY SUBSTITUTION, so
    the scan-stage filter carried the fully-inlined fingerprint
    expression — evaluated twice per row on top of the projection's own
    evaluation (the same inferred-filter pathology the Jaccard posting
    list documents, _hashed_posting_list). InferFiltersFromGenerate fires
    only for inner generates; the outer form infers nothing, and the
    explicit filter on the GENERATED column (which cannot be pushed below
    its generate) restores explode's exact semantics: empty sets emit one
    NULL row, then drop — fingerprint elements themselves are never NULL.
    No materialization of the corpus-sized fingerprint relation, no RDD
    checkpoint blocks without lineage fallback at scale."""
    from politicamente_etl_spark.operators.core import spread

    fps = with_winnowing_fp_set(
        spread(df.select("doc_id", col), "doc_id"), col, k=k, w=w
    ).select("doc_id", "__fps")
    return fps.select(
        "doc_id", F.explode_outer("__fps").alias("fp")
    ).filter(F.col("fp").isNotNull())


def with_winnowing_fp_set(
    df: DataFrame, col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Add the winnowing fingerprint SET as a `__fps` array column.

    The k-gram hash array is bound to a REAL column in its own projection
    before the window-min transform reads it (r9 opt — the same two-step
    shape `with_minhash_signature` documents: Catalyst keeps non-cheap
    aliases un-collapsed). Inlined, the window lambda's `slice(hashes, i,
    w)` re-evaluated the ENTIRE md5-hash transform once per window
    position — O(len²) md5 calls per document, measured 55 s for the
    window stage alone at sf0.01 vs 0.3 s for the hash pass it repeats;
    bound, each gram is hashed exactly once and the stage collapses to
    the linear cost the algorithm is supposed to have."""
    grams = F.regexp_extract_all(F.col(col), F.lit(rf"(?=(.{{{k}}}))."), 1)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
    )
    step = df.withColumn("__wh", hashes)
    bound = F.col("__wh")
    n_win = F.size(bound) - (w - 1)
    wins = F.transform(
        F.sequence(F.lit(1), n_win), lambda i: F.array_min(F.slice(bound, i, w))
    )
    # sequence(1, n) with n < 1 counts DOWN (and DuckDB range() would be
    # empty) — guard short docs to an empty fingerprint set explicitly
    return step.withColumn(
        "__fps",
        F.when(n_win >= 1, F.array_distinct(wins)).otherwise(
            F.array().cast("array<bigint>")
        ),
    ).drop("__wh")


def winnowing_overlap_pairs(
    df: DataFrame,
    k: int = 8,
    w: int = 4,
    min_common: int = 5,
    col: str = "text",
) -> DataFrame:
    """Substring-overlap near-dup pairs from winnowing fingerprints: docs
    meet on shared fingerprints (inverted index — the same bucket-local
    equi-join shape as the shingle Jaccard, keys already bigint), counted
    per pair and thresholded. Catches copied PASSAGES between otherwise
    different documents, which whole-doc digests and token-set Jaccard
    both dilute.

    The per-doc set size rides through the explode in the projection
    (same trick as ngram_jaccard_pairs) — no separate count aggregate,
    no re-join.

    r10: the exploded (doc_id, n_fp, fp) posting relation uses the
    inferred-filter-proof shape of _hashed_posting_list (explode_outer +
    filter on the generated column + non-nullable size) instead of the
    r9 localCheckpoint barrier: no optimizer rule can substitute the
    fingerprint expression into the scan stage, both self-join sides are
    byte-identical subtrees so AQE reuses one fan-out exchange at
    runtime, and no corpus-sized RDD checkpoint (no lineage fallback at
    scale) is materialized."""
    from politicamente_etl_spark.operators.core import spread

    sized = (
        with_winnowing_fp_set(
            spread(df.select("doc_id", col), "doc_id"), col, k=k, w=w
        )
        .select(
            "doc_id",
            F.coalesce(F.size("__fps"), F.lit(0)).alias("n_fp"),
            F.explode_outer("__fps").alias("fp"),
        )
        .filter(F.col("fp").isNotNull())
    )
    a, b = sized.alias("a"), sized.alias("b")
    return (
        a.join(
            b,
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("a.n_fp").alias("n_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("b.n_fp").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
        .withColumn(
            "overlap",
            F.col("n_common").cast("double")
            / F.least("n_a", "n_b").cast("double"),
        )
        .select("doc_a", "doc_b", "n_common", "overlap")
    )


# PII patterns kept to constructs with identical semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, +/{m,} quantifiers. No
# lookarounds or backreferences (RE2 has neither).
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
URL_RE = r"https?://[^ ]+"


def redact_pii(
    df: DataFrame, text_col: str = "text", out_col: str = "clean_text"
) -> DataFrame:
    """PII scrubbing for pretraining corpora: replace emails and URLs with
    typed placeholder tokens and count what was removed (the removal
    counts feed the pipeline's audit report, like dedup_cluster_report's
    char accounting). Pure per-row regexp expressions — narrow, codegen'd,
    no shuffle; at 100 TB this is scan-bound like any projection.

    Counts are taken on the raw text BEFORE replacement so overlapping
    patterns can't hide each other; emails are replaced first so an email
    inside a URL query-string redacts as part of the URL span it sits in."""
    raw = F.col(text_col)
    return df.withColumns(
        {
            "n_emails": F.regexp_count(raw, F.lit(EMAIL_RE)).cast("long"),
            "n_urls": F.regexp_count(raw, F.lit(URL_RE)).cast("long"),
            out_col: F.regexp_replace(
                F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), URL_RE, "<URL>"
            ),
        }
    )


def chunk_documents(
    df: DataFrame,
    window: int = 128,
    stride: int = 96,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Split documents into fixed-token-window chunks with overlap
    (window − stride tokens shared between consecutive chunks) — the
    context-window preparation step of a training pipeline: long docs
    become multiple training examples, and the overlap keeps boundary
    context.

    Chunk k covers tokens [k·stride+1, k·stride+window]; the number of
    chunks is 1 + ceil(max(0, n−window)/stride), so every token is in at
    least one chunk and a short doc yields exactly one (possibly short)
    chunk. Entirely narrow expressions (tokenize → per-row chunk array →
    explode): no shuffle, parallelism is the scan's, and row blow-up is
    bounded by ~n/stride per doc."""
    toks = F.col("__toks")
    n = F.size(toks)
    n_chunks = (
        F.floor(
            (F.greatest(n - F.lit(window), F.lit(0)) + F.lit(stride - 1))
            / F.lit(stride)
        ).cast("int")
        + F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("int").alias("chunk_idx"),
            F.slice(toks, k * stride + 1, window).alias("ctoks"),
        ),
    )
    return (
        df.withColumn("__toks", tokens(text_col))
        .select(F.col(id_col), F.explode(chunks).alias("ch"))
        .select(
            F.col(id_col),
            F.col("ch.chunk_idx").alias("chunk_idx"),
            F.size("ch.ctoks").cast("long").alias("n_chunk_tokens"),
            F.concat_ws(" ", F.col("ch.ctoks")).alias("chunk_text"),
        )
    )


def tfidf_top_terms(df: DataFrame, k: int = 5, col: str = "text") -> DataFrame:
    """Per-document TF-IDF top-k terms: tf = in-doc term count, df = docs
    containing the term (a `count over (partition by term)` window on the
    unique (doc, term) table — no separate doc-frequency aggregate+join),
    score = tf · ln(N/df).

    Plan: explode → partial-agg'd groupBy(doc,term) → window by term →
    broadcast of the one-row corpus count → per-doc top-k window
    (WindowGroupLimit pushes the k-filter below the sort at scale).

    Determinism: ln differs between engines in the last ulp for ~8% of
    inputs (measured vs DuckDB), so the score is snapped to 4 decimals
    BEFORE ranking and output — ranks compare rounded values, ties break
    on the term string, so a ulp can no longer reorder the top-k."""
    toks = df.select("doc_id", F.explode(tokens(col)).alias("term"))
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    from pyspark.sql import Window

    wdf = tf.withColumn("df", F.count("*").over(Window.partitionBy("term")))
    n = df.select(F.countDistinct("doc_id").alias("n_docs"))
    score = F.round(
        F.col("tf").cast("double")
        * F.log(F.col("n_docs").cast("double") / F.col("df").cast("double")),
        4,
    )
    ranked = (
        wdf.crossJoin(F.broadcast(n))
        .withColumn("tfidf", score)
        .withColumn(
            "rnk",
            F.row_number()
            .over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("tfidf").desc(), F.col("term")
                )
            )
            .cast("int"),
        )
    )
    return ranked.filter(F.col("rnk") <= k).select(
        "doc_id", "term", "tf", "df", "tfidf", "rnk"
    )


def shingles_regex(col: str = "text", n: int = SHINGLE_N) -> Column:
    """Token n-gram shingles via one regex pass: a lookahead captures the
    n-token window at every token start, so the scan is a single
    linear sweep with no array machinery. Higher-order-function
    expressions (transform/aggregate) run interpreted per element and
    copy accumulator arrays; this form measured 2-4x faster than either
    HOF shape on the documents corpus and produces byte-identical
    shingles for single-space-separated text (the corpus invariant;
    `normalize_text` upstream guarantees it). On text with repeated or
    non-space whitespace the HOF forms split on every single space
    (producing empty tokens) while this skips whitespace runs — prefer
    this semantics, but keep `shingles()` as the engine-portable
    definition the DuckDB oracle mirrors."""
    window = " ".join([r"\S+"] * n)
    return F.regexp_extract_all(
        F.col(col), F.lit(rf"(?=({window}))\S+ ?"), 1
    )


def has_shingle(col: str = "text", n: int = SHINGLE_N) -> Column:
    """TRUE iff `shingles_regex(col, n)` is non-empty — the cheap
    text-level twin of `size(shingles_regex(col, n)) > 0`: the lookahead
    in shingles_regex matches somewhere iff the plain n-token window
    matches somewhere, and NULL text fails both forms. Used as a
    PRE-filter ahead of signature pipelines so the predicate pushed to
    the scan is one linear rlike, not a substituted copy of the full
    shingle/minhash expression (guide §4.4's duplicated-evaluation
    pathology, with built-in expressions instead of a UDF)."""
    return F.col(col).rlike(" ".join([r"\S+"] * n))


def with_shingles(
    df: DataFrame,
    col: str = "text",
    out: str = "shingles",
    n: int = 3,
    distinct: bool = False,
) -> DataFrame:
    """Two-projection shingling: materialize the token array, then build
    shingles from the bound column. Both projections are narrow (no
    shuffle); the intermediate token column is dropped."""
    sh = shingles_from_tokens("__toks", n)
    if distinct:
        sh = F.array_distinct(sh)
    return (
        df.withColumn("__toks", tokens(col))
        .withColumn(out, sh)
        .drop("__toks")
    )


def shingles(col: str = "text", n: int = 3) -> Column:
    """Token n-gram shingles as a single pure expression — for contexts
    that need a Column, not a DataFrame step.

    Built as one left fold (`F.aggregate`) over the token array so the
    tokenizing `split` is evaluated exactly ONCE per row. The obvious
    `transform(sequence(...), i -> concat(element_at(tok, i)...))` shape
    re-evaluates the split per element access inside the lambda (Catalyst
    does not CSE across higher-order-function lambdas). When a DataFrame is
    in hand, prefer `with_shingles` — materializing the token column first
    beats the fold ~1.8x per scan."""
    empty = F.array().cast("array<string>")
    init = F.struct(empty.alias("prev"), empty.alias("out"))

    def step(acc: Column, x: Column) -> Column:
        full = F.concat(acc["prev"], F.array(x))  # at most n elements
        return F.struct(
            F.when(F.size(full) >= n, F.slice(full, 2, n - 1))
            .otherwise(full)
            .alias("prev"),
            F.when(
                F.size(full) == n,
                F.concat(acc["out"], F.array(F.array_join(full, " "))),
            )
            .otherwise(acc["out"])
            .alias("out"),
        )

    return F.aggregate(tokens(col), init, step, lambda acc: acc["out"])


def unigram_logprob_scores(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
    exact_buckets: bool = True,
) -> DataFrame:
    """Corpus-level statistical quality scoring: each document's mean
    log-probability under the corpus's own unigram language model, plus a
    head/middle/tail quality bucket — the public CCNet recipe (Wenzek et
    al. 2020) with the corpus unigram LM standing in for KenLM (no model
    artifacts in this environment; slot a real LM's per-token logprob into
    the same join and everything downstream is unchanged).

    Plan (the aggregate → join → score pattern): explode tokens →
    vocab-sized groupBy(term) count → join the vocab's log-probs back onto
    the token stream → one partial-agg'd groupBy(doc). The vocab join
    carries NO broadcast hint: `F.broadcast()` is mandatory (an oversized
    build side OOMs the executors — it does NOT fall back past the
    threshold), and a 100 TB web corpus's distinct-token vocab (typos,
    URLs, IDs) can reach 10⁹ rows. Natural-language vocabs are small, so
    the planner's size estimate / AQE picks the broadcast hash join on its
    own; a huge vocab degrades to a shuffle join — still linear, never a
    failure. The per-doc agg is the single guaranteed fact shuffle.

    Determinism across engines: ln() differs in the last ulp, so each
    term's logprob is snapped to integer MICRO-NATS
    (round(ln(p)·1e6) as BIGINT) before the per-doc sum — integer sums are
    exact and order-independent, so partition count can't change the
    result; the mean is one double division at the end.

    Bucketing has two modes:
    - ``exact_buckets=True`` (oracle mode): ntile over (mean desc, doc_id)
      — a global doc-level sort through a single reducer. Exact and
      engine-portable, but single-threaded at the doc count; use it where
      per-row reproducibility is the contract (driver correctness rows).
    - ``exact_buckets=False`` (scale mode): approx-percentile thresholds
      of mean_logprob (one tiny aggregate, broadcast back) and buckets by
      comparison — no global sort anywhere, boundary rows may land one
      bucket off vs exact ntile (and ntile's equal-count tie-split is
      approximated by value thresholds).
    """
    from pyspark.sql import Window

    toks = df.select(id_col, F.explode(tokens(col)).alias("term"))
    vocab = toks.groupBy("term").agg(F.count("*").alias("tf_corpus"))
    total = toks.groupBy().agg(F.count("*").alias("n_total"))
    lp = (
        vocab.crossJoin(F.broadcast(total))
        .withColumn(
            "lp_micro",
            F.round(
                F.log(
                    F.col("tf_corpus").cast("double")
                    / F.col("n_total").cast("double")
                )
                * F.lit(1e6),
                0,
            ).cast("long"),
        )
        .select("term", "lp_micro")
    )
    doc = (
        toks.join(lp, "term")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .withColumn(
            "mean_logprob",
            F.col("sum_lp_micro").cast("double")
            / F.lit(1000000.0)
            / F.col("n_tokens").cast("double"),
        )
    )
    if exact_buckets:
        w = Window.orderBy(F.col("mean_logprob").desc(), F.col(id_col))
        doc = doc.withColumn(
            "quality_bucket", F.ntile(n_buckets).over(w).cast("int")
        )
    else:
        # Approx-percentile thresholds (ascending interior cut points);
        # bucket 1 = best (highest mean). quality_bucket =
        # 1 + #{thresholds strictly above the doc's mean} — a broadcast of
        # an n_buckets-1 element array, zero global sorts.
        fracs = [i / n_buckets for i in range(1, n_buckets)]
        th = doc.agg(
            F.percentile_approx(
                "mean_logprob", fracs, 10_000
            ).alias("__th")
        )
        doc = (
            doc.crossJoin(F.broadcast(th))
            .withColumn(
                "quality_bucket",
                (
                    F.lit(1)
                    + F.size(
                        F.filter(
                            F.col("__th"),
                            lambda t: F.col("mean_logprob") < t,
                        )
                    )
                ).cast("int"),
            )
            .drop("__th")
        )
    return doc.select(
        id_col, "n_tokens", "sum_lp_micro", "mean_logprob", "quality_bucket"
    )


def gopher_quality_report(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 20,
    max_words: int = 100_000,
    min_mean_word_len: float = 2.0,
    max_mean_word_len: float = 10.0,
    min_unique_frac: float = 0.125,
) -> DataFrame:
    """Gopher-style rule-based admission filters (Rae et al. 2021, public
    recipe): per-document word count bounds, mean word length bounds,
    unique-word fraction, and stopword presence, each as a boolean flag
    plus the final ``admitted`` verdict.

    Every feature is a narrow JVM expression over the token array (size /
    array_distinct / filter folds) — the whole report is scan → project,
    zero shuffles, codegen end-to-end, so it runs at scan speed on 100 TB
    and composes with any downstream filter pushdown. Integer counts and
    exact double divisions only → every row oracle-checkable."""
    toks = tokens(col)
    n_words = F.size(toks).cast("long")
    # mean word length over the words themselves (not chars/words), exact
    # on both engines: sum of int lengths / int count.
    sum_word_len = F.aggregate(
        F.transform(toks, lambda t: F.length(t)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x.cast("long"),
    )
    mean_word_len = sum_word_len.cast("double") / n_words.cast("double")
    unique_frac = (
        F.size(F.array_distinct(toks)).cast("double") / n_words.cast("double")
    )
    has_stopword = F.arrays_overlap(toks, F.array(F.lit("the"), F.lit("a")))
    out = df.select(
        id_col,
        n_words.alias("n_words"),
        mean_word_len.alias("mean_word_len"),
        unique_frac.alias("unique_frac"),
        has_stopword.alias("has_stopword"),
    )
    ok_words = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ok_len = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    ok_unique = F.col("unique_frac") >= min_unique_frac
    return out.withColumns(
        {
            "ok_word_count": ok_words,
            "ok_mean_word_len": ok_len,
            "ok_unique_frac": ok_unique,
            "admitted": ok_words & ok_len & ok_unique & F.col("has_stopword"),
        }
    )


def top_bigram_fraction(
    df: DataFrame, col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signal (Gopher's duplicate-n-gram family):
    the fraction of the document's bigrams covered by its single most
    frequent bigram. High values flag boilerplate/spam long before an
    exact or fuzzy dedup would.

    Shape: explode bigrams → count per (doc, bigram) → one max/sum
    aggregate per doc. Two shuffles, both keyed by doc id (the second
    reuses the first's partitioning modulo the dropped bigram column);
    integer counts + one final division → oracle-exact."""
    bigrams = F.expr(
        f"transform(slice(split({col}, ' '), 1, size(split({col}, ' ')) - 1),"
        f" (t, i) -> concat_ws(' ', t, element_at(split({col}, ' '), i + 2)))"
    )
    per_bigram = (
        df.select(id_col, F.explode(bigrams).alias("bigram"))
        .groupBy(id_col, "bigram")
        .agg(F.count("*").alias("n"))
    )
    return (
        per_bigram.groupBy(id_col)
        .agg(
            F.sum("n").cast("long").alias("n_bigrams"),
            F.max("n").cast("long").alias("top_bigram_n"),
        )
        .withColumn(
            "top_bigram_frac",
            F.col("top_bigram_n").cast("double")
            / F.col("n_bigrams").cast("double"),
        )
    )


def boilerplate_shingle_scores(
    docs: DataFrame,
    n: int = 5,
    hot_doc_count: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Boilerplate / template-content scoring — the shingle-frequency
    analogue of CCNet's paragraph-dedup signal for corpora whose docs
    carry no paragraph structure: a doc whose n-gram shingles mostly
    occur in MANY other documents is boilerplate (nav chrome, license
    headers, templated listings), and curation pipelines demote or strip
    it.

    Per doc: its distinct n-token shingles; per shingle: the corpus-wide
    document frequency (count over the doc-distinct exploded pairs — one
    hash agg, map-side combined); score = fraction of the doc's shingles
    whose doc-frequency exceeds `hot_doc_count`.

    Plan: explode → agg(doc-freq) → join back on shingle hash → per-doc
    agg. Both shuffles key on xxhash64(shingle) (8-byte rows); the join
    reuses the agg's partitioning (AQE exchange reuse), hot stop-shingles
    are the skew risk and ride AQE skew-join. Never materializes text
    through a shuffle. Returns (doc_id, n_shingles, n_boiler,
    boiler_ratio)."""
    from politicamente_etl_spark.operators.core import spread

    # r10: the r9 localCheckpoint barrier here is REMOVED — it cost more
    # than the duplicate derivation it prevented (r9: 0.78 s → 0.96 s at
    # sf0.1; r10 A/B: barrier 1.20 s / no barrier 0.91 s). What actually
    # runs twice without a barrier is only the post-exchange
    # shingle+explode projection: the scan and the fan-out shuffle are
    # byte-identical subtrees on the agg and probe sides, so AQE reuses
    # ONE exchange at runtime (ReusedExchange in the final plan), and —
    # unlike the Jaccard shapes — no inferred filter substitutes the
    # regex into the scan stage here (nothing downstream filters on a
    # nullable derived column). At scale the doc-freq side stops
    # broadcasting and both consumers shuffle on sh, where the exchange
    # reuse dedups the parse entirely.
    sh = spread(docs.select(id_col, text_col), id_col).select(
        F.col(id_col),
        F.explode(F.array_distinct(shingles_regex(text_col, n))).alias("sh"),
    ).withColumn("sh", F.xxhash64("sh"))
    doc_freq = sh.groupBy("sh").agg(F.count("*").alias("doc_freq"))
    return (
        sh.join(doc_freq, "sh")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum((F.col("doc_freq") > hot_doc_count).cast("bigint")).alias(
                "n_boiler"
            ),
        )
        .withColumn(
            "boiler_ratio",
            F.col("n_boiler").cast("double") / F.col("n_shingles").cast("double"),
        )
    )


def vocab_growth_curve(
    docs: DataFrame,
    bucket_docs: int = 50,
    n: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Heaps-law vocabulary growth: how many NEW distinct n-gram types each
    successive block of `bucket_docs` documents contributes, plus the
    running vocabulary size — the curve that tells a corpus builder
    whether more data still buys vocabulary (and when token-frequency
    truncation is safe). ``n=1`` counts unigram types; higher n tracks the
    phrase-type space (the one BPE merges and dedup shingles live in).

    The naive form is a sequential scan (vocabulary so far → is this
    token new?); the distributed form inverts it: each type's FIRST
    document (min doc_id per token — one hash agg) decides which block
    gets credit. The per-block rollup output is tiny (corpus/bucket_docs
    rows), so the cumulative window over blocks is a no-risk
    single-partition pass over an already-reduced table, not over rows.
    Returns (bucket, first_doc, new_types, cum_types)."""
    from pyspark.sql import Window

    gram = tokens(text_col) if n == 1 else shingles_regex(text_col, n)
    toks = docs.select(
        F.col(id_col), F.explode(F.array_distinct(gram)).alias("tok")
    )
    first_seen = toks.groupBy("tok").agg(F.min(id_col).alias("first_doc"))
    per_bucket = (
        first_seen.withColumn(
            "bucket", (F.col("first_doc") / bucket_docs).cast("bigint")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("new_types"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return per_bucket.select(
        "bucket",
        (F.col("bucket") * bucket_docs).alias("first_doc"),
        "new_types",
        F.sum("new_types").over(w).alias("cum_types"),
    )


def bigram_logprob_scores(
    df: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Bigram-LM quality scoring: each document's mean log-probability of
    its token transitions, ln P(w_i | w_{i-1}), under the corpus's own
    bigram model — the context-aware step up from unigram_logprob_scores
    (a doc of real phrases scores high even when its unigrams are common;
    shuffled word salad with the same unigram profile scores low, which
    is exactly the failure mode the unigram LM cannot see).

    MLE conditionals need no smoothing here BY CONSTRUCTION: the corpus
    is scored under its own counts, so every bigram observed in a doc has
    corpus count ≥ 1. Scoring external text against these tables needs a
    backoff (join the unigram lp table for missing bigrams — same join
    shape, one extra coalesce).

    Plan mirrors the unigram scorer's aggregate → join → score pattern:
    explode bigrams → bigram counts ⟕ left-context counts (both
    vocab-sized aggs; the left-context agg reuses the exploded stream) →
    micro-nat snapped conditional lp per bigram → join back onto the
    stream → one partial-agg'd per-doc sum. No broadcast hints (the
    bigram table of a web corpus is far past any threshold — planner/AQE
    decide); the per-doc agg is the single guaranteed fact shuffle.
    Determinism: ln() snapped to integer micro-nats before the sum, mean
    as one double division — identical everywhere (the unigram scorer's
    argument)."""
    bigs = df.select(id_col, F.explode(shingles_regex(col, 2)).alias("bg"))
    lp, _ = bigram_lm_tables(df, col)
    return (
        bigs.join(lp, "bg")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp_micro").alias("sum_lp_micro"),
        )
        .withColumn(
            "mean_logprob",
            F.col("sum_lp_micro").cast("double")
            / F.lit(1000000.0)
            / F.col("n_bigrams").cast("double"),
        )
    )


def bigram_lm_tables(
    corpus: DataFrame, col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Train the corpus bigram LM once and hand back its two tables —
    (bigram conditional lp, unigram lp), both in micro-nats — for scoring
    OTHER batches with `score_with_bigram_lm`. At scale these persist as
    managed tables next to the corpus (the signature-table pattern of
    corpus.py: train nightly, score every batch against them)."""
    bigs = corpus.select(F.explode(shingles_regex(col, 2)).alias("bg"))
    bg_counts = bigs.groupBy("bg").agg(F.count("*").alias("c_bg"))
    left_counts = (
        bigs.select(F.substring_index("bg", " ", 1).alias("w1"))
        .groupBy("w1")
        .agg(F.count("*").alias("c_left"))
    )
    bg_lp = (
        bg_counts.withColumn("w1", F.substring_index("bg", " ", 1))
        .join(left_counts, "w1")
        .withColumn(
            "lp_micro",
            F.round(
                F.log(F.col("c_bg").cast("double") / F.col("c_left").cast("double"))
                * F.lit(1e6),
                0,
            ).cast("long"),
        )
        .select("bg", "lp_micro")
    )
    toks = corpus.select(F.explode(tokens(col)).alias("term"))
    uni_counts = toks.groupBy("term").agg(F.count("*").alias("tf"))
    total = toks.groupBy().agg(F.count("*").alias("n_total"))
    uni_lp = (
        uni_counts.crossJoin(F.broadcast(total))
        .withColumn(
            "uni_lp_micro",
            F.round(
                F.log(F.col("tf").cast("double") / F.col("n_total").cast("double"))
                * F.lit(1e6),
                0,
            ).cast("long"),
        )
        .select("term", "uni_lp_micro")
    )
    return bg_lp, uni_lp


# Penalty (micro-nats) applied on top of the unigram backoff for a
# transition the reference LM never saw — a fixed, engine-exact constant
# standing in for a tuned backoff weight (ln(0.01) ≈ -4.6).
OOV_BACKOFF_PENALTY_MICRO = -4_605_170


def score_with_bigram_lm(
    batch: DataFrame,
    bg_lp: DataFrame,
    uni_lp: DataFrame,
    col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score an EXTERNAL batch against a reference bigram LM — the
    backoff case bigram_logprob_scores (corpus-on-itself) never hits:
    a batch transition absent from the reference tables backs off to the
    target unigram's lp plus a fixed penalty; a fully-novel token bottoms
    out at the penalty alone. One coalesce chain over two left joins —
    the join shapes are identical to the self-scoring path, so the 100 TB
    properties carry over unchanged. Emits per-doc n_bigrams, the snapped
    sum, the mean, and n_backoff (how often the model was out of its
    depth — itself a quality signal: high backoff = out-of-domain text)."""
    bigs = batch.select(id_col, F.explode(shingles_regex(col, 2)).alias("bg"))
    bigs = bigs.withColumn("term", F.substring_index("bg", " ", -1))
    scored = (
        bigs.join(bg_lp, "bg", "left")
        .join(uni_lp, "term", "left")
        .withColumn(
            "lp_eff",
            F.coalesce(
                F.col("lp_micro"),
                F.col("uni_lp_micro") + F.lit(OOV_BACKOFF_PENALTY_MICRO),
                F.lit(2 * OOV_BACKOFF_PENALTY_MICRO),
            ),
        )
        .withColumn("is_backoff", F.col("lp_micro").isNull().cast("long"))
    )
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum("lp_eff").alias("sum_lp_micro"),
            F.sum("is_backoff").alias("n_backoff"),
        )
        .withColumn(
            "mean_logprob",
            F.col("sum_lp_micro").cast("double")
            / F.lit(1000000.0)
            / F.col("n_bigrams").cast("double"),
        )
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    id_col: str = "doc_id",
    col: str = "text",
) -> DataFrame:
    """BM25 lexical retrieval for one query (Robertson/Sparck Jones):
    score(d) = sum over query terms of
    idf(t) * tf*(k1+1) / (tf + k1*(1-b+b*dl/avgdl)), with the plus-one
    idf form idf = ln(1 + (N-df+0.5)/(df+0.5)) (never negative, the
    Lucene variant). Complements `tfidf_query_similarity`
    (doc-as-query retrieval) with the free-text-query half of lexical
    search; covers the reference's ranked-retrieval surface.

    Determinism: each per-(doc,term) contribution is snapped to integer
    micro-units immediately after the one float expression, so the
    cross-term sum is exact integer arithmetic — engine-identical
    regardless of addition order (same contract as
    `tfidf_query_similarity`).

    Plan/scale: the exploded token stream is filtered to the |Q| query
    terms BEFORE the tf aggregation, so only matching postings shuffle
    (document-at-a-time retrieval's posting bound). dl rides along from
    the pre-explode projection — no corpus self-join. df and the
    (n_docs, avgdl) corpus stats are one-row/|Q|-row broadcasts. The
    final top-k is orderBy+limit (TakeOrdered: k rows per partition
    move, no global sort), with row_number assigned on the k survivors.
    """
    q = [t for t in query_terms]
    toks = df.select(
        F.col(id_col),
        F.size(tokens(col)).cast("long").alias("dl"),
        F.explode(tokens(col)).alias("t"),
    ).filter(F.col("t").isin(q))
    tf = toks.groupBy(id_col, "dl", "t").agg(F.count("*").alias("tf"))
    stats = df.select(
        F.count("*").cast("double").alias("n_docs"),
        (
            F.sum(F.size(tokens(col))).cast("double")
            / F.count("*").cast("double")
        ).alias("avgdl"),
    )
    idf = (
        tf.groupBy("t")
        .agg(F.count("*").alias("df"))
        .join(F.broadcast(stats))
        .select(
            "t",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                / (F.col("df").cast("double") + F.lit(0.5))
            ).alias("idf"),
        )
    )
    contrib = (
        tf.join(F.broadcast(idf), "t")
        .join(F.broadcast(stats))
        .select(
            F.col(id_col),
            F.round(
                F.col("idf")
                * (F.col("tf").cast("double") * (F.lit(k1) + F.lit(1.0)))
                / (
                    F.col("tf").cast("double")
                    + F.lit(k1)
                    * (
                        F.lit(1.0)
                        - F.lit(b)
                        + F.lit(b) * (F.col("dl").cast("double") / F.col("avgdl"))
                    )
                )
                * F.lit(1000000.0),
                0,
            )
            .cast("long")
            .alias("c"),
        )
    )
    agg = contrib.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_hit"),
        F.sum("c").cast("long").alias("score_micro"),
    )
    top = agg.orderBy(F.col("score_micro").desc(), F.col(id_col)).limit(k)
    from pyspark.sql import Window

    rw = Window.orderBy(F.col("score_micro").desc(), F.col(id_col))
    return top.withColumn("rnk", F.row_number().over(rw).cast("int")).select(
        id_col, "n_hit", "score_micro", "rnk"
    )


def hashed_linear_score(
    df: DataFrame,
    weights: DataFrame,
    n_buckets: int = 4096,
    seed: str = "qc-v1",
    bias_micro: int = 0,
    id_col: str = "doc_id",
    col: str = "text",
) -> DataFrame:
    """fastText-shaped quality classifier inference: hash unigram +
    bigram features into n_buckets (feature hashing, Weinberger et al.),
    look each bucket's weight up in a broadcast weights table, sum per
    document, threshold at zero. This is how a trained quality/toxicity
    gate actually runs over a pretraining corpus — the model is a
    (bucket, weight) TABLE, scoring is a broadcast join plus one
    per-document aggregation, and nothing about the plan changes when
    the weights come from a real training run instead of a fixture.

    `weights` must have columns (bucket int, w_micro long) — integer
    micro-units, so per-doc logits are exact integer sums (engine-
    identical, addition-order-proof).

    Plan/scale: two narrow explodes unioned (no self-join for bigrams —
    the shingler is a per-row expression), a 32-bit md5 bucket per
    feature, one BroadcastHashJoin against the ≤n_buckets-row weights
    table, one groupBy(id) shuffle with map-side partial sums. At 2^20
    buckets the broadcast is ~8 MB — still a broadcast."""
    from politicamente_etl_spark.operators.sampling import hash_bucket

    uni = df.select(F.col(id_col), F.explode(tokens(col)).alias("t")).select(
        F.col(id_col), F.concat(F.lit("u:"), F.col("t")).alias("f")
    )
    big = df.select(
        F.col(id_col), F.explode(shingles_regex(col, 2)).alias("t")
    ).select(F.col(id_col), F.concat(F.lit("b:"), F.col("t")).alias("f"))
    feats = uni.unionAll(big).select(
        F.col(id_col),
        hash_bucket(F.col("f"), seed=seed, n_buckets=n_buckets)
        .cast("int")
        .alias("bucket"),
    )
    scored = feats.join(F.broadcast(weights), "bucket").groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_feats"),
        (F.sum("w_micro") + F.lit(bias_micro)).cast("long").alias("logit_micro"),
    )
    return scored.withColumn(
        "label", (F.col("logit_micro") > 0).cast("int")
    )


def fixture_hash_weights(
    spark, n_buckets: int = 4096, seed: str = "qc-w"
) -> DataFrame:
    """Deterministic stand-in for a trained weight vector: each bucket's
    weight is a hash-derived integer in [-1000, 1000] micro-units —
    reproducible on any engine (the DuckDB oracle rebuilds it from the
    same md5 arithmetic), so classifier-inference queries are exactly
    checkable without shipping a model artifact."""
    from politicamente_etl_spark.operators.sampling import hash_bucket

    return spark.range(n_buckets).select(
        F.col("id").cast("int").alias("bucket"),
        (hash_bucket(F.col("id"), seed=seed, n_buckets=2001) - F.lit(1000))
        .cast("long")
        .alias("w_micro"),
    )


def bpe_pair_stats(
    df: DataFrame,
    col: str = "text",
    top_k: int = 10,
) -> DataFrame:
    """First-iteration BPE merge statistics (Sennrich et al. 2016): count
    adjacent character pairs inside words, weighted by corpus word
    frequency, and rank the top merge candidates — the counting pass a
    tokenizer-training pipeline runs before each merge (iterating the
    merges mutates a global symbol table and belongs to a driver loop
    over THIS operator; the per-iteration cost is what must scale).

    Overlapping occurrences all count ('aaa' contributes (a,a) twice per
    occurrence), matching the reference BPE counting step.

    Scale shape: word frequencies first (one groupBy over the token
    explode — the only corpus-sized shuffle), then pairs explode off the
    DISTINCT-WORD table (vocabulary-sized, orders of magnitude smaller
    than the corpus: pair counting is |vocab| * avg_word_len work, not
    |corpus|), one pair aggregate, TakeOrdered top-k."""
    words = (
        df.select(F.explode(tokens(col)).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wf"))
    )
    pairs = words.select(
        "wf",
        F.explode(
            F.expr(
                "transform(sequence(1, length(w) - 1),"
                " i -> substring(w, i, 2))"
            )
        ).alias("pair"),
    ).filter(F.length("pair") == 2)
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wf").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_vocab_positions"),
        )
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(top_k)
    )


def source_unigram_kl(
    df: DataFrame,
    group_col: str = "source",
    col: str = "text",
) -> DataFrame:
    """Distribution drift per group: the KL divergence numerator of each
    group's unigram distribution against the whole-corpus distribution,
    KL(p_g || p) = sum_w p_g(w) * ln(p_g(w) / p(w)) — the standard
    domain-shift score (a source whose language diverges from the mix
    gets a large KL; the signal behind DSIR-style importance weighting
    and mixture rebalancing).

    Emitted as exact integers: kl_micro_tokens = sum_w c_gw *
    (ln_micro(c_gw/N_g) - ln_micro(c_w/N)) — micro-nat-snapped logs
    (round(ln(p)*1e6), the idiom unigram_logprob_scores proved
    engine-exact) times integer counts, so the cross-term sum is
    order-independent; divide by n_tokens at read time for the per-token
    rate. Rounding makes tiny negative totals possible for a group whose
    distribution ~equals the corpus; exact zero is not guaranteed, ~0
    is the 'no drift' reading.

    Scale shape: two token-explode aggregates (group-term counts — THE
    corpus shuffle — and term totals), one vocabulary-sized equi-join on
    term, tiny broadcast of per-group totals; no global sort."""
    toks = df.select(F.col(group_col).alias("g"), F.explode(tokens(col)).alias("term"))
    cgw = toks.groupBy("g", "term").agg(F.count("*").alias("c_gw"))
    ng = toks.groupBy("g").agg(F.count("*").alias("n_g"))
    cw = cgw.groupBy("term").agg(F.sum("c_gw").alias("c_w"))
    n = toks.agg(F.count("*").alias("n_tot"))

    def ln_micro(num, den):
        return F.round(
            F.log(num.cast("double") / den.cast("double")) * F.lit(1e6), 0
        ).cast("long")

    terms = (
        cgw.join(cw, "term")
        .join(F.broadcast(ng), "g")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "contrib",
            F.col("c_gw")
            * (
                ln_micro(F.col("c_gw"), F.col("n_g"))
                - ln_micro(F.col("c_w"), F.col("n_tot"))
            ),
        )
    )
    return terms.groupBy(F.col("g").alias(group_col)).agg(
        F.sum("c_gw").cast("long").alias("n_tokens"),
        F.countDistinct("term").cast("long").alias("n_terms"),
        F.sum("contrib").cast("long").alias("kl_micro_tokens"),
    )


def apply_bpe_merge_and_recount(
    df: DataFrame,
    merge_a: str,
    merge_b: str,
    col: str = "text",
    top_k: int = 10,
) -> DataFrame:
    """One full BPE training iteration step: APPLY a given merge
    (merge_a, merge_b) -> merge_a||merge_b to the vocabulary with
    leftmost-greedy semantics, then recount adjacent SYMBOL pairs over
    the merged segmentations — the operator a tokenizer-training driver
    loop calls once per merge (the pair to merge comes from the
    previous round's bpe_pair_stats / this function's output).

    The apply step is ONE sequential `aggregate` fold per word over its
    characters, with the segmentation carried as a space-joined symbol
    string: append the char to the last symbol when (last==a AND
    char==b), else start a new symbol. Leftmost-greedy falls out of the
    left fold ('aaa' under (a,a) -> ['aa','a']), and DuckDB's
    list_reduce implements the identical fold for the oracle, so the
    segmentation itself is engine-exact. Pairs are emitted as
    'left+right' over merged symbols.

    Scale shape: identical to bpe_pair_stats — corpus-sized work is the
    word-frequency aggregate; fold + pair explode ride the vocabulary.
    (Symbols are assumed space-free: BPE operates on words produced by
    whitespace tokenization, so ' ' is a safe segment separator.)"""
    words = (
        df.select(F.explode(tokens(col)).alias("w"))
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count("*").alias("wf"))
    )
    a, b = merge_a, merge_b
    seg = (
        "aggregate(transform(sequence(1, length(w)), i -> substring(w, i, 1)),"
        " CAST('' AS STRING),"
        " (acc, x) -> CASE WHEN acc = '' THEN x"
        f" WHEN (acc = '{a}' OR endswith(acc, ' {a}')) AND x = '{b}'"
        " THEN concat(acc, x)"
        " ELSE concat(acc, ' ', x) END)"
    )
    merged = words.select("wf", F.split(F.expr(seg), " ").alias("syms"))
    # IF-guard: sequence(1, 0) is DESCENDING in Spark, so an unguarded
    # transform would emit bogus 0-index pairs for single-symbol words;
    # an empty array explodes to no rows instead.
    pairs = merged.select(
        "wf",
        F.explode(
            F.expr(
                "IF(size(syms) < 2, CAST(array() AS array<string>),"
                " transform(sequence(1, size(syms) - 1),"
                " i -> concat(element_at(syms, i), '+',"
                " element_at(syms, i + 1))))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.sum("wf").cast("long").alias("n_occurrences"),
            F.count("*").cast("long").alias("n_vocab_positions"),
        )
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(top_k)
    )


def _viterbi_dp_frame(
    df: DataFrame,
    col: str = "text",
    max_piece_len: int = 4,
    vocab_top: int = 200,
) -> DataFrame:
    """Shared forward pass of the unigram-LM Viterbi family: returns one
    row per vocabulary word with (w, wf, edges, dp) where edges is the
    scored candidate list and dp the exact DP table (see
    `unigram_viterbi_segmentation` for the model and scale notes).
    """
    words = (
        df.select(F.explode(tokens(col)).alias("w"))
        .filter(F.length("w") >= 1)
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("wf"))
        # words feeds BOTH the piece-count path and the edge path, and
        # Catalyst does not CSE repeated subplans — checkpoint the
        # vocabulary-sized table so the corpus explode+groupBy runs once.
        .localCheckpoint(eager=False)
    )
    # all substrings (start i, len k) of every word, weighted by word freq
    subs = words.select(
        "w",
        "wf",
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, least({max_piece_len}, length(w))),"
                " k -> transform(sequence(1, length(w) - k + 1),"
                " i -> struct(i AS i, k AS k, substring(w, i, k) AS p))))"
            )
        ).alias("s"),
    ).select("w", "wf", "s.i", "s.k", "s.p")
    pc = subs.groupBy("p").agg(F.sum("wf").cast("long").alias("cnt"))
    top = pc.orderBy(F.col("cnt").desc(), "p").limit(vocab_top)
    vocab = top.unionByName(pc.filter(F.length("p") == 1)).distinct()
    tot = vocab.agg(F.sum("cnt").alias("t"))
    pieces = vocab.crossJoin(F.broadcast(tot)).select(
        "p",
        F.round(
            F.log(F.col("cnt").cast("double") / F.col("t").cast("double"))
            * F.lit(1e6),
            0,
        )
        .cast("long")
        .alias("sc"),
    )
    # candidate edges: (end position, piece length, score) per word —
    # bounded piece table broadcasts onto the distinct-word substring list
    edges = (
        subs.join(F.broadcast(pieces), "p")
        .select("w", "wf", (F.col("i") + F.col("k") - 1).alias("e"), "k", "sc")
        .groupBy("w", "wf")
        .agg(F.collect_list(F.struct("e", "k", "sc")).alias("edges"))
    )
    dp = edges.withColumn(
        "dp",
        F.expr(
            "aggregate(sequence(1, length(w)),"
            " array(struct(CAST(0 AS BIGINT) AS sc, CAST(0 AS BIGINT) AS np)),"
            " (acc, pos) -> concat(acc, array("
            "   aggregate(filter(edges, e -> e.e = pos),"
            "     struct(CAST(-922337203685477580 AS BIGINT) AS sc,"
            "            CAST(922337203685477580 AS BIGINT) AS np),"
            "     (b, e) -> IF("
            "       element_at(acc, pos - e.k + 1).sc + e.sc > b.sc"
            "       OR (element_at(acc, pos - e.k + 1).sc + e.sc = b.sc"
            "           AND element_at(acc, pos - e.k + 1).np + 1 < b.np),"
            "       struct(element_at(acc, pos - e.k + 1).sc + e.sc AS sc,"
            "              element_at(acc, pos - e.k + 1).np + 1 AS np),"
            "       b)))))"
        ),
    )
    return dp


def unigram_viterbi_segmentation(
    df: DataFrame,
    col: str = "text",
    max_piece_len: int = 4,
    vocab_top: int = 200,
) -> DataFrame:
    """Unigram-LM tokenizer segmentation (Kudo 2018, the SentencePiece
    model family — the other half of the tokenizer world next to BPE's
    `bpe_pair_stats`/`apply_bpe_merge_and_recount`): score every
    character n-gram piece (length 1..max_piece_len) by its corpus
    log-probability, then Viterbi-segment each vocabulary word into the
    maximum-likelihood piece sequence via exact dynamic programming.
    This is the E-step of SentencePiece's EM loop; iterating it with
    vocab pruning is a driver loop over THIS operator, and the
    per-iteration cost is what must scale.

    Per word: dp[i] = best (score, n_pieces) over all pieces ending at
    character i, dp[0] = (0, 0) — a sequential fold over positions with
    an inner argmax over candidate edges (Spark `aggregate` with a
    nested `aggregate`; outer lambda variables captured in the inner).
    Piece scores are micro-nat-snapped integer log-probs
    (round(ln(cnt/total)*1e6), the engine-exact idiom of
    `unigram_logprob_scores`), so dp sums are exact integer arithmetic
    and the max-likelihood VALUE is engine-deterministic: ties between
    segmentations with equal (score, n_pieces) yield the same emitted
    tuple whichever path an engine prefers.

    Vocabulary: top `vocab_top` pieces by (count desc, piece) plus ALL
    single characters (so every word has a feasible segmentation).

    Scale shape: the corpus-sized work is one token explode + groupBy
    (word frequencies); everything after runs on the DISTINCT-WORD
    table (|vocab| rows, orders of magnitude smaller than the corpus).
    The piece table is bounded by construction (vocab_top + alphabet),
    so its join onto word substrings broadcasts. The DP is a per-row
    expression — no shuffle, no Python.

    Returns (w, wf, n_chars, n_pieces, total_cost_micro) where
    total_cost_micro = -sum of piece log-probs in micro-nats (lower is
    a more probable segmentation).
    """
    dp = _viterbi_dp_frame(df, col, max_piece_len, vocab_top)
    return dp.select(
        "w",
        "wf",
        F.length("w").cast("long").alias("n_chars"),
        F.expr("element_at(dp, length(w) + 1).np").cast("long").alias("n_pieces"),
        (-F.expr("element_at(dp, length(w) + 1).sc")).cast("long").alias(
            "total_cost_micro"
        ),
    )


def unigram_viterbi_mstep_counts(
    df: DataFrame,
    col: str = "text",
    max_piece_len: int = 4,
    vocab_top: int = 200,
) -> DataFrame:
    """Viterbi-EM M-step piece statistics (Kudo 2018 §3.2, hard-EM
    variant): reconstruct each word's max-likelihood segmentation from
    the DP table and count piece usage corpus-wide — the table the next
    EM iteration renormalizes piece probabilities from, and the loss
    signal vocab pruning keys off (a piece with near-zero expected
    count is pruned).

    Path reconstruction is deterministic: among edges achieving the
    optimal (score, n_pieces) at a position, the LONGEST piece is taken
    (max k). Two per-row folds, both pure expressions: `bestk[pos]`
    materializes that choice for every position from the static DP
    table, then a backtrack walk jumps pos -> pos - bestk[pos]
    accumulating pieces into a space-joined string (the same string-
    accumulator idiom as the BPE merge fold).

    Scale shape: identical to the forward pass — everything after the
    word-frequency aggregate runs on the distinct-word table; the final
    rollup shuffles |pieces in use| partial counts.

    Returns (piece, n_words, n_uses_weighted): distinct words whose
    segmentation uses the piece, and corpus occurrences (weighted by
    word frequency, counting multiplicity within a word).
    """
    dp = _viterbi_dp_frame(df, col, max_piece_len, vocab_top)
    bk = dp.withColumn(
        "bestk",
        F.expr(
            "transform(sequence(1, length(w)), pos ->"
            " aggregate(filter(edges, e -> e.e = pos"
            "   AND element_at(dp, pos - e.k + 1).sc + e.sc"
            "       = element_at(dp, pos + 1).sc"
            "   AND element_at(dp, pos - e.k + 1).np + 1"
            "       = element_at(dp, pos + 1).np),"
            "  0, (b, e) -> IF(e.k > b, CAST(e.k AS INT), b)))"
        ),
    )
    walked = bk.withColumn(
        "pieces",
        F.expr(
            "aggregate(sequence(1, length(w)),"
            " struct(length(w) AS pos, CAST('' AS STRING) AS pcs),"
            " (st, x) -> IF(st.pos <= 0, st,"
            "   struct(st.pos - element_at(bestk, st.pos) AS pos,"
            "          concat(st.pcs, ' ',"
            "            substring(w, st.pos - element_at(bestk, st.pos) + 1,"
            "                      element_at(bestk, st.pos))) AS pcs)),"
            " st -> split(trim(st.pcs), ' '))"
        ),
    )
    return (
        walked.select("w", "wf", F.explode("pieces").alias("piece"))
        .groupBy("piece")
        .agg(
            F.countDistinct("w").cast("long").alias("n_words"),
            F.sum("wf").cast("long").alias("n_uses_weighted"),
        )
    )


def wordpiece_greedy_segmentation(
    df: DataFrame,
    col: str = "text",
    max_piece_len: int = 4,
    vocab_top: int = 200,
) -> DataFrame:
    """WordPiece-style greedy longest-match-first segmentation — the
    third tokenizer family next to BPE (`bpe_pair_stats`) and the
    unigram-LM Viterbi (`unigram_viterbi_segmentation`), sharing the
    SAME substring vocabulary and scored-edge frame
    (`_viterbi_dp_frame`): at each cursor position consume the LONGEST
    vocabulary piece that starts there (BERT's tokenizer matching rule,
    Wu et al. 2016, minus the ## continuation marker — our pieces are
    position-independent n-grams). Always feasible because every single
    character is in the vocabulary, so the cursor advances ≥1 per step.

    The greedy walk is one sequential `aggregate` fold per word over
    character positions; the inner argmax-by-length runs as a nested
    `aggregate` whose FINISH lambda captures the outer accumulator to
    emit the advanced cursor — no shuffle, no Python, same scale shape
    as the Viterbi frame (corpus work = one token explode + groupBy;
    everything else on the distinct-word table with a broadcast piece
    join).

    total_cost_micro uses the same micro-nat piece scores as the
    Viterbi DP, so greedy-vs-optimal excess cost is directly
    comparable (greedy ≥ optimal; asserted in tests).

    Returns (w, wf, n_chars, n_pieces, total_cost_micro).
    """
    dp = _viterbi_dp_frame(df, col, max_piece_len, vocab_top)
    greedy = F.expr(
        "aggregate(sequence(1, length(w)),"
        " named_struct('cur', CAST(1 AS BIGINT), 'np', CAST(0 AS BIGINT),"
        "              'cost', CAST(0 AS BIGINT)),"
        " (acc, pos) -> IF(CAST(pos AS BIGINT) != acc.cur, acc,"
        "   aggregate(filter(edges, e -> e.e - e.k + 1 = pos),"
        "     named_struct('k', CAST(0 AS BIGINT), 'sc', CAST(0 AS BIGINT)),"
        "     (b, e) -> IF(CAST(e.k AS BIGINT) > b.k,"
        "       named_struct('k', CAST(e.k AS BIGINT), 'sc', e.sc), b),"
        "     best -> named_struct('cur', acc.cur + best.k,"
        "       'np', acc.np + 1L, 'cost', acc.cost - best.sc))))"
    )
    return dp.select(
        "w",
        "wf",
        F.length("w").cast("long").alias("n_chars"),
        greedy.alias("__g"),
    ).select(
        "w",
        "wf",
        "n_chars",
        F.col("__g.np").alias("n_pieces"),
        F.col("__g.cost").alias("total_cost_micro"),
    )
