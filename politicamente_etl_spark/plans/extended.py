"""Extended-surface queries (SURVEY.md §2.10): text analysis, dedup,
similarity search, JSON/eventstream analytics. Registered into the same
CATALOG as the reference surface.

Oracle-parity notes baked into each pair:
- md5 is the cross-engine hash (identical hex on Spark and DuckDB) — used
  for fingerprints, exact-dedup keys, and minhash permutations.
- Array lambdas: Spark `aggregate`'s left fold with 0.0 init equals
  DuckDB `list_reduce`'s first-element init exactly under IEEE doubles.
- Shingle indexing: Spark arrays are 0-based (element_at 1-based), DuckDB
  lists 1-based — both sides generate identical n-gram strings.
- Timestamps: events carries ns parquet; both sides reduce through exact
  integer truncation (unix_millis vs epoch_ms) before comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from politicamente_etl_spark.functions.scalar import money_sum, sql_money_sum
from politicamente_etl_spark.operators import core, dedup, sampling, sim, text


def _register():
    # Local import to avoid a circular import at module load: catalog.py
    # imports this module at its tail, after CATALOG/register exist.
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    # -- text analysis ------------------------------------------------------

    @register(
        "text_stats",
        sql="""
        SELECT doc_id,
               CAST(length(text) AS BIGINT) AS n_chars_calc,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               (CAST(length(text) AS DOUBLE)
                - CAST(len(string_split(text, ' ')) - 1 AS DOUBLE))
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS avg_token_len,
               CAST(len(list_filter(string_split(text, ' '),
                                    t -> t = 'the' OR t = 'a')) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS stopword_ratio
        FROM documents
        """,
        # bench headline slot ceded to txlog_merge_report in r5 (VERDICT
        # r4 #8): this query is saturated (0 B shuffle, ~0.24 s) and no
        # longer differentiates; the lakehouse layer was unbenched.
        tags=("ext-text",),
    )
    def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Quality-scoring features over documents — char/token counts,
        mean token length, stopword ratio; all codegen'd expressions."""
        docs = T(spark, sf_dir, "documents")
        return text.with_text_stats(docs).select(
            "doc_id", "n_chars_calc", "n_tokens", "avg_token_len", "stopword_ratio"
        )

    @register(
        "token_count_regex",
        sql=r"""
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                    '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS BIGINT) AS n_bpe_tokens
        FROM documents
        """,
        tags=("ext-text",),
    )
    def q_token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
        """BPE-ish pretokenizer count (letter runs / digit runs / symbols);
        ASCII classes behave identically under Java regex and RE2."""
        docs = T(spark, sf_dir, "documents")
        return text.with_token_count_regex(docs).select("doc_id", "n_bpe_tokens")

    @register(
        "lang_id_heuristic",
        sql="""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('the', 'a'))) AS BIGINT) AS score_en,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('row', 'column'))) AS BIGINT) AS score_es,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t IN ('data', 'table'))) AS BIGINT) AS score_pt
            FROM documents
        )
        SELECT doc_id, lang, score_en, score_es, score_pt,
               CASE WHEN score_en >= score_es AND score_en >= score_pt THEN 'en'
                    WHEN score_es >= score_pt THEN 'es'
                    ELSE 'pt' END AS pred_lang
        FROM scored
        """,
        tags=("ext-text",),
    )
    def q_lang_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Marker-token language-ID with deterministic alphabetical
        tie-break (operator shape demo — the synthetic corpus shares one
        vocabulary)."""
        docs = T(spark, sf_dir, "documents")
        return text.with_lang_id(docs).select(
            "doc_id", "lang", "score_en", "score_es", "score_pt", "pred_lang"
        )

    @register(
        "doc_fingerprint",
        sql="""
        SELECT doc_id, md5(lower(trim(text))) AS fingerprint
        FROM documents
        """,
        tags=("ext-text", "ext-dedup"),
    )
    def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Content fingerprint: md5 over normalized text."""
        docs = T(spark, sf_dir, "documents")
        return text.with_fingerprint(docs).select("doc_id", "fingerprint")

    @register(
        "winnowing_fingerprints",
        sql="""
        WITH g AS (
            -- RE2 has no lookahead; the k-gram scan is a substring
            -- comprehension here, the regex-lookahead form on Spark
            SELECT doc_id,
                   [CAST(('0x' || substring(md5(substring(text, i, 8)), 1, 15))
                         AS BIGINT)
                    for i in range(1, length(text) - 6)] AS hs
            FROM documents
        ), wins AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= 4 THEN
                       list_distinct([list_min(hs[i:i+3])
                                      for i in range(1, len(hs) - 2)])
                   ELSE [] END AS fps
            FROM g
        )
        SELECT doc_id, unnest(fps) AS fp FROM wins
        """,
        tags=("ext-text", "ext-dedup"),
    )
    def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MOSS-style winnowing fingerprints (char 8-grams, window 4):
        substring-level dedup signals, not just whole-doc digests. One
        narrow projection per doc; md5-prefix hashing keeps both engines
        bit-identical."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return text.winnowing_fingerprints(docs, k=8, w=4)

    @register(
        "winnowing_overlap_pairs",
        sql="""
        WITH g AS (
            SELECT doc_id,
                   [CAST(('0x' || substring(md5(substring(text, i, 8)), 1, 15))
                         AS BIGINT)
                    for i in range(1, length(text) - 6)] AS hs
            FROM documents
        ), wins AS (
            SELECT doc_id,
                   CASE WHEN len(hs) >= 4 THEN
                       list_distinct([list_min(hs[i:i+3])
                                      for i in range(1, len(hs) - 2)])
                   ELSE [] END AS fps
            FROM g
        ), fp AS (
            SELECT doc_id, len(fps) AS n_fp, unnest(fps) AS fp FROM wins
        )
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               COUNT(*) AS n_common,
               CAST(COUNT(*) AS DOUBLE)
                   / CAST(least(a.n_fp, b.n_fp) AS DOUBLE) AS overlap
        FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, a.n_fp, b.doc_id, b.n_fp
        HAVING COUNT(*) >= 5
        """,
        tags=("ext-text", "ext-dedup"),
    )
    def q_winnowing_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Substring-overlap near-dup pairs: docs meet on shared winnowing
        fingerprints (inverted index, bigint keys), counted and
        thresholded — catches copied passages that token-set measures
        dilute."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return text.winnowing_overlap_pairs(docs, min_common=5)

    @register(
        "top_terms",
        sql="""
        WITH toks AS (
            SELECT unnest(string_split(text, ' ')) AS term FROM documents
        ), counts AS (
            SELECT term, COUNT(*) AS n FROM toks GROUP BY term
        )
        SELECT term, n,
               CAST(row_number() OVER (ORDER BY n DESC, term) AS INT) AS rnk
        FROM counts
        QUALIFY rnk <= 50
        """,
        tags=("ext-text",),
    )
    def q_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Vocabulary extraction: explode tokens → count → global top-50
        with a deterministic tiebreak. The count aggregates map-side before
        the shuffle, and the global top-k is a TakeOrdered, not a full
        sort — the shape that survives a trillion-token corpus."""
        docs = T(spark, sf_dir, "documents")
        counts = (
            docs.select(F.explode(text.tokens("text")).alias("term"))
            .groupBy("term")
            .agg(F.count("*").alias("n"))
        )
        w = Window.orderBy(F.col("n").desc(), "term")
        return (
            counts.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= 50)
        )

    @register(
        "repetition_ratio",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT doc_id,
                   [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                    for i in range(1, len(toks) - 1)] AS shingles
            FROM t
        )
        SELECT doc_id,
               CAST(len(shingles) AS BIGINT) AS n_shingles,
               CAST(len(list_distinct(shingles)) AS BIGINT) AS n_distinct,
               CASE WHEN len(shingles) = 0 THEN 0.0
                    ELSE 1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
                               / CAST(len(shingles) AS DOUBLE) END
                   AS repetition_ratio
        FROM sh
        """,
        tags=("ext-text", "ext-dedup"),
    )
    def q_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Boilerplate/repetition filter (C4-style): fraction of repeated
        3-gram shingles within each document — high ratio flags templated
        or looping text. Narrow per-row array math, no shuffle at all."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        sh = docs.withColumn("shs", text.shingles_regex("text"))
        n = F.size("shs").cast("long")
        nd = F.size(F.array_distinct(F.col("shs"))).cast("long")
        return sh.select(
            "doc_id",
            n.alias("n_shingles"),
            nd.alias("n_distinct"),
            F.when(n == 0, F.lit(0.0))
            .otherwise(1.0 - nd.cast("double") / n.cast("double"))
            .alias("repetition_ratio"),
        )

    @register(
        "tfidf_top_terms",
        sql="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), tf AS (
            SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2
        ), wdf AS (
            SELECT doc_id, term, tf,
                   COUNT(*) OVER (PARTITION BY term) AS df
            FROM tf
        ), n AS (
            SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
        ), scored AS (
            SELECT doc_id, term, tf, df,
                   round(CAST(tf AS DOUBLE)
                         * ln(CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE)),
                         4) AS tfidf
            FROM wdf, n
        )
        SELECT doc_id, term, tf, df, tfidf,
               CAST(row_number() OVER (PARTITION BY doc_id
                    ORDER BY tfidf DESC, term) AS INT) AS rnk
        FROM scored
        QUALIFY rnk <= 5
        """,
        tags=("ext-text",),
    )
    def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-document TF-IDF top-5 terms — keyword extraction over the
        corpus. Scores are snapped to 4 decimals before ranking because
        ln() differs between engines in the last ulp."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return text.tfidf_top_terms(docs, k=5)

    # -- dedup --------------------------------------------------------------

    @register(
        "exact_dedup_docs",
        sql="""
        SELECT md5(text) AS text_hash,
               MIN(doc_id) AS doc_id,
               COUNT(*) AS n_copies
        FROM documents GROUP BY md5(text)
        """,
        # bench slot ceded to bucketed_colocated_join (round 7, VERDICT
        # r6 item 6 pattern): saturated at 0.18 s since r1; the bucketed
        # join covers the storage-layout layer the headline set lacked
        tags=("ext-dedup",),
    )
    def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact dedup on a content digest — the shuffle carries 16-byte
        hashes, not document bodies (the 100 TB-safe shape)."""
        return dedup.exact_dedup(T(spark, sf_dir, "documents"))

    _MH_SQL_SHINGLES = """
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT doc_id,
                   [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                    for i in range(1, len(toks) - 1)] AS shingles
            FROM t
        )
    """
    _mh_cols = ",\n".join(
        "               list_min(list_transform(shingles,"
        f" x -> md5(concat_ws(':', '{i}', x)))) AS mh_{i}"
        for i in range(dedup.N_MINHASH)
    )

    @register(
        "minhash_signatures",
        sql=_MH_SQL_SHINGLES
        + f"""
        SELECT doc_id,
{_mh_cols}
        FROM sh
        """,
        tags=("ext-dedup",),
    )
    def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MinHash signatures (8 md5-keyed permutations over 3-gram token
        shingles) — per-row expressions, no explode, engine-portable hash."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return dedup.with_minhash_signature(docs).drop("text")

    _bands = dedup.N_MINHASH // dedup.BAND_SIZE
    _band_defs = ",\n".join(
        f"               md5(concat_ws('|', mh_{b * dedup.BAND_SIZE},"
        f" mh_{b * dedup.BAND_SIZE + 1})) AS band_{b}"
        for b in range(_bands)
    )
    _band_joins = "\n            UNION ALL\n".join(
        f"""            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   {' + '.join(f'CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END' for i in range(dedup.N_MINHASH))} AS n_agree
            FROM sig a JOIN sig b
              ON a.band_{b} = b.band_{b} AND a.doc_id < b.doc_id"""
        for b in range(_bands)
    )

    @register(
        "minhash_near_dup_pairs",
        sql=_MH_SQL_SHINGLES
        + f""", mh AS (
            SELECT doc_id,
{_mh_cols}
            FROM sh
        ), sig AS (
            SELECT doc_id,
{_band_defs},
                   mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
            FROM mh
        ), cand AS (
{_band_joins}
        )
        SELECT DISTINCT doc_a, doc_b,
               CAST(n_agree AS DOUBLE) / {float(dedup.N_MINHASH)} AS est_jaccard
        FROM cand
        """,
        bench=True,
        tags=("ext-dedup",),
    )
    def q_minhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """MinHash LSH banding (4 bands × 2 rows): near-dup candidate pairs
        with estimated Jaccard. Pairs only meet inside band buckets — no
        cross join at any scale."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return dedup.minhash_near_dup_pairs(docs)

    @register(
        "ngram_jaccard_pairs",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                           for i in range(1, len(toks) - 1)]) AS sh
            FROM t
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE)
                   / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes na ON inter.doc_a = na.doc_id
        JOIN sizes nb ON inter.doc_b = nb.doc_id
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.4
        """,
        bench=True,
        tags=("ext-dedup",),
    )
    def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact 3-gram Jaccard near-dup pairs via inverted shingle index —
        the oracle-checkable verifier for the LSH estimate."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return dedup.ngram_jaccard_pairs(docs, threshold=0.4)

    @register(
        "jaccard_pairs_prefix_filter",
        # IDENTICAL oracle to ngram_jaccard_pairs: prefix filtering is a
        # lossless candidate pruning, so the brute inverted-index SQL is
        # the ground truth for it too.
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                           for i in range(1, len(toks) - 1)]) AS sh
            FROM t
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               CAST(n_common AS DOUBLE)
                   / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) AS jaccard
        FROM inter
        JOIN sizes na ON inter.doc_a = na.doc_id
        JOIN sizes nb ON inter.doc_b = nb.doc_id
        WHERE CAST(n_common AS DOUBLE)
                  / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.4
        """,
        tags=("ext-dedup",),
    )
    def q_jaccard_pairs_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
        """AllPairs-style prefix-filtered exact Jaccard self-join: the
        inverted index is built over each doc's rarest shingles only, so
        hot-shingle postings (the quadratic blowup of the plain shingle
        join at corpus scale) never generate candidates; true
        intersections are recounted per candidate, making the pruning
        lossless — same output, same oracle, as ngram_jaccard_pairs."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return dedup.jaccard_pairs_prefix_filter(docs, t_num=2, t_den=5)

    _JACCARD_PAIRS_CTES = """
        t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                           for i in range(1, len(toks) - 1)]) AS sh
            FROM t
        ), sizes AS (
            SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
        ), inter AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
            FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        ), pairs AS (
            SELECT doc_a, doc_b
            FROM inter
            JOIN sizes na ON inter.doc_a = na.doc_id
            JOIN sizes nb ON inter.doc_b = nb.doc_id
            WHERE CAST(n_common AS DOUBLE)
                      / CAST(na.n_sh + nb.n_sh - n_common AS DOUBLE) >= 0.4
        )
    """

    @register(
        "near_dup_clusters",
        sql=f"""
        WITH RECURSIVE {_JACCARD_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        )
        SELECT node AS doc_id,
               MIN(label) AS cluster_id,
               CASE WHEN MIN(label) = node THEN 1 ELSE 0 END AS is_canonical
        FROM reach GROUP BY node
        """,
        tags=("ext-dedup",),
    )
    def q_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Near-dup pair graph → connected-component clusters: every doc
        gets the min reachable doc_id as cluster_id and one canonical row
        per cluster — the step that makes pair generation an actual dedup
        decision. Spark side is iterative min-label propagation with a
        convergence early-exit; the oracle is a recursive CTE computing
        the same transitive closure."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.4)
        return dedup.near_dup_clusters(docs, pairs)

    @register(
        "dedup_cluster_report",
        sql=f"""
        WITH RECURSIVE {_JACCARD_PAIRS_CTES},
        edges AS (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ),
        reach(node, label) AS (
            SELECT doc_id, doc_id FROM documents
            UNION
            SELECT e.src, r.label FROM edges e JOIN reach r ON r.node = e.dst
        ),
        clusters AS (
            SELECT node AS doc_id,
                   MIN(label) AS cluster_id,
                   CASE WHEN MIN(label) = node THEN 1 ELSE 0 END AS is_canonical
            FROM reach GROUP BY node
        )
        SELECT cluster_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(length(d.text)) AS BIGINT) AS chars_total,
               CAST(SUM(CASE WHEN is_canonical = 1 THEN length(d.text)
                             ELSE 0 END) AS BIGINT) AS chars_kept,
               CAST(SUM(length(d.text))
                    - SUM(CASE WHEN is_canonical = 1 THEN length(d.text)
                               ELSE 0 END) AS BIGINT) AS chars_dropped
        FROM clusters c JOIN documents d USING (doc_id)
        GROUP BY cluster_id
        HAVING COUNT(*) >= 2
        """,
        tags=("ext-dedup",),
    )
    def q_dedup_cluster_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The dedup decision APPLIED and audited: per multi-doc cluster,
        docs collapsed and characters kept vs dropped — the corpus-
        shrinkage report a training pipeline publishes after a dedup
        pass."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.4)
        clusters = dedup.near_dup_clusters(docs, pairs)
        return dedup.dedup_cluster_report(docs, clusters)

    @register(
        "train_test_contamination",
        sql=f"""
        WITH split_docs AS (
            SELECT doc_id, text,
                   CASE WHEN bucket < 9000 THEN 'train'
                        WHEN bucket < 9500 THEN 'val'
                        ELSE 'test' END AS split
            FROM (
                SELECT doc_id, text,
                       {sampling.sql_hash_bucket('doc_id', seed='split-v1')}
                           AS bucket
                FROM documents
            )
        ), toks AS (
            SELECT doc_id, split, string_split(text, ' ') AS toks
            FROM split_docs WHERE split IN ('train', 'test')
        ), sh AS (
            SELECT DISTINCT doc_id, split,
                   unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                           for i in range(1, len(toks) - 1)]) AS sh
            FROM toks
        ), train_sh AS (
            SELECT DISTINCT sh FROM sh WHERE split = 'train'
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN train_sh.sh IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contaminated,
               CAST(SUM(CASE WHEN train_sh.sh IS NOT NULL THEN 1 ELSE 0 END)
                    AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS contamination
        FROM (SELECT doc_id, sh FROM sh WHERE split = 'test') t
        LEFT JOIN train_sh ON t.sh = train_sh.sh
        GROUP BY t.doc_id
        """,
        tags=("ext-dedup", "ext-sampling"),
    )
    def q_train_test_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Eval decontamination: per TEST document, the fraction of its
        distinct token shingles that also occur anywhere in the TRAIN
        split (hash-split, seed split-v1) — test docs with high overlap
        are leaked into training data. One scan shingles both splits;
        the test side left-joins the distinct train shingle set with a
        hit marker so a single aggregate yields total and contaminated
        counts."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return dedup.cross_split_contamination(
            sampling.with_split(docs, "doc_id", train=0.9, val=0.05)
        )

    @register(
        "chunk_documents",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), c AS (
            SELECT doc_id,
                   unnest([{'chunk_idx': k,
                            'ctoks': toks[k * 96 + 1 : k * 96 + 128]}
                           for k in range(0,
                               1 + (greatest(len(toks) - 128, 0) + 95) // 96)])
                       AS ch
            FROM t
        )
        SELECT doc_id,
               CAST(ch.chunk_idx AS BIGINT) AS chunk_idx,
               CAST(len(ch.ctoks) AS BIGINT) AS n_chunk_tokens,
               array_to_string(ch.ctoks, ' ') AS chunk_text
        FROM c
        """,
        tags=("ext-text", "ext-sampling"),
    )
    def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Context-window chunking: 128-token windows at stride 96 (32
        tokens of overlap), every chunk of every doc oracle-checked
        including the chunk text itself. Narrow expressions + explode —
        no shuffle."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return text.chunk_documents(docs, window=128, stride=96)

    @register(
        "redact_pii_docs",
        sql="""
        WITH seeded AS (
            SELECT doc_id,
                   text || ' contact user' || CAST(doc_id AS VARCHAR)
                        || '@example.com via http://ex.com/d/'
                        || CAST(doc_id AS VARCHAR) AS text
            FROM documents
        )
        SELECT doc_id,
               CAST(len(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
                   AS BIGINT) AS n_emails,
               CAST(len(regexp_extract_all(text, 'https?://[^ ]+'))
                   AS BIGINT) AS n_urls,
               regexp_replace(
                   regexp_replace(text,
                       '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                       '<EMAIL>', 'g'),
                   'https?://[^ ]+', '<URL>', 'g') AS clean_text
        FROM seeded
        """,
        tags=("ext-text",),
    )
    def q_redact_pii_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """PII scrubbing, oracle-checked end-to-end: the corpus carries no
        emails/URLs, so deterministic contact strings are appended per doc
        first — the oracle then verifies the actual redacted text and the
        removal counts, not an identity map."""
        docs = T(spark, sf_dir, "documents").select(
            "doc_id",
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id").cast("string"),
                F.lit("@example.com via http://ex.com/d/"),
                F.col("doc_id").cast("string"),
            ).alias("text"),
        )
        return text.redact_pii(docs).select(
            "doc_id", "n_emails", "n_urls", "clean_text"
        )

    @register(
        "pack_sequences",
        sql=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   CAST({sampling.sql_hash_bucket('doc_id', seed='pack-v1',
                                                  n_buckets=64)} AS BIGINT)
                       AS pack_bucket,
                   CAST(('0x' || substring(md5(concat_ws(':', 'pack-v1',
                            CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
                       AS pack_order
            FROM documents
        )
        SELECT doc_id, n_tokens, pack_bucket,
               CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens,
               pack_bucket * 4294967296
                   + CAST(floor((greatest(SUM(n_tokens) OVER w, 1) - 1)
                                / 8192.0) AS BIGINT) AS pack_id
        FROM d
        WINDOW w AS (PARTITION BY pack_bucket ORDER BY pack_order, doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        """,
        tags=("ext-sampling",),
    )
    def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Greedy sequence packing into 8192-token training sequences:
        deterministic md5-shuffled order, 64 independent bucket streams
        (running sums stay partition-local — no global serialization),
        globally unique pack ids. Every row's pack assignment is
        oracle-checked."""
        from politicamente_etl_spark.operators.text import tokens

        docs = T(spark, sf_dir, "documents").select(
            "doc_id", F.size(tokens("text")).cast("long").alias("n_tokens")
        )
        return sampling.pack_sequences(docs, budget=8192, n_buckets=64).select(
            "doc_id", "n_tokens", "pack_bucket", "cum_tokens", "pack_id"
        )

    # -- sampling / dataset splits ------------------------------------------

    @register(
        "dataset_hash_split",
        sql=f"""
        SELECT doc_id, bucket,
               CASE WHEN bucket < 9000 THEN 'train'
                    WHEN bucket < 9500 THEN 'val'
                    ELSE 'test' END AS split
        FROM (
            SELECT doc_id,
                   {sampling.sql_hash_bucket('doc_id', seed='split-v1')} AS bucket
            FROM documents
        )
        """,
        tags=("ext-sampling",),
    )
    def q_dataset_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Deterministic 90/5/5 train/val/test assignment by salted md5
        bucket — stable under re-runs, appends, and engine moves, unlike
        rand()/DataFrame.sample. Every row's assignment is oracle-checked,
        not just the rates."""
        docs = T(spark, sf_dir, "documents").select("doc_id")
        return sampling.with_split(docs, "doc_id", train=0.9, val=0.05)

    @register(
        "stratified_sample_docs",
        sql=f"""
        SELECT doc_id, lang
        FROM (
            SELECT doc_id, lang,
                   {sampling.sql_hash_bucket('doc_id', seed='strata-v1')} AS bucket,
                   CASE WHEN lang = 'en' THEN 0.25
                        WHEN lang = 'zh' THEN 1.0
                        ELSE 0.6 END AS rate
            FROM documents
        )
        WHERE CAST(bucket AS DOUBLE) < rate * {float(sampling.N_BUCKETS)}
        """,
        tags=("ext-sampling",),
    )
    def q_stratified_sample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-language deterministic downsampling (pretraining-mix
        rebalance: keep 25% of dominant 'en', all of 'zh', 60% elsewhere).
        Pure scan → filter plan; the predicate is codegen'd and
        pushdown-friendly at any scale."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "lang")
        return sampling.stratified_hash_sample(
            docs, {"en": 0.25, "zh": 1.0}, default_rate=0.6
        )

    # -- SimHash ------------------------------------------------------------

    _SH_HASHES = (
        "list_transform(string_split(text, ' '),"
        " tk -> CAST(('0x' || substring(md5(tk), 1, 15)) AS BIGINT))"
    )
    _sh_bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(hs, h -> ((h >> {i}) & 1) = 1))"
        f" >= len(hs) THEN 1 ELSE 0 END) * {1 << i}"
        for i in range(dedup.SIMHASH_BITS)
    )
    _SH_SIG_CTE = f"""
        WITH t AS (
            SELECT doc_id, {_SH_HASHES} AS hs FROM documents
        ), s AS (
            SELECT doc_id, CAST({_sh_bits} AS BIGINT) AS simhash FROM t
        )
    """

    @register(
        "simhash_signatures",
        sql=_SH_SIG_CTE + "SELECT doc_id, simhash FROM s",
        tags=("ext-dedup",),
    )
    def q_simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
        """16-bit SimHash per document: token hashes via md5-prefix→int
        (bit-identical to DuckDB's '0x' cast), majority vote per bit."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return dedup.with_simhash(docs).select("doc_id", "simhash")

    @register(
        "simhash_near_dup_pairs",
        sql=_SH_SIG_CTE
        + """, sig AS (
            SELECT doc_id, simhash,
                   simhash >> 8 AS band_hi, simhash & 255 AS band_lo
            FROM s
        ), cand AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   a.simhash AS sa, b.simhash AS sb
            FROM sig a JOIN sig b
              ON a.band_hi = b.band_hi AND a.doc_id < b.doc_id
            UNION ALL
            SELECT a.doc_id, b.doc_id, a.simhash, b.simhash
            FROM sig a JOIN sig b
              ON a.band_lo = b.band_lo AND a.doc_id < b.doc_id
        )
        SELECT DISTINCT doc_a, doc_b,
               CAST(bit_count(xor(sa, sb)) AS INT) AS hamming
        FROM cand
        WHERE bit_count(xor(sa, sb)) <= 3
        """,
        tags=("ext-dedup",),
    )
    def q_simhash_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """SimHash near-dup pairs: byte-band candidate join + exact Hamming
        filter (≤ 3 of 16 bits)."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        return dedup.simhash_near_dup_pairs(docs)

    @register(
        "ml_minhash_lsh_pairs",
        sql=None,  # pyspark.ml hash families are JVM-seeded → rows-only
        tags=("ext-dedup",),
    )
    def q_ml_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The pyspark.ml route: HashingTF token vectors → MinHashLSH →
        approxSimilarityJoin. Engine-native LSH (JVM hash seeds) — not
        reproducible in DuckDB, so rows-only; the md5-based minhash above is
        the oracle-checked twin."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        # high threshold: the synthetic corpus shares one vocabulary, so
        # token-SET jaccard is high for most pairs; 0.9 keeps near-dups only
        return dedup.ml_minhash_near_dup_pairs(docs, threshold=0.9)

    # -- as-of / range joins ------------------------------------------------

    @register(
        "asof_join_purchases",
        sql="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        ), p AS (
            SELECT user_id, epoch_us(ts) AS pts FROM events
            WHERE event_type = 'purchase'
        )
        SELECT e.user_id, e.event_id, e.ts_us, p.pts AS asof_purchase_us
        FROM e ASOF LEFT JOIN p
          ON e.user_id = p.user_id AND p.pts <= e.ts_us
        """,
        tags=("ext-temporal",),
    )
    def q_asof_join_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
        """As-of join (union+window implementation, operators/temporal.py):
        each event gets the most recent purchase timestamp of its user.
        DuckDB's native ASOF JOIN is the oracle."""
        from politicamente_etl_spark.operators.temporal import asof_join

        ev = load_events(spark, sf_dir).select(
            "user_id", "event_id", F.expr("unix_micros(ts)").alias("ts_us")
        )
        ev_cached = ev  # same scan feeds both sides; Catalyst reuses it
        purchases = (
            load_events(spark, sf_dir)
            .filter(F.col("event_type") == "purchase")
            .select("user_id", F.expr("unix_micros(ts)").alias("pts"))
        )
        out = asof_join(
            ev_cached, purchases, on="user_id", left_ts="ts_us", right_ts="pts",
            right_cols=[],
        )
        return out.select(
            "user_id", "event_id", "ts_us",
            F.col("asof_ts").alias("asof_purchase_us"),
        )

    @register(
        "range_join_value_bands",
        sql="""
        WITH bands AS (
            SELECT CAST(range AS BIGINT) AS band_id,
                   range * 100.0 AS lo, range * 100.0 + 150.0 AS hi
            FROM range(5)
        )
        SELECT band_id, COUNT(*) AS n_events
        FROM events e JOIN bands b ON e.value >= b.lo AND e.value < b.hi
        GROUP BY band_id
        """,
        tags=("ext-temporal",),
    )
    def q_range_join_value_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Range join (value ∈ [lo, hi), overlapping bands) via the
        bucketized equi-join in operators/temporal.py; DuckDB's native
        inequality join is the oracle."""
        from politicamente_etl_spark.operators.temporal import range_join_bucketed

        ev = load_events(spark, sf_dir).select("event_id", "value")
        bands = spark.range(5).select(
            F.col("id").cast("long").alias("band_id"),
            (F.col("id") * 100.0).alias("lo"),
            (F.col("id") * 100.0 + 150.0).alias("hi"),
        )
        joined = range_join_bucketed(ev, bands, "value", "lo", "hi", 50.0)
        return joined.groupBy("band_id").agg(F.count("*").alias("n_events"))

    # -- pivot / rollup / cube ----------------------------------------------

    _EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

    @register(
        "pivot_event_counts",
        sql=f"""
        SELECT user_id,
               {", ".join(f"COUNT(*) FILTER (WHERE event_type = '{t}') AS {t}" for t in _EVENT_TYPES)}
        FROM events GROUP BY user_id
        """,
        tags=("ext-olap",),
    )
    def q_pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Pivot: per-user event counts, one column per event type (explicit
        value list → stable schema; absent combos filled 0 to match COUNT
        FILTER)."""
        ev = load_events(spark, sf_dir)
        return (
            ev.groupBy("user_id")
            .pivot("event_type", list(_EVENT_TYPES))
            .count()
            .na.fill(0)
        )

    @register(
        "rollup_orders",
        sql=f"""
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               {sql_money_sum("o_totalprice", "total_price")}
        FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        tags=("ext-olap",),
    )
    def q_rollup_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ROLLUP: (status, priority) + per-status + grand totals in one
        pass (Spark expands grouping sets with partial aggregation)."""
        from politicamente_etl_spark.functions.scalar import money_sum

        o = T(spark, sf_dir, "orders")
        return o.rollup("o_orderstatus", "o_orderpriority").agg(
            F.count("*").alias("n_orders"),
            money_sum("o_totalprice", "total_price"),
        )

    @register(
        "cube_customer_segments",
        sql="""
        SELECT c_nationkey, c_mktsegment, COUNT(*) AS n_customers
        FROM customer GROUP BY CUBE (c_nationkey, c_mktsegment)
        """,
        tags=("ext-olap",),
    )
    def q_cube_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
        """CUBE over (nation, segment): all 4 grouping sets in one plan."""
        c = T(spark, sf_dir, "customer")
        return c.cube("c_nationkey", "c_mktsegment").agg(
            F.count("*").alias("n_customers")
        )

    @register(
        "profile_orders",
        sql="""
        SELECT COUNT(*) AS n_rows,
               COUNT(DISTINCT o_orderstatus) AS n_statuses,
               COUNT(DISTINCT o_custkey) AS n_customers,
               MIN(o_totalprice) AS min_price,
               MAX(o_totalprice) AS max_price,
               COUNT(*) - COUNT(o_orderpriority) AS null_priorities
        FROM orders
        """,
        tags=("ext-olap",),
    )
    def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Data-profiling pass: row/distinct/null counts and min/max in ONE
        aggregate over one scan (min/max of doubles are exact — no
        summation, so no decimal snap needed)."""
        o = T(spark, sf_dir, "orders")
        return o.agg(
            F.count("*").alias("n_rows"),
            F.countDistinct("o_orderstatus").alias("n_statuses"),
            F.countDistinct("o_custkey").alias("n_customers"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            (F.count("*") - F.count("o_orderpriority")).alias("null_priorities"),
        )

    # -- multimodal ---------------------------------------------------------

    @register(
        "multimodal_features",
        sql="""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
               md5(text) AS content_md5,
               'text/plain' AS media_type
        FROM documents
        """,
        tags=("ext-multimodal",),
    )
    def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Binary media column plumbing: payload bytes → Arrow-batched
        mapInPandas feature pass (size/digest/type). The codec slot is where
        a real image/audio decoder plugs in (operators/multimodal.py)."""
        from politicamente_etl_spark.operators.multimodal import (
            extract_media_features,
            with_binary_payload,
        )

        docs = with_binary_payload(T(spark, sf_dir, "documents"))
        return extract_media_features(docs)

    # -- similarity search --------------------------------------------------

    _DOT_DD = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), (acc, v) -> acc + v)"
    )
    _NORM_DD = (
        "sqrt(list_reduce(list_transform({a},"
        " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (acc, v) -> acc + v))"
    )

    @register(
        "cosine_topk",
        sql=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   {_DOT_DD.format(a='e.embedding', b='q.q_vec')}
                   / ({_NORM_DD.format(a='e.embedding')}
                      * {_NORM_DD.format(a='q.q_vec')}) AS cos_sim
            FROM embeddings e CROSS JOIN q
        )
        SELECT query_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 10
        """,
        bench=True,
        tags=("ext-sim",),
    )
    def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact brute-force cosine top-10 for 5 query vectors against the
        corpus. Sequential-fold double math → bit-identical to DuckDB's
        list_reduce; ties broken by vec_id."""
        # r9 opt: fan the one-split bench scan out before the per-row
        # double-fold cosine against the broadcast query set
        # (single-core otherwise; no-op at production split counts).
        # The queries come from their own scan, not from the spread one:
        # the filter would be pushed below the repartition and give the
        # 5-row broadcast side a shuffle of its own.
        emb = core.spread(T(spark, sf_dir, "embeddings"), "vec_id")
        queries = T(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 5)
        return sim.cosine_topk(emb, queries, k=10)

    @register(
        "embedding_group_centroids",
        sql="""
        SELECT label, i AS pos,
               CAST(SUM(CAST(floor(CAST(embedding[i + 1] AS DOUBLE) * 1e9)
                             AS BIGINT)) AS DOUBLE) / 1e9
                   / COUNT(*) AS centroid_val,
               COUNT(*) AS n_members
        FROM embeddings CROSS JOIN range(0, 64) t(i)
        GROUP BY label, i
        """,
        tags=("ext-sim",),
    )
    def q_embedding_group_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-label mean-pool centroid, one row per (label, dimension).
        Elements are integer-snapped (floor(val·1e9)) before the cross-row
        SUM so the result is order-independent — the discipline any float
        aggregate needs to be reproducible on a shuffled 100 TB corpus.
        (The oracle indexes a fixed 64-dim layout; the Spark side
        posexplodes.)"""
        emb = T(spark, sf_dir, "embeddings")
        return sim.group_centroids(emb)

    # Hyperplane-LSH planes: seeded Python floats, embedded as literals in
    # BOTH the Spark plan and the oracle SQL. str(float) is the shortest
    # round-trip repr and both engines parse decimal literals correctly-
    # rounded, so the two sides see bit-identical planes — which makes even
    # the APPROXIMATE queries fully oracle-checkable (recall < 1 vs the
    # exact query, but deterministic and reproducible in SQL).
    import random as _random

    _rnd = _random.Random(42)
    _TOPK_PLANES = [[_rnd.gauss(0, 1) for _ in range(64)] for _ in range(4)]
    _rnd = _random.Random(7)
    _DUP_PLANES = [[_rnd.gauss(0, 1) for _ in range(64)] for _ in range(3)]

    def _sql_plane_lit(plane):
        return "[" + ", ".join(str(float(x)) for x in plane) + "]"

    def _sql_bucket(vec, planes):
        bits = " || ".join(
            f"(CASE WHEN {_DOT_DD.format(a=vec, b=_sql_plane_lit(p))} >= 0"
            " THEN '1' ELSE '0' END)"
            for p in planes
        )
        return f"({bits})"

    @register(
        "cosine_topk_lsh",
        sql=f"""
        WITH sigc AS (
            SELECT vec_id, embedding,
                   {_sql_bucket('embedding', _TOPK_PLANES)} AS bucket,
                   {_NORM_DD.format(a='embedding')} AS nrm
            FROM embeddings
        ), sigq AS (
            SELECT vec_id AS query_id, embedding AS q_vec, bucket,
                   nrm AS q_nrm
            FROM sigc WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, c.vec_id,
                   {_DOT_DD.format(a='c.embedding', b='q.q_vec')}
                       / (c.nrm * q.q_nrm) AS cos_sim
            FROM sigc c JOIN sigq q USING (bucket)
        )
        SELECT query_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 10
        """,
        tags=("ext-sim",),
    )
    def q_cosine_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ANN top-k via random-hyperplane LSH bucketing — the 100 TB path
        (equi-join on bucket, no cross join). Recall < 1 vs cosine_topk,
        but the seeded literal planes make the approximation itself
        deterministic and fully oracle-checked."""
        emb = T(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        return sim.cosine_topk_lsh(emb, queries, _TOPK_PLANES, k=10)

    _D2_DD = (
        "list_reduce(list_transform(list_zip({a}, {b}),"
        " s -> (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))"
        " * (CAST(s[1] AS DOUBLE) - CAST(s[2] AS DOUBLE))), (acc, v) -> acc + v)"
    )

    @register(
        "cosine_topk_ivf",
        sql=f"""
        WITH cent AS (
            SELECT vec_id AS cell,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
            FROM embeddings WHERE vec_id % 125 = 0
        ), ass AS (
            SELECT e.vec_id, e.embedding, c.cell,
                   row_number() OVER (PARTITION BY e.vec_id ORDER BY
                       {_D2_DD.format(a='e.embedding', b='c.centroid')},
                       c.cell) AS rn
            FROM embeddings e CROSS JOIN cent c
        ), assigned AS (
            SELECT vec_id, embedding, cell FROM ass WHERE rn = 1
        ), q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5
        ), pr AS (
            SELECT q.query_id, q.q_vec, c.cell,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                       {_D2_DD.format(a='q.q_vec', b='c.centroid')},
                       c.cell) AS rn
            FROM q CROSS JOIN cent c
        ), probed AS (
            SELECT query_id, q_vec, cell FROM pr WHERE rn <= 3
        ), scored AS (
            SELECT p.query_id, a.vec_id,
                   {_DOT_DD.format(a='a.embedding', b='p.q_vec')}
                       / ({_NORM_DD.format(a='a.embedding')}
                          * {_NORM_DD.format(a='p.q_vec')}) AS cos_sim
            FROM assigned a JOIN probed p USING (cell)
        )
        SELECT query_id, vec_id, cos_sim,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 10
        """,
        tags=("ext-sim",),
    )
    def q_cosine_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF-Flat ANN: coarse-quantizer cells + n_probe nearest-cell
        search — the second at-scale ANN family next to the hyperplane
        LSH. The quantizer is a deterministic hash-sample of the corpus
        (every 125th vec_id), so the whole approximate query — assign,
        probe, score — is oracle-checked; the distance folds are
        bit-identical across engines. Exact verifier: cosine_topk.
        (sim.cosine_topk_ivf also offers the pyspark.ml KMeans quantizer;
        its seed is engine-internal, which is why the registered query
        uses the sampled one.)"""
        emb = T(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        cent = emb.filter(F.col("vec_id") % 125 == 0).select(
            F.col("vec_id").alias("cell"),
            F.col("embedding").cast("array<double>").alias("centroid"),
        )
        return sim.cosine_topk_ivf(emb, queries, k=10, n_probe=3, centroids=cent)

    @register(
        "embedding_cosine_near_dup",
        sql=f"""
        WITH n AS (
            SELECT vec_id, embedding,
                   {_NORM_DD.format(a='embedding')} AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_DOT_DD.format(a='a.embedding', b='b.embedding')}
                   / (a.nrm * b.nrm) AS cos_sim
        FROM n a JOIN n b ON a.vec_id < b.vec_id
        WHERE {_DOT_DD.format(a='a.embedding', b='b.embedding')}
                  / (a.nrm * b.nrm) >= 0.45
        """,
        tags=("ext-dedup", "ext-sim"),
    )
    def q_embedding_cosine_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact embedding-cosine near-dup pairs (cos >= 0.45). Norms fold
        once per row pre-join; identical sequential double math on both
        engines makes the threshold cut bit-exact."""
        emb = T(spark, sf_dir, "embeddings")
        return sim.cosine_near_dup_pairs(emb, threshold=0.45)

    @register(
        "embedding_cosine_near_dup_lsh",
        sql=f"""
        WITH sig AS (
            SELECT vec_id, embedding,
                   {_sql_bucket('embedding', _DUP_PLANES)} AS bucket,
                   {_NORM_DD.format(a='embedding')} AS nrm
            FROM embeddings
        )
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
               {_DOT_DD.format(a='a.embedding', b='b.embedding')}
                   / (a.nrm * b.nrm) AS cos_sim
        FROM sig a JOIN sig b
          ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        WHERE {_DOT_DD.format(a='a.embedding', b='b.embedding')}
                  / (a.nrm * b.nrm) >= 0.45
        """,
        tags=("ext-dedup", "ext-sim"),
    )
    def q_embedding_cosine_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The 100 TB shape of embedding near-dup: hyperplane-bucket
        equi-join for candidates, exact cosine filter after. Recall < 1 vs
        embedding_cosine_near_dup, but seeded literal planes make the
        bucketing reproducible in SQL → full oracle check."""
        emb = T(spark, sf_dir, "embeddings")
        return sim.cosine_near_dup_pairs_lsh(emb, _DUP_PLANES, threshold=0.45)

    # -- events / JSON / windows -------------------------------------------

    @register(
        "retention_cohorts",
        sql="""
        WITH d AS (
            SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        ), c AS (
            SELECT user_id, day,
                   MIN(day) OVER (PARTITION BY user_id) AS cohort_day
            FROM d
        )
        SELECT cohort_day, day - cohort_day AS offset_days,
               COUNT(DISTINCT user_id) AS n_users
        FROM c
        GROUP BY 1, 2
        """,
        tags=("ext-events",),
    )
    def q_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Retention-cohort triangle: users bucketed by first-seen day
        (a window MIN per user — one shuffle on user_id, no self-join),
        counted per (cohort, day-offset). Day bucketing is exact integer
        epoch math (µs div 86400e6) — no DATE columns, no TZ sensitivity."""
        ev = load_events(spark, sf_dir).select(
            "user_id", F.expr("unix_micros(ts) div 86400000000").alias("day")
        )
        w = Window.partitionBy("user_id")
        c = ev.withColumn("cohort_day", F.min("day").over(w))
        return (
            c.groupBy(
                "cohort_day", (F.col("day") - F.col("cohort_day")).alias("offset_days")
            )
            .agg(F.count_distinct("user_id").alias("n_users"))
        )

    @register(
        "json_props_extract",
        sql=f"""
        SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
               COUNT(*) AS n_events,
               {sql_money_sum("value", "total_value")}
        FROM events
        GROUP BY 1
        """,
        tags=("ext-json",),
    )
    def q_json_props_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
        """JSON prop extraction (`get_json_object`) + rollup over events."""
        ev = load_events(spark, sf_dir)
        return (
            ev.withColumn(
                "k_value", F.get_json_object("props", "$.k").cast("long")
            )
            .groupBy("k_value")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(27,4)"))
                .cast("double")
                .alias("total_value"),
            )
        )

    @register(
        "json_props_map_explode",
        sql="""
        WITH kv AS (
            SELECT unnest(json_keys(props)) AS prop_key, props FROM events
        )
        SELECT prop_key,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(json_extract_string(props,
                        '$."' || prop_key || '"') AS BIGINT)) AS BIGINT)
                   AS total_value
        FROM kv GROUP BY 1
        """,
        tags=("ext-json",),
    )
    def q_json_props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
        """from_json → MapType → explode: schema-free key/value prop
        analytics (the complement of the typed-path get_json_object query).
        The map explode is a Generate — narrow, no shuffle until the agg."""
        ev = load_events(spark, sf_dir)
        kv = ev.select(
            F.explode(F.from_json("props", "map<string,bigint>")).alias(
                "prop_key", "prop_value"
            )
        )
        return kv.groupBy("prop_key").agg(
            F.count("*").alias("n_events"),
            F.sum("prop_value").alias("total_value"),
        )

    @register(
        "events_tumbling_window",
        sql=f"""
        SELECT CAST(epoch(time_bucket(INTERVAL '10 minutes', ts)) AS BIGINT)
                   AS window_start_epoch,
               event_type,
               COUNT(*) AS n_events,
               {sql_money_sum("value", "total_value")}
        FROM events
        GROUP BY 1, 2
        """,
        bench=True,
        tags=("ext-stream",),
    )
    def q_events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tumbling 10-minute window aggregate — the batch shape of the
        Structured Streaming query in streaming/windows.py (same F.window
        call); epoch-second window starts compare exactly across engines
        (Spark and DuckDB 10-min buckets share alignment)."""
        ev = load_events(spark, sf_dir)
        return (
            ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(
                F.count("*").alias("n_events"),
                F.sum(F.col("value").cast("decimal(27,4)"))
                .cast("double")
                .alias("total_value"),
            )
            .select(
                F.unix_timestamp("w.start").alias("window_start_epoch"),
                "event_type",
                "n_events",
                "total_value",
            )
        )

    @register(
        "events_sessionization",
        sql="""
        WITH e AS (
            SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
        ), flagged AS (
            SELECT user_id, event_id, ts_ms,
                   CASE WHEN lag(ts_ms) OVER w IS NULL
                             OR ts_ms - lag(ts_ms) OVER w > 1800000
                        THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        ), sess AS (
            SELECT user_id, event_id,
                   SUM(is_new) OVER (PARTITION BY user_id
                        ORDER BY ts_ms, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        )
        SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
               COUNT(*) AS n_events
        FROM sess GROUP BY 1, 2
        """,
        tags=("ext-stream",),
    )
    def q_events_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Batch sessionization: 30-min inactivity gap → new session;
        lag + running sum windows (the batch twin of session_window)."""
        from pyspark.sql import Window

        ev = load_events(spark, sf_dir).select(
            "user_id", "event_id", F.expr("unix_millis(ts)").alias("ts_ms")
        )
        w = Window.partitionBy("user_id").orderBy("ts_ms", "event_id")
        flagged = ev.withColumn(
            "is_new",
            F.when(
                F.lag("ts_ms").over(w).isNull()
                | ((F.col("ts_ms") - F.lag("ts_ms").over(w)) > 1800000),
                1,
            ).otherwise(0),
        )
        sess = flagged.withColumn(
            "session_id",
            F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        return sess.groupBy("user_id", "session_id").agg(
            F.count("*").alias("n_events")
        )

    @register(
        "window_running_totals",
        sql=f"""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                          ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                   AS running_total,
               lag(o_totalprice) OVER (PARTITION BY o_custkey
                                       ORDER BY o_orderkey) AS prev_price,
               CAST(dense_rank() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderstatus) AS INT) AS status_rank
        FROM orders
        """,
        tags=("ext-window",),
    )
    def q_window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Window-frame breadth: running decimal-snapped sum (ROWS
        UNBOUNDED PRECEDING), lag, dense_rank — one shuffle on the
        partition key serves all three (same window spec family)."""
        o = T(spark, sf_dir, "orders")
        wk = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        ws = Window.partitionBy("o_custkey").orderBy("o_orderstatus")
        return o.select(
            "o_custkey",
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(27,4)"))
            .over(wk.rowsBetween(Window.unboundedPreceding, 0))
            .cast("double")
            .alias("running_total"),
            F.lag("o_totalprice").over(wk).alias("prev_price"),
            F.dense_rank().over(ws).alias("status_rank"),
        )

    @register(
        "customer_value_deciles",
        sql="""
        WITH spend AS (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
                       AS total_spend,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, total_spend, n_orders,
               CAST(ntile(10) OVER w AS INT) AS decile,
               percent_rank() OVER w AS pct_rank
        FROM spend
        WINDOW w AS (ORDER BY total_spend DESC, o_custkey)
        """,
        tags=("ext-window",),
    )
    def q_customer_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Customer lifetime-value deciles: decimal-snapped spend rollup,
        then ntile(10) + percent_rank over a GLOBAL ordering. percent_rank
        = (rank-1)/(n-1) is one exact IEEE division → engine-portable
        without snapping; the spend ordering is deterministic because the
        sum is decimal-snapped and ties break on the key. NB: a global
        (unpartitioned) window funnels through one task — fine for a
        per-customer rollup (|customers| « |orders|); for percentiles over
        raw 100 TB facts use approx_percentile instead."""
        o = T(spark, sf_dir, "orders")
        spend = o.groupBy("o_custkey").agg(
            money_sum("o_totalprice", "total_spend"),
            F.count("*").alias("n_orders"),
        )
        w = Window.orderBy(F.col("total_spend").desc(), "o_custkey")
        return spend.select(
            "o_custkey",
            "total_spend",
            "n_orders",
            F.ntile(10).over(w).cast("int").alias("decile"),
            F.percent_rank().over(w).alias("pct_rank"),
        )

    @register(
        "intersect_active_rich_customers",
        sql="""
        SELECT o_custkey AS custkey FROM orders
        INTERSECT
        SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        """,
        tags=("ext-setop",),
    )
    def q_intersect_active_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
        """INTERSECT (distinct): customers who both ordered and hold a high
        balance — planned as a left-semi join over deduplicated keys."""
        o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
        c = (
            T(spark, sf_dir, "customer")
            .filter(F.col("c_acctbal") > 5000)
            .select(F.col("c_custkey").alias("custkey"))
        )
        return o.intersect(c)

    @register(
        "except_rich_inactive_customers",
        sql="""
        SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
        EXCEPT
        SELECT o_custkey FROM orders
        """,
        tags=("ext-setop",),
    )
    def q_except_rich_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
        """EXCEPT (distinct): high-balance customers who never ordered —
        planned as a left-anti join over deduplicated keys."""
        c = (
            T(spark, sf_dir, "customer")
            .filter(F.col("c_acctbal") > 5000)
            .select(F.col("c_custkey").alias("custkey"))
        )
        o = T(spark, sf_dir, "orders").select(F.col("o_custkey").alias("custkey"))
        return c.exceptAll(o.distinct()).distinct()

    @register(
        "date_math_orders",
        sql="""
        SELECT CAST(strftime(date_trunc('month', o_orderdate), '%Y-%m-%d')
                    AS VARCHAR) AS order_month,
               COUNT(*) AS n_orders,
               CAST(MAX(date_diff('day', o_orderdate,
                        TIMESTAMP '2000-01-01')) AS BIGINT) AS max_days_before_y2k,
               CAST(strftime(MIN(o_orderdate + INTERVAL 30 DAY), '%Y-%m-%d')
                    AS VARCHAR) AS earliest_due
        FROM orders
        GROUP BY 1
        """,
        tags=("ext-olap",),
    )
    def q_date_math_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Date-function surface: trunc-to-month, datediff against a fixed
        date, interval arithmetic — all emitted as ISO strings / integers
        (never raw DATE/TIMESTAMP, which dtype-mismatch across engines)."""
        o = T(spark, sf_dir, "orders")
        return (
            o.groupBy(
                F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd")
                .alias("order_month")
            )
            .agg(
                F.count("*").alias("n_orders"),
                F.max(
                    F.datediff(
                        F.lit("2000-01-01").cast("date"), F.col("o_orderdate")
                    )
                )
                .cast("long")
                .alias("max_days_before_y2k"),
                F.date_format(
                    F.min(F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
                    "yyyy-MM-dd",
                ).alias("earliest_due"),
            )
        )

    @register(
        "funnel_signup_purchase",
        sql="""
        WITH firsts AS (
            SELECT user_id,
                   MIN(epoch_us(ts)) FILTER (WHERE event_type = 'signup')
                       AS first_signup,
                   MIN(epoch_us(ts)) FILTER (WHERE event_type = 'purchase')
                       AS first_purchase
            FROM events GROUP BY user_id
        )
        SELECT COUNT(*) AS n_users,
               COUNT(first_signup) AS n_signed_up,
               COUNT(CASE WHEN first_purchase > first_signup THEN 1 END)
                   AS n_converted
        FROM firsts
        """,
        tags=("ext-stream", "ext-olap"),
    )
    def q_funnel_signup_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Behavioral funnel: users whose first purchase strictly follows
        their first signup. One conditional-min aggregate per user, one
        global rollup — two shuffles total, no self-join of the event log
        (the naive events⋈events formulation is quadratic in hot users)."""
        ev = load_events(spark, sf_dir).select(
            "user_id", "event_type", F.expr("unix_micros(ts)").alias("ts_us")
        )
        firsts = ev.groupBy("user_id").agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("ts_us"))).alias(
                "first_signup"
            ),
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts_us"))).alias(
                "first_purchase"
            ),
        )
        return firsts.agg(
            F.count("*").alias("n_users"),
            F.count("first_signup").alias("n_signed_up"),
            F.count(
                F.when(F.col("first_purchase") > F.col("first_signup"), 1)
            ).alias("n_converted"),
        )

    @register(
        "window_topk_orders",
        sql="""
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_totalprice DESC, o_orderkey) AS INT)
                   AS rank_in_group
        FROM orders
        QUALIFY rank_in_group <= 3
        """,
        tags=("ext-window",),
    )
    def q_window_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Top-3 orders per customer — rank window with deterministic
        tie-break; Spark plans a per-partition group-limit."""
        o = T(spark, sf_dir, "orders").select(
            "o_custkey", "o_orderkey", "o_totalprice"
        )
        return core.top_k_per_group(
            o,
            ["o_custkey"],
            [F.col("o_totalprice").desc(), F.col("o_orderkey")],
            3,
        ).select("o_custkey", "o_orderkey", "o_totalprice", "rank_in_group")

    # -- Structured Streaming (finite-replay; results equal their batch
    #    twins, which is what makes them oracle-checkable) -----------------

    def _stream(spark, sf_dir):
        from politicamente_etl_spark.streaming import windows as W

        return W.stream_events(spark, sf_dir)

    @register(
        "streaming_tumbling_window",
        sql=f"""
        SELECT CAST(epoch(time_bucket(INTERVAL '10 minutes', ts)) AS BIGINT)
                   AS window_start_epoch,
               event_type,
               COUNT(*) AS n_events,
               {sql_money_sum("value", "total_value")}
        FROM events
        GROUP BY 1, 2
        """,
        tags=("ext-stream",),
    )
    def q_streaming_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The events_tumbling_window rollup executed through the
        micro-batch streaming engine (readStream → window agg → memory
        sink); finite replay ≡ batch, same oracle."""
        from politicamente_etl_spark.streaming import windows as W

        return W.run_stream_to_table(W.tumbling_agg(_stream(spark, sf_dir)))

    @register(
        "streaming_sliding_window",
        sql="""
        SELECT CAST(epoch(s) AS BIGINT) AS window_start_epoch,
               event_type, COUNT(*) AS n_events
        FROM (
            SELECT unnest([time_bucket(INTERVAL '5 minutes', ts),
                           time_bucket(INTERVAL '5 minutes', ts)
                               - INTERVAL '5 minutes']) AS s,
                   event_type
            FROM events
        )
        GROUP BY 1, 2
        """,
        tags=("ext-stream",),
    )
    def q_streaming_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Sliding 10-min/5-min window counts via the streaming engine;
        oracle enumerates both covering window starts per event."""
        from politicamente_etl_spark.streaming import windows as W

        return W.run_stream_to_table(W.sliding_agg(_stream(spark, sf_dir)))

    @register(
        "streaming_session_window",
        sql="""
        WITH e AS (
            SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events
        ), flagged AS (
            SELECT user_id, ts_us,
                   CASE WHEN lag(ts_us) OVER w IS NULL
                             OR ts_us - lag(ts_us) OVER w >= 1800000000
                        THEN 1 ELSE 0 END AS is_new
            FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        ), sess AS (
            SELECT user_id, ts_us,
                   SUM(is_new) OVER (PARTITION BY user_id
                        ORDER BY ts_us ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               CAST(min(ts_us) // 1000000 AS BIGINT) AS session_start_epoch,
               COUNT(*) AS n_events
        FROM sess GROUP BY user_id, sid
        """,
        tags=("ext-stream",),
    )
    def q_streaming_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
        """session_window(ts, 30 min) per user through the streaming engine.
        Oracle reconstructs Spark's merge rule exactly in µs integers: a new
        session starts iff the gap is >= 30 min (session windows are
        half-open)."""
        from politicamente_etl_spark.streaming import windows as W

        return W.run_stream_to_table(W.session_agg(_stream(spark, sf_dir)))

    @register(
        "streaming_dedup_count",
        sql="SELECT COUNT(DISTINCT event_id) AS n_unique FROM events",
        tags=("ext-stream", "ext-dedup"),
    )
    def q_streaming_dedup_count(spark: SparkSession, sf_dir: str) -> DataFrame:
        """dropDuplicatesWithinWatermark on event_id (watermark-bounded
        dedup state), reduced to a count for a deterministic compare."""
        from politicamente_etl_spark.streaming import windows as W

        deduped = W.stateful_dedup(_stream(spark, sf_dir))
        return W.run_stream_to_table(
            deduped.groupBy().agg(F.count("*").alias("n_unique"))
        )

    @register(
        "quality_score_docs",
        sql="""
        WITH f AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) AS n_tok,
                   CAST(length(text) AS DOUBLE) AS n_chars,
                   CAST(len(list_filter(string_split(text, ' '),
                        t -> t = 'the' OR t = 'a')) AS DOUBLE) AS stop_hits
            FROM documents
        )
        SELECT doc_id,
               least(n_tok / 20.0, 1.0) * 0.4
               + (CASE WHEN (n_chars - (n_tok - 1)) / n_tok >= 3.0
                        AND (n_chars - (n_tok - 1)) / n_tok <= 10.0
                       THEN 1.0 ELSE 0.5 END) * 0.3
               + least(stop_hits / greatest(n_tok * 0.01, 1.0), 1.0) * 0.3
                   AS quality_score
        FROM f
        """,
        tags=("ext-text",),
    )
    def q_quality_score_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Composite pretraining quality score (length / token-shape /
        stopword components) as a single codegen'd expression; the
        pandas_udf twin is proven equivalent in tests."""
        docs = T(spark, sf_dir, "documents")
        return docs.select("doc_id", text.quality_score("text"))

    @register(
        "streaming_enrich_join",
        sql=f"""
        WITH dim AS (
            SELECT event_type, COUNT(*) AS type_total FROM events GROUP BY 1
        )
        SELECT e.user_id, d.event_type, d.type_total,
               {sql_money_sum("e.value", "user_type_value")}
        FROM events e JOIN dim d ON e.event_type = d.event_type
        GROUP BY 1, 2, 3
        """,
        tags=("ext-stream",),
    )
    def q_streaming_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-static enrichment join: the events STREAM joins a static
        dimension (per-type totals, batch-read) each micro-batch, then
        rolls up per (user, type) — the streaming twin of the broadcast dim
        joins (J1-J3). Finite replay ≡ the batch join, hence the oracle."""
        from politicamente_etl_spark.streaming import windows as W

        dim = (
            load_events(spark, sf_dir)
            .groupBy("event_type")
            .agg(F.count("*").alias("type_total"))
        )
        joined = W.enrich_join(_stream(spark, sf_dir), dim)
        return W.run_stream_to_table(
            joined.groupBy("user_id", "event_type", "type_total").agg(
                F.sum(F.col("value").cast("decimal(27,4)"))
                .cast("double")
                .alias("user_type_value")
            )
        )

    @register(
        "streaming_stateful_counts",
        sql="SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id",
        tags=("ext-stream",),
    )
    def q_streaming_stateful_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """applyInPandasWithState custom stateful operator: per-user running
        counts in explicit group state, reduced by max (counts are monotone)
        so the result equals the batch GROUP BY whatever the micro-batch
        boundaries were."""
        from politicamente_etl_spark.streaming import windows as W

        out = W.run_stream_to_table(
            W.stateful_user_counts(_stream(spark, sf_dir)), mode="update"
        )
        return out.groupBy("user_id").agg(F.max("n_events").alias("n_events"))

    # -- join-type completions (semi / full outer) --------------------------

    @register(
        "semi_join_fulfilled_orders",
        sql="""
        SELECT o_orderkey, o_custkey
        FROM orders o
        WHERE EXISTS (SELECT 1 FROM lineitem l
                      WHERE l.l_orderkey = o.o_orderkey)
        """,
        tags=("ext-join",),
    )
    def q_semi_join_fulfilled_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """LEFT SEMI join (EXISTS): orders with at least one lineitem. The
        probe side streams; no dedup of the right side is needed — semi-join
        short-circuits on first match."""
        o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        li = T(spark, sf_dir, "lineitem").select("l_orderkey")
        return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")

    @register(
        "full_outer_nation_reconcile",
        sql="""
        WITH c AS (
            SELECT c_nationkey AS nationkey, COUNT(*) AS n_customers
            FROM customer GROUP BY 1
        ), s AS (
            SELECT s_nationkey AS nationkey, COUNT(*) AS n_suppliers
            FROM supplier GROUP BY 1
        )
        SELECT COALESCE(c.nationkey, s.nationkey) AS nationkey,
               COALESCE(n_customers, 0) AS n_customers,
               COALESCE(n_suppliers, 0) AS n_suppliers
        FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey
        """,
        tags=("ext-join",),
    )
    def q_full_outer_nation_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
        """FULL OUTER join over two pre-aggregated sides (customer vs
        supplier presence per nation) with zero-fill — the reconciliation
        shape. Aggregating BEFORE the join keeps the outer join tiny."""
        c = (
            T(spark, sf_dir, "customer")
            .groupBy(F.col("c_nationkey").alias("nationkey"))
            .agg(F.count("*").alias("n_customers"))
        )
        s = (
            T(spark, sf_dir, "supplier")
            .groupBy(F.col("s_nationkey").alias("nationkey"))
            .agg(F.count("*").alias("n_suppliers"))
        )
        return (
            c.join(s, "nationkey", "full_outer")
            .select(
                "nationkey",
                F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
                F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
            )
        )

    @register(
        "salted_join_segment_counts",
        sql="""
        SELECT c.c_mktsegment, COUNT(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
        """,
        tags=("ext-join",),
    )
    def q_salted_join_segment_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Skew-breaking salted join (operators/joins.py:salted_join): the
        fact side is salted, the dim side replicated per salt — results are
        provably identical to the plain join (the oracle runs the unsalted
        SQL). This is the fallback for keys hotter than AQE's skew split."""
        from politicamente_etl_spark.operators.joins import salted_join

        o = T(spark, sf_dir, "orders").select("o_custkey")
        c = T(spark, sf_dir, "customer").select(
            F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
        )
        return (
            salted_join(o, c, ["o_custkey"], n_salts=4)
            .groupBy("c_mktsegment")
            .agg(F.count("*").alias("n_orders"))
        )

    @register(
        "grouping_sets_orders",
        sql=f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               {sql_money_sum("o_totalprice", "total_price")}
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        """,
        tags=("ext-olap",),
    )
    def q_grouping_sets_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Explicit GROUPING SETS (neither rollup nor cube): per-status and
        per-priority totals in ONE pass over orders — Spark expands the sets
        with a single Expand node feeding one partial+final aggregate."""
        from politicamente_etl_spark.sources.readers import load_tables

        load_tables(spark, sf_dir, ("orders",))
        return spark.sql(
            """
            SELECT o_orderstatus, o_orderpriority,
                   COUNT(*) AS n_orders,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(27,4))) AS DOUBLE)
                       AS total_price
            FROM orders
            GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
            """
        )

    @register(
        "exact_percentiles_quantity",
        sql="""
        SELECT l_returnflag,
               quantile_cont(l_quantity, 0.5) AS p50,
               quantile_cont(l_quantity, 0.9) AS p90,
               quantile_cont(l_quantity, 0.99) AS p99
        FROM lineitem GROUP BY l_returnflag
        """,
        tags=("ext-olap",),
    )
    def q_exact_percentiles_quantity(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact interpolated percentiles (the non-approximate twin of
        approx_aggs): Spark `percentile` and DuckDB `quantile_cont` share
        the (n-1)*p linear-interpolation definition, and l_quantity's
        half-integer interpolants are exact doubles."""
        li = T(spark, sf_dir, "lineitem")
        return li.groupBy("l_returnflag").agg(
            F.expr("percentile(l_quantity, 0.5)").alias("p50"),
            F.expr("percentile(l_quantity, 0.9)").alias("p90"),
            F.expr("percentile(l_quantity, 0.99)").alias("p99"),
        )

    @register(
        "text_normalize",
        sql=r"""
        SELECT doc_id,
               trim(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'))
                   AS norm_text,
               substring(lower(text), 1, 40) AS head40,
               CAST(length(regexp_replace(lower(text), '[^a-z0-9 ]+', ' ', 'g'))
                    AS BIGINT) AS n_norm_chars
        FROM documents
        """,
        tags=("ext-text",),
    )
    def q_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Normalization pipeline (lower → strip non-alnum → trim →
        substring): the standard pre-tokenization cleanup, all codegen'd
        string expressions with identical regex semantics on both engines
        (ASCII classes only)."""
        docs = T(spark, sf_dir, "documents")
        norm = F.regexp_replace(F.lower("text"), r"[^a-z0-9 ]+", " ")
        return docs.select(
            "doc_id",
            F.trim(norm).alias("norm_text"),
            F.substring(F.lower("text"), 1, 40).alias("head40"),
            F.length(norm).cast("long").alias("n_norm_chars"),
        )

    # -- classic OLAP rollups (TPC-H shapes over the driver tables) ---------

    _Q17_SQL = f"""
        SELECT l.l_partkey,
               {sql_money_sum("l.l_extendedprice", "small_qty_revenue")}
        FROM lineitem l
        WHERE l.l_quantity < (
            SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
            WHERE l2.l_partkey = l.l_partkey
        )
        GROUP BY l.l_partkey
        """

    @register(
        "small_quantity_orders",
        sql=_Q17_SQL,
        tags=("ext-olap", "ext-subquery"),
    )
    def q_small_quantity_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q17 shape: correlated scalar subquery (per-part average)
        — submitted through spark.sql with the SAME text as the oracle;
        Catalyst decorrelates it into an aggregate + join, no per-row
        re-execution (the plan shows one extra aggregate, not N subquery
        runs). AVG(l_quantity) is exact: quantities are integral doubles
        and every partition sum is exact, so the single division is
        bit-stable across engines."""
        from politicamente_etl_spark.sources.readers import load_tables

        load_tables(spark, sf_dir, ("lineitem",))
        return spark.sql(_Q17_SQL)

    _Q18_SQL = f"""
        SELECT c.c_custkey, o.o_orderkey,
               {sql_money_sum("l.l_quantity", "total_qty")}
        FROM customer c
        JOIN orders o ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderkey IN (
            SELECT l_orderkey FROM lineitem
            GROUP BY l_orderkey HAVING SUM(l_quantity) > 150
        )
        GROUP BY 1, 2
        """

    @register(
        "large_order_customers",
        sql=_Q18_SQL,
        tags=("ext-olap", "ext-subquery"),
    )
    def q_large_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q18 shape: IN-subquery with HAVING — Catalyst rewrites the
        IN to a left-semi join against the pre-aggregated order totals.
        Same SQL text on both engines."""
        from politicamente_etl_spark.sources.readers import load_tables

        load_tables(spark, sf_dir, ("customer", "orders", "lineitem"))
        return spark.sql(_Q18_SQL)

    @register(
        "pricing_summary",
        sql=f"""
        SELECT l_returnflag, l_linestatus,
               {sql_money_sum("l_quantity", "sum_qty")},
               {sql_money_sum("l_extendedprice", "sum_base_price")},
               {sql_money_sum("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
               {sql_money_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge", scale=6)},
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        """,
        bench=True,
        tags=("ext-olap",),
    )
    def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q1 shape: one scan, pushed date predicate, 4 decimal-snap
        sums + count per (returnflag, linestatus). The predicate reaches the
        parquet scan (PushedFilters) and the aggregate is partial+final."""
        from politicamente_etl_spark.functions.scalar import money_sum

        li = core.spread(
            T(spark, sf_dir, "lineitem").filter(
                F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
            ),
            "l_orderkey",
        )
        disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
        return li.groupBy("l_returnflag", "l_linestatus").agg(
            money_sum("l_quantity", "sum_qty"),
            money_sum("l_extendedprice", "sum_base_price"),
            money_sum(disc, "sum_disc_price"),
            money_sum(disc * (1 + F.col("l_tax")), "sum_charge", scale=6),
            F.count("*").alias("count_order"),
        )

    @register(
        "shipping_priority_top10",
        sql=f"""
        SELECT l.l_orderkey AS o_orderkey,
               {sql_money_sum("l.l_extendedprice * (1 - l.l_discount)", "revenue")},
               CAST(epoch(o.o_orderdate) AS BIGINT) AS orderdate_epoch,
               o.o_orderpriority
        FROM customer c
        JOIN orders o ON c.c_custkey = o.o_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-03-15'
          AND l.l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY 1, 3, 4
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
        """,
        tags=("ext-olap",),
    )
    def q_shipping_priority_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q3 shape: filtered dim broadcast-joins into the fact scan,
        decimal-snap revenue rollup, global top-10 with a deterministic
        tiebreak (Spark plans TakeOrderedAndProject — no full sort)."""
        from politicamente_etl_spark.functions.scalar import money_sum

        cutoff = F.lit("1998-03-15").cast("timestamp")
        c = T(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        ).select("c_custkey")
        o = T(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
        li = T(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy(
                F.col("l_orderkey").alias("o_orderkey"),
                F.unix_timestamp("o_orderdate").alias("orderdate_epoch"),
                "o_orderpriority",
            )
            .agg(
                money_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
                )
            )
            .select("o_orderkey", "revenue", "orderdate_epoch", "o_orderpriority")
            .orderBy(F.col("revenue").desc(), "o_orderkey")
            .limit(10)
        )

    @register(
        "approx_aggs",
        sql=None,  # sketch internals differ across engines → rows-only
        tags=("ext-approx",),
    )
    def q_approx_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Approximate aggregates (HLL++ distinct count, approx median) per
        event type — sketch outputs are engine-specific, so rows-only."""
        from politicamente_etl_spark.operators.agg import approx_aggs

        ev = load_events(spark, sf_dir)
        return approx_aggs(ev, "event_type", "user_id", "value")

    # -- statistical aggregates (exact-moment formulation) ------------------

    # Shared second-moment formulas, rendered VERBATIM into both engines'
    # final projection. Every input is an exact INTEGER-valued sum
    # (quantity units / price cents via the floor-snap pattern), so the
    # only cross-engine conversions are integer→double — correctly
    # rounded and bit-identical in both engines (verified for
    # DECIMAL(38,0) magnitudes ~1e27). A decimal WITH scale would not
    # be: DuckDB converts scaled decimals via int→double then a second
    # rounding division, which drifts a last ulp from Spark's single
    # BigDecimal conversion once sums pass 2^53 (bit us at sf0.001).
    # corr is scale-invariant so cent units need no rescale; covar needs
    # one final /100. Native stddev/corr/covar use order-dependent
    # running co-moments and would drift between engines AND runs.
    _STD = (
        "sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
    )
    _COV = (
        "((CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)"
        " / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE)) / 100.0"
    )
    _CORR = (
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
        " * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
        " - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
    )

    @register(
        "grouped_moments",
        sql=f"""
        WITH v AS (
            SELECT l_returnflag,
                   CAST(floor(l_quantity) AS BIGINT) AS xq,
                   CAST(floor(l_extendedprice * 100) AS BIGINT) AS yc
            FROM lineitem
        ), s AS (
            SELECT l_returnflag,
                   COUNT(*) AS n,
                   CAST(SUM(xq) AS BIGINT) AS sx,
                   CAST(SUM(yc) AS BIGINT) AS sy,
                   CAST(SUM(xq * xq) AS BIGINT) AS sxx,
                   SUM(CAST(yc AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
                       AS syy,
                   SUM(CAST(xq AS DECIMAL(19,0)) * CAST(yc AS DECIMAL(19,0)))
                       AS sxy
            FROM v GROUP BY l_returnflag
        )
        SELECT l_returnflag, n,
               {_STD} AS std_qty,
               {_COV} AS covar_qty_price,
               {_CORR} AS corr_qty_price
        FROM s
        """,
        tags=("ext-olap", "ext-stats"),
    )
    def q_grouped_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
        """stddev_samp / covar_samp / corr per group, computed from exact
        integer power sums (n, Σx, Σy, Σx², Σy², Σxy; quantities integral,
        prices floor-snapped to cents) — one map-side-combining hash
        aggregate, same shuffle shape as any SUM, then a narrow final
        projection. The exact-sum formulation is also the distributed-
        friendly one: power sums merge associatively across any
        partitioning, unlike streaming co-moment state. (floor+CAST, not
        a bare double→BIGINT cast: Spark truncates there, DuckDB
        rounds.)"""
        li = T(spark, sf_dir, "lineitem")
        v = li.select(
            "l_returnflag",
            F.expr("CAST(floor(l_quantity) AS BIGINT)").alias("xq"),
            F.expr("CAST(floor(l_extendedprice * 100) AS BIGINT)").alias("yc"),
        )
        s = v.groupBy("l_returnflag").agg(
            F.count("*").alias("n"),
            F.sum("xq").alias("sx"),
            F.sum("yc").alias("sy"),
            F.sum(F.col("xq") * F.col("xq")).alias("sxx"),
            F.sum(
                F.col("yc").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
            ).alias("syy"),
            F.sum(
                F.col("xq").cast("decimal(19,0)") * F.col("yc").cast("decimal(19,0)")
            ).alias("sxy"),
        )
        return s.selectExpr(
            "l_returnflag",
            "n",
            f"{_STD} AS std_qty",
            f"{_COV} AS covar_qty_price",
            f"{_CORR} AS corr_qty_price",
        )

    @register(
        "argmax_order_per_customer",
        sql="""
        SELECT o_custkey,
               first(o_totalprice ORDER BY o_totalprice DESC, o_orderkey DESC)
                   AS top_totalprice,
               first(o_orderkey ORDER BY o_totalprice DESC, o_orderkey DESC)
                   AS top_orderkey,
               COUNT(*) AS n_orders
        FROM orders GROUP BY o_custkey
        """,
        tags=("ext-olap", "ext-stats"),
    )
    def q_argmax_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Arg-max as an AGGREGATE (max over a (value, key) struct — ties
        broken by the larger key, so deterministic), not a window. The
        struct buffer makes Spark pick SortAggregate, but the partial
        still combines map-side, so only ONE row per customer crosses the
        shuffle — at scale this beats the row_number()-over-window top-1,
        which must shuffle and sort EVERY order row. The window form is
        only needed for k > 1; see window_topk_orders for that shape."""
        o = T(spark, sf_dir, "orders")
        m = o.groupBy("o_custkey").agg(
            F.max(F.struct("o_totalprice", "o_orderkey")).alias("m"),
            F.count("*").alias("n_orders"),
        )
        return m.select(
            "o_custkey",
            F.col("m.o_totalprice").alias("top_totalprice"),
            F.col("m.o_orderkey").alias("top_orderkey"),
            "n_orders",
        )

    # -- corpus statistics --------------------------------------------------

    @register(
        "doc_length_histogram",
        sql="""
        SELECT n_chars // 100 AS bucket, lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1, 2
        """,
        tags=("ext-text", "ext-stats"),
    )
    def q_doc_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Length histogram per language (100-char buckets) — the standard
        first look at a new corpus. Exact integer bucket math (`DIV`), one
        hash aggregate; bucket count is bounded so the reduce side is tiny
        regardless of corpus size."""
        docs = T(spark, sf_dir, "documents")
        return docs.groupBy(
            F.expr("n_chars DIV 100").alias("bucket"), "lang"
        ).agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )

    @register(
        "bigram_top_terms",
        sql="""
        WITH t AS (
            SELECT lang, string_split(text, ' ') AS toks FROM documents
        ), bi AS (
            SELECT lang,
                   unnest([concat_ws(' ', toks[i], toks[i+1])
                           for i in range(1, len(toks))]) AS bigram
            FROM t
        ), counts AS (
            SELECT lang, bigram, COUNT(*) AS n FROM bi GROUP BY 1, 2
        )
        SELECT lang, bigram, n,
               CAST(row_number() OVER (PARTITION BY lang
                        ORDER BY n DESC, bigram) AS INT) AS rnk
        FROM counts
        QUALIFY rnk <= 10
        """,
        tags=("ext-text", "ext-stats"),
    )
    def q_bigram_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Language-model-style bigram frequency: explode token 2-grams
        (single-pass regex shingler), count per (lang, bigram), keep the
        top-10 per language. The count shuffle partial-aggregates map-side;
        the per-lang top-k is a WindowGroupLimit (per-partition heap), not
        a full sort of the bigram vocabulary."""
        docs = T(spark, sf_dir, "documents")
        counts = (
            docs.select(
                "lang", F.explode(text.shingles_regex("text", 2)).alias("bigram")
            )
            .groupBy("lang", "bigram")
            .agg(F.count("*").alias("n"))
        )
        w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
        return counts.withColumn(
            "rnk", F.row_number().over(w)
        ).filter(F.col("rnk") <= 10)

    # z-score mean/std formulas over integer-snapped sums, shared verbatim
    # by both engines (same discipline as _STD/_COV/_CORR above; the
    # floor(value·1e6) integer snap makes the power sums exact and
    # order-independent, per embedding_group_centroids).
    _ZMEAN = "CAST(s1 AS DOUBLE) / 1e6 / CAST(n AS DOUBLE)"
    _ZSTD = (
        "sqrt((CAST(n AS DOUBLE) * (CAST(s2 AS DOUBLE) / 1e12)"
        " - (CAST(s1 AS DOUBLE) / 1e6) * (CAST(s1 AS DOUBLE) / 1e6))"
        " / (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))"
    )

    @register(
        "zscore_outlier_events",
        sql=f"""
        WITH v AS (
            SELECT event_id, event_type, value,
                   CAST(floor(value * 1e6) AS BIGINT) AS v6
            FROM events
        ), s AS (
            SELECT event_type, COUNT(*) AS n,
                   CAST(SUM(v6) AS BIGINT) AS s1,
                   SUM(CAST(v6 AS DECIMAL(19,0)) * CAST(v6 AS DECIMAL(19,0)))
                       AS s2
            FROM v GROUP BY event_type
        ), m AS (
            SELECT event_type, {_ZMEAN} AS mean_v, {_ZSTD} AS std_v FROM s
        )
        SELECT v.event_id, v.event_type, v.value,
               (v.value - m.mean_v) / m.std_v AS zscore
        FROM v JOIN m USING (event_type)
        WHERE abs((v.value - m.mean_v) / m.std_v) > 2.0
        """,
        tags=("ext-stats", "ext-events"),
    )
    def q_zscore_outlier_events(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-type anomaly detection: events whose value deviates more
        than 2σ from their event_type mean. Two-phase standardization —
        one map-side-combining aggregate builds exact integer-snapped
        power sums per type, then the tiny stats table broadcasts back
        onto the event stream (no second shuffle of the fact). The z
        computation runs the identical IEEE op sequence on both engines,
        so even the >2σ boundary decision is bit-reproducible."""
        ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
        v = ev.withColumn(
            "v6", F.expr("CAST(floor(value * 1e6) AS BIGINT)")
        )
        s = v.groupBy("event_type").agg(
            F.count("*").alias("n"),
            F.sum("v6").alias("s1"),
            F.sum(
                F.col("v6").cast("decimal(19,0)") * F.col("v6").cast("decimal(19,0)")
            ).alias("s2"),
        )
        m = s.selectExpr(
            "event_type", f"{_ZMEAN} AS mean_v", f"{_ZSTD} AS std_v"
        )
        z = F.expr("(value - mean_v) / std_v")
        return (
            v.join(F.broadcast(m), "event_type")
            .withColumn("zscore", z)
            .filter(F.abs(F.col("zscore")) > 2.0)
            .select("event_id", "event_type", "value", "zscore")
        )

    @register(
        "inverted_index_postings",
        sql="""
        WITH toks AS (
            SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        )
        SELECT term, COUNT(*) AS doc_freq,
               array_to_string(list(doc_id ORDER BY doc_id), ',')
                   AS posting_list
        FROM toks GROUP BY term
        """,
        tags=("ext-text", "ext-stats"),
    )
    def q_inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Search-index build: term → sorted doc-id posting list + document
        frequency. Per-doc dedup happens BEFORE the explode (array_distinct
        on the token array — narrow), so the shuffle carries one (term,
        doc) pair per containing doc, not per occurrence. Postings are
        emitted as a joined string for the cross-engine hash; at real
        scale a hot term's posting list must be sharded — (term, bucket)
        keys with bounded lists, same algebra as pack_sequences' bucket
        streams."""
        docs = T(spark, sf_dir, "documents")
        toks = docs.select(
            "doc_id",
            F.explode(F.array_distinct(text.tokens("text"))).alias("term"),
        )
        return toks.groupBy("term").agg(
            F.count("*").alias("doc_freq"),
            F.array_join(
                F.sort_array(F.collect_list("doc_id")), ","
            ).alias("posting_list"),
        )

    @register(
        "rolling_7day_order_totals",
        sql="""
        SELECT o_custkey, o_orderkey, day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(27,2))) OVER (
                    PARTITION BY o_custkey ORDER BY day
                    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS rolling_7d
        FROM (
            SELECT o_custkey, o_orderkey,
                   CAST(epoch(o_orderdate) AS BIGINT) // 86400 AS day,
                   o_totalprice
            FROM orders
        )
        """,
        tags=("ext-window", "ext-temporal"),
    )
    def q_rolling_7day_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-customer rolling 7-day spend: a RANGE window frame over
        epoch-day integers — the frame is defined by VALUE distance (6
        days back), not row count, so peers on the same day aggregate
        together deterministically. Decimal-snapped running sum; one
        shuffle on the partition key, per-partition sort, single pass."""
        o = T(spark, sf_dir, "orders").select(
            "o_custkey",
            "o_orderkey",
            F.expr("unix_timestamp(o_orderdate) div 86400").alias("day"),
            "o_totalprice",
        )
        w = (
            Window.partitionBy("o_custkey")
            .orderBy("day")
            .rangeBetween(-6, Window.currentRow)
        )
        return o.select(
            "o_custkey",
            "o_orderkey",
            "day",
            F.sum(F.col("o_totalprice").cast("decimal(27,2)"))
            .over(w)
            .cast("double")
            .alias("rolling_7d"),
        )

    @register(
        "unpivot_lineitem_metrics",
        sql="""
        SELECT l_orderkey, l_linenumber,
               'l_extendedprice' AS metric, l_extendedprice AS value
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
        FROM lineitem
        UNION ALL
        SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
        """,
        tags=("ext-olap",),
    )
    def q_unpivot_lineitem_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Wide→long reshaping (the inverse of pivot_event_counts) via the
        native unpivot/stack operator: one narrow generator pass, no
        shuffle, no triple scan — the oracle's UNION ALL of three scans is
        the semantic twin, not the plan we'd run. Raw values pass through
        untouched, so the compare is exact."""
        li = T(spark, sf_dir, "lineitem")
        return li.unpivot(
            ["l_orderkey", "l_linenumber"],
            ["l_extendedprice", "l_discount", "l_tax"],
            "metric",
            "value",
        )

    @register(
        "incremental_dedup_new_docs",
        sql="""
        WITH d AS (
            SELECT doc_id, source, md5(text) AS digest,
                   CAST(substr(source, 4) AS INT) AS src_num
            FROM documents
        ), corpus AS (
            SELECT DISTINCT digest FROM d WHERE src_num < 10
        ), batch_first AS (
            SELECT digest,
                   min(doc_id) AS doc_id,
                   first(source ORDER BY doc_id) AS source
            FROM d WHERE src_num >= 10 GROUP BY digest
        )
        SELECT doc_id, source, digest
        FROM batch_first b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.digest = b.digest)
        """,
        tags=("ext-dedup", "ext-sampling"),
    )
    def q_incremental_dedup_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Production ingestion dedup: a NEW batch (sources src10+) is
        deduplicated internally (keep the lowest doc_id per content
        digest — one struct-min aggregate) and then anti-joined against
        the EXISTING corpus's digest set (sources src0-9). Both joins meet
        on 16-byte digests, never documents — the shuffle cost is
        O(batch), independent of corpus width; at scale the corpus digest
        side is a bucketed table so the anti-join is shuffle-free."""
        d = T(spark, sf_dir, "documents").select(
            "doc_id",
            "source",
            F.md5("text").alias("digest"),
            F.expr("CAST(substr(source, 4) AS INT)").alias("src_num"),
        )
        corpus = d.filter(F.col("src_num") < 10).select("digest").distinct()
        batch_first = (
            d.filter(F.col("src_num") >= 10)
            .groupBy("digest")
            .agg(F.min(F.struct("doc_id", "source")).alias("m"))
            .select(
                F.col("m.doc_id").alias("doc_id"),
                F.col("m.source").alias("source"),
                "digest",
            )
        )
        return batch_first.join(corpus, "digest", "left_anti").select(
            "doc_id", "source", "digest"
        )

    @register(
        "corpus_admission_report",
        sql="""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                   string_split(text, ' ') AS toks,
                   md5(text) AS digest
            FROM documents
        ), sh AS (
            SELECT doc_id, n_tokens, digest,
                   [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                    for i in range(1, len(toks) - 1)] AS shingles
            FROM d
        ), feat AS (
            SELECT doc_id, n_tokens, digest,
                   CASE WHEN len(shingles) = 0 THEN 0.0
                        ELSE 1.0 - CAST(len(list_distinct(shingles)) AS DOUBLE)
                                   / CAST(len(shingles) AS DOUBLE) END AS rep,
                   min(doc_id) OVER (PARTITION BY digest) AS first_doc
            FROM sh
        )
        SELECT doc_id, n_tokens,
               CASE WHEN n_tokens < 30 THEN 'too_short'
                    WHEN rep > 0.3 THEN 'repetitive'
                    WHEN doc_id <> first_doc THEN 'duplicate'
                    ELSE 'admitted' END AS verdict
        FROM feat
        """,
        tags=("ext-text", "ext-dedup"),
    )
    def q_corpus_admission_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The admission pipeline DECISION, per document: first failing
        rule in a fixed order — too_short (token count), repetitive
        (3-gram repetition ratio), duplicate (not the first doc of its
        content-digest group), else admitted. Everything is narrow
        per-row expression work except the digest window (one shuffle on
        a 16-byte key); the rule cascade is a single CASE projection, so
        adding rules costs nothing at scale."""
        docs = (
            T(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .withColumn("__shs", text.shingles_regex("text"))
        )
        shs = F.col("__shs")
        n_sh = F.size(shs)
        nd = F.size(F.array_distinct(shs))
        feat = docs.select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
            F.md5("text").alias("digest"),
            F.when(n_sh == 0, F.lit(0.0))
            .otherwise(1.0 - nd.cast("double") / n_sh.cast("double"))
            .alias("rep"),
        ).withColumn(
            "first_doc",
            F.min("doc_id").over(Window.partitionBy("digest")),
        )
        return feat.select(
            "doc_id",
            "n_tokens",
            F.when(F.col("n_tokens") < 30, F.lit("too_short"))
            .when(F.col("rep") > 0.3, F.lit("repetitive"))
            .when(F.col("doc_id") != F.col("first_doc"), F.lit("duplicate"))
            .otherwise(F.lit("admitted"))
            .alias("verdict"),
        )

    # -- stream-stream join -------------------------------------------------

    @register(
        "streaming_interval_join",
        sql="""
        SELECT c.user_id,
               c.event_id AS left_id,
               p.event_id AS right_id,
               CAST(epoch_us(c.ts) AS BIGINT) AS left_ts_us,
               CAST(epoch_us(p.ts) AS BIGINT) AS right_ts_us
        FROM events c
        JOIN events p
          ON p.user_id = c.user_id
         AND c.event_type = 'click' AND p.event_type = 'purchase'
         AND epoch_us(p.ts) >= epoch_us(c.ts)
         AND epoch_us(p.ts) <= epoch_us(c.ts) + 1800000000
        """,
        tags=("ext-stream", "ext-temporal"),
    )
    def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Stream-stream inner join with watermark-bounded state: each
        purchase joined to the same user's clicks from the preceding 30
        minutes (attribution). Finite replay emits the exact pair set the
        batch self-join produces — the oracle IS that batch join, with the
        time condition in floored-µs integers on both engines."""
        from politicamente_etl_spark.streaming import windows as W

        ev = W.stream_events(spark, sf_dir)
        return W.run_stream_to_table(
            W.interval_join(ev, "click", "purchase", "30 minutes"),
            mode="append",
        )

    # -- corpus-level statistical scoring ----------------------------------

    @register(
        "unigram_logprob_quality",
        sql="""
        WITH toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM documents
        ), vocab AS (
            SELECT term, COUNT(*) AS tf_corpus FROM toks GROUP BY term
        ), tot AS (
            SELECT COUNT(*) AS n_total FROM toks
        ), lp AS (
            SELECT term,
                   CAST(round(ln(CAST(tf_corpus AS DOUBLE)
                                 / CAST(n_total AS DOUBLE)) * 1000000, 0)
                        AS BIGINT) AS lp_micro
            FROM vocab CROSS JOIN tot
        ), doc AS (
            SELECT t.doc_id,
                   CAST(COUNT(*) AS BIGINT) AS n_tokens,
                   CAST(SUM(l.lp_micro) AS BIGINT) AS sum_lp_micro
            FROM toks t JOIN lp l USING (term)
            GROUP BY t.doc_id
        )
        SELECT doc_id, n_tokens, sum_lp_micro,
               CAST(sum_lp_micro AS DOUBLE) / 1000000.0
                   / CAST(n_tokens AS DOUBLE) AS mean_logprob,
               CAST(ntile(3) OVER (
                    ORDER BY CAST(sum_lp_micro AS DOUBLE) / 1000000.0
                             / CAST(n_tokens AS DOUBLE) DESC, doc_id)
                    AS INT) AS quality_bucket
        FROM doc
        """,
        tags=("ext-text",),
    )
    def q_unigram_logprob_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
        """CCNet-style quality scoring: per-doc mean log-prob under the
        corpus unigram LM + head/middle/tail bucket (`text.py:
        unigram_logprob_scores` — integer micro-nat snapping makes the
        per-doc sums exact and order-independent on both engines)."""
        return text.unigram_logprob_scores(T(spark, sf_dir, "documents"))

    _cross_band_joins = "\n            UNION ALL\n".join(
        f"""            SELECT a.doc_id AS batch_doc, b.doc_id AS corpus_doc,
                   {' + '.join(f'CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END' for i in range(dedup.N_MINHASH))} AS n_agree
            FROM bsig a JOIN csig b ON a.band_{b} = b.band_{b}"""
        for b in range(_bands)
    )

    @register(
        "minhash_incremental_pairs",
        sql=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks,
                   CAST(substr(source, 4) AS INT) AS src_num
            FROM documents
        ), sh AS (
            SELECT doc_id, src_num,
                   [concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                    for i in range(1, len(toks) - 1)] AS shingles
            FROM t
        ), mh AS (
            SELECT doc_id, src_num,
{_mh_cols}
            FROM sh
        ), sig AS (
            SELECT doc_id, src_num,
{_band_defs},
                   mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
            FROM mh
        ), bsig AS (
            SELECT * FROM sig WHERE src_num >= 10
        ), csig AS (
            SELECT * FROM sig WHERE src_num < 10
        ), cand AS (
{_cross_band_joins}
        )
        SELECT DISTINCT batch_doc, corpus_doc,
               CAST(n_agree AS DOUBLE) / {float(dedup.N_MINHASH)} AS est_jaccard
        FROM cand
        """,
        tags=("ext-dedup", "ext-sampling"),
    )
    def q_minhash_incremental_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Incremental-ingestion NEAR-dup (`dedup.minhash_cross_pairs`):
        the new batch (sources src10+) LSH-banded against the existing
        corpus (src0-9) — the fuzzy twin of incremental_dedup_new_docs'
        digest anti-join. Batch×corpus pairs meet only inside shared band
        buckets; at scale the corpus's banded signatures are a precomputed
        bucketed table, so a nightly batch never reshuffles the corpus."""
        d = T(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            F.expr("CAST(substr(source, 4) AS INT)").alias("src_num"),
        )
        batch = d.filter(F.col("src_num") >= 10).select("doc_id", "text")
        corpus = d.filter(F.col("src_num") < 10).select("doc_id", "text")
        return dedup.minhash_cross_pairs(batch, corpus)

    @register(
        "hybrid_search_rrf",
        sql=f"""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), sh AS (
            SELECT DISTINCT doc_id,
                   unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2])
                           for i in range(1, len(toks) - 1)]) AS sh
            FROM t
        ), lex AS (
            SELECT q.doc_id AS query_id, c.doc_id AS vec_id,
                   COUNT(*) AS n_common
            FROM sh q JOIN sh c ON q.sh = c.sh
            WHERE q.doc_id < 5
            GROUP BY 1, 2
        ), lexr AS (
            SELECT query_id, vec_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY n_common DESC, vec_id) AS INT) AS rnk
            FROM lex
            QUALIFY rnk <= 10
        ), q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   {_DOT_DD.format(a='e.embedding', b='q.q_vec')}
                   / ({_NORM_DD.format(a='e.embedding')}
                      * {_NORM_DD.format(a='q.q_vec')}) AS cos_sim
            FROM embeddings e CROSS JOIN q
        ), vecr AS (
            SELECT query_id, vec_id,
                   CAST(row_number() OVER (PARTITION BY query_id
                        ORDER BY cos_sim DESC, vec_id) AS INT) AS rnk
            FROM scored
            QUALIFY rnk <= 10
        ), fused AS (
            SELECT COALESCE(l.query_id, v.query_id) AS query_id,
                   COALESCE(l.vec_id, v.vec_id) AS vec_id,
                   COALESCE(CAST(1.0 AS DOUBLE) / (60 + l.rnk), 0.0)
                       + COALESCE(CAST(1.0 AS DOUBLE) / (60 + v.rnk), 0.0)
                       AS rrf_score
            FROM lexr l
            FULL OUTER JOIN vecr v
              ON l.query_id = v.query_id AND l.vec_id = v.vec_id
        )
        SELECT query_id, vec_id, rrf_score,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY rrf_score DESC, vec_id) AS INT) AS rank
        FROM fused
        QUALIFY rank <= 10
        """,
        tags=("ext-sim", "ext-text"),
    )
    def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hybrid retrieval (`sim.rrf_fuse`): a lexical top-10 (distinct
        3-gram shingle overlap via the inverted-index equi-join) and a
        vector top-10 (exact cosine) fused by reciprocal-rank fusion,
        score = Σ 1/(60+rank). Both candidate lists are corpus-scale-safe
        shapes; the fusion itself is O(queries × k). Integer ranks make
        the RRF score bit-identical across engines."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        sh = (
            text.with_shingles(docs, distinct=True, out="sh_arr")
            .select("doc_id", F.explode("sh_arr").alias("sh"))
        )
        q_side = sh.filter(F.col("doc_id") < 5).select(
            F.col("doc_id").alias("query_id"), "sh"
        )
        overlap = (
            q_side.join(sh, "sh")
            .groupBy("query_id", F.col("doc_id").alias("vec_id"))
            .agg(F.count("*").alias("n_common"))
        )
        w_lex = Window.partitionBy("query_id").orderBy(
            F.col("n_common").desc(), F.col("vec_id")
        )
        lexr = (
            overlap.withColumn("rank", F.row_number().over(w_lex).cast("int"))
            .filter(F.col("rank") <= 10)
            .select("query_id", "vec_id", "rank")
        )
        emb = T(spark, sf_dir, "embeddings")
        vecr = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
        return sim.rrf_fuse(lexr, vecr, k=10)

    @register(
        "consistent_sample_k",
        sql="""
        SELECT doc_id, source, n_chars
        FROM documents
        ORDER BY md5(concat_ws(':', 'v1', CAST(doc_id AS VARCHAR)))
        LIMIT 50
        """,
        tags=("ext-sampling",),
    )
    def q_consistent_sample_k(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Exact-k deterministic sample (`sampling.consistent_sample_k`):
        bottom-50 by salted md5 — run/engine/partitioning/append-stable,
        the distributed replacement for reservoir sampling. Spark plans
        the sort+limit as per-partition TakeOrdered (k rows per partition,
        never a full global sort)."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
        return sampling.consistent_sample_k(docs, k=50)

    @register(
        "oov_rate_new_sources",
        sql="""
        WITH d AS (
            SELECT doc_id, text,
                   CAST(substr(source, 4) AS INT) AS src_num
            FROM documents
        ), vocab AS (
            SELECT DISTINCT unnest(string_split(text, ' ')) AS term
            FROM d WHERE src_num < 10
        ), toks AS (
            SELECT doc_id, unnest(string_split(text, ' ')) AS term
            FROM d WHERE src_num >= 10
        )
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_oov,
               CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                   / CAST(COUNT(*) AS DOUBLE) AS oov_rate
        FROM toks t LEFT JOIN vocab v ON t.term = v.term
        GROUP BY t.doc_id
        """,
        tags=("ext-text", "ext-sampling"),
    )
    def q_oov_rate_new_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Tokenizer-drift gate (`sampling.oov_rate`): per-doc OOV rate of
        the new-source batch (src10+) against the established corpus's
        vocabulary (src0-9). Vocab is distinct-collapsed then broadcast —
        the batch token stream never shuffles for the join."""
        d = T(spark, sf_dir, "documents").select(
            "doc_id",
            "text",
            F.expr("CAST(substr(source, 4) AS INT)").alias("src_num"),
        )
        batch = d.filter(F.col("src_num") >= 10).select("doc_id", "text")
        corpus = d.filter(F.col("src_num") < 10).select("text")
        return sampling.oov_rate(batch, corpus)

    @register(
        "length_bucketed_batches",
        sql=f"""
        WITH d AS (
            SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
            FROM documents
        ), b AS (
            SELECT doc_id, n_tokens,
                   CAST(CASE WHEN n_tokens >= 128 THEN 3
                             WHEN n_tokens >= 64 THEN 2
                             WHEN n_tokens >= 32 THEN 1
                             ELSE 0 END AS INT) AS len_bucket,
                   CAST({sampling.sql_hash_bucket('doc_id',
                        seed='lenbatch-v1', n_buckets=64)} AS INT) AS len_sub
            FROM d
        ), r AS (
            SELECT doc_id, n_tokens, len_bucket, len_sub,
                   row_number() OVER (PARTITION BY len_bucket, len_sub
                        ORDER BY n_tokens, doc_id) - 1 AS rn
            FROM b
        )
        SELECT doc_id, n_tokens, len_bucket, len_sub,
               CAST((len_bucket * 64 + len_sub) * 4294967296 + rn // 16
                    AS BIGINT) AS batch_id,
               CAST(rn % 16 AS INT) AS pos_in_batch
        FROM r
        """,
        tags=("ext-sampling",),
    )
    def q_length_bucketed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Inference batching (`sampling.length_bucketed_batches`): band
        docs by token length (padding waste bounded by band width), salt
        each band into 64 md5 sub-streams, number fixed-size batches of 16
        within each (band, sub-stream) — deterministic integer arithmetic
        end-to-end, globally-unique batch ids, (bands·64)-way parallel
        window instead of a ≤4-way per-band sort."""
        d = T(spark, sf_dir, "documents").select(
            "doc_id",
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
        return sampling.length_bucketed_batches(d)

    # -- round-3 surface: corpus quality filters ---------------------------

    @register(
        "gopher_quality_report",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), s AS (
            SELECT doc_id,
                   CAST(len(toks) AS BIGINT) AS n_words,
                   CAST(list_reduce(list_transform(toks,
                            x -> CAST(length(x) AS BIGINT)),
                        (a, b) -> a + b) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE) AS mean_word_len,
                   CAST(len(list_distinct(toks)) AS DOUBLE)
                       / CAST(len(toks) AS DOUBLE) AS unique_frac,
                   list_has_any(toks, ['the', 'a']) AS has_stopword
            FROM t
        )
        SELECT doc_id, n_words, mean_word_len, unique_frac, has_stopword,
               (n_words >= 20 AND n_words <= 100000) AS ok_word_count,
               (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
                   AS ok_mean_word_len,
               (unique_frac >= 0.125) AS ok_unique_frac,
               ((n_words >= 20 AND n_words <= 100000)
                AND (mean_word_len >= 2.0 AND mean_word_len <= 10.0)
                AND (unique_frac >= 0.125) AND has_stopword) AS admitted
        FROM s
        """,
        # bench slot ceded to streaming_alert_ttl in r6 (VERDICT r5 #4:
        # the headline set lacked an applyInPandasWithState operator)
        tags=("ext-text",),
    )
    def q_gopher_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Gopher-style rule-based admission filters
        (`text.gopher_quality_report`): word-count bounds, mean word
        length, unique-word fraction, stopword presence → per-rule flags +
        admitted verdict. Narrow expressions end to end — the whole report
        runs at scan speed with zero shuffles."""
        return text.gopher_quality_report(T(spark, sf_dir, "documents"))

    @register(
        "top_bigram_repetition",
        sql="""
        WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS toks FROM documents
        ), bg AS (
            SELECT doc_id,
                   unnest([concat_ws(' ', toks[i], toks[i+1])
                           for i in range(1, len(toks))]) AS bigram
            FROM t
        ), pc AS (
            SELECT doc_id, bigram, COUNT(*) AS n FROM bg GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(n) AS BIGINT) AS n_bigrams,
               CAST(MAX(n) AS BIGINT) AS top_bigram_n,
               CAST(MAX(n) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                   AS top_bigram_frac
        FROM pc GROUP BY doc_id
        """,
        tags=("ext-text",),
    )
    def q_top_bigram_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-doc repetition signal (`text.top_bigram_fraction`): fraction
        of a document's bigrams covered by its most frequent bigram —
        Gopher's duplicate-n-gram boilerplate flag, two doc-keyed
        shuffles."""
        return text.top_bigram_fraction(T(spark, sf_dir, "documents"))

    @register(
        "dedup_rate_by_source",
        sql="""
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
               1.0 - (CAST(COUNT(DISTINCT md5(text)) AS DOUBLE)
                      / CAST(COUNT(*) AS DOUBLE)) AS dup_rate
        FROM documents GROUP BY source
        """,
        tags=("ext-dedup",),
    )
    def q_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-source duplication audit: exact-dup rate (1 − distinct
        digests / docs) by ingestion source — the triage report that tells
        a pipeline WHICH feed is rotten before any row-level dedup runs.
        Shuffles digests (16 B), never text."""
        d = T(spark, sf_dir, "documents")
        return (
            d.withColumn("__digest", F.md5("text"))
            .groupBy("source")
            .agg(
                F.count("*").alias("n_docs"),
                F.count_distinct("__digest").alias("n_unique"),
            )
            .withColumn(
                "dup_rate",
                F.lit(1.0)
                - (
                    F.col("n_unique").cast("double")
                    / F.col("n_docs").cast("double")
                ),
            )
        )

    # Oracle reuses the already-registered minhash self-join SQL as a CTE.
    from politicamente_etl_spark.plans.catalog import CATALOG as _CAT

    _minhash_pairs_sql = _CAT["minhash_near_dup_pairs"].sql

    @register(
        "near_dup_edit_distance",
        sql=f"""
        WITH cand AS ({_minhash_pairs_sql})
        SELECT c.doc_a, c.doc_b, c.est_jaccard,
               CAST(levenshtein(substr(a.text, 1, 80), substr(b.text, 1, 80))
                    AS INT) AS edit_distance
        FROM cand c
        JOIN documents a ON c.doc_a = a.doc_id
        JOIN documents b ON c.doc_b = b.doc_id
        """,
        tags=("ext-dedup",),
    )
    def q_near_dup_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Verifier chain: LSH candidate pairs (minhash banding) → join the
        two texts back → exact Levenshtein on the 80-char prefixes. The
        edit-distance DP is quadratic in the prefix length but runs ONLY on
        banded candidates (corpus-linear count), never all pairs — the
        standard cheap-filter→exact-verify cascade. Integer distance →
        oracle-exact."""
        docs = T(spark, sf_dir, "documents").select("doc_id", "text")
        cand = dedup.minhash_near_dup_pairs(docs)
        a = docs.select(
            F.col("doc_id").alias("doc_a"),
            F.substring("text", 1, 80).alias("__ta"),
        )
        b = docs.select(
            F.col("doc_id").alias("doc_b"),
            F.substring("text", 1, 80).alias("__tb"),
        )
        return (
            cand.join(a, "doc_a")
            .join(b, "doc_b")
            .select(
                "doc_a",
                "doc_b",
                "est_jaccard",
                F.levenshtein("__ta", "__tb").cast("int").alias("edit_distance"),
            )
        )

    @register(
        "temperature_mix_weights",
        sql="""
        WITH c AS (
            SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
        ), t AS (
            SELECT CAST(SUM(n_docs) AS BIGINT) AS n_total FROM c
        ), s AS (
            SELECT source, n_docs,
                   CAST(n_docs AS DOUBLE) / CAST(n_total AS DOUBLE) AS share,
                   CAST(floor(sqrt(CAST(n_docs AS DOUBLE)
                                   / CAST(n_total AS DOUBLE)) * 1e9)
                        AS BIGINT) AS w_micro
            FROM c CROSS JOIN t
        ), wt AS (
            SELECT CAST(SUM(w_micro) AS BIGINT) AS w_total FROM s
        )
        SELECT source, n_docs, share,
               CAST(w_micro AS DOUBLE) / CAST(w_total AS DOUBLE) AS weight
        FROM s CROSS JOIN wt
        """,
        tags=("ext-sampling",),
    )
    def q_temperature_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Temperature-scaled source mixing (T=2:
        `sampling.temperature_mix_weights`): per-source share^(1/2),
        integer-snapped and renormalized — the multilingual/multi-source
        rebalancing rule; feed the weights into stratified_hash_sample.
        sqrt (not pow) is correctly-rounded IEEE on both engines."""
        return sampling.temperature_mix_weights(
            T(spark, sf_dir, "documents"), strata_col="source", temperature=2.0
        )

    # -- round-3 surface: relational analytics (TPC-H-style shapes) --------

    @register(
        "discounted_revenue",
        sql=f"""
        SELECT {sql_money_sum("l_extendedprice * l_discount", "revenue")},
               COUNT(*) AS n_items
        FROM lineitem
        WHERE year(l_shipdate) = 1996
          AND l_discount >= 0.05 AND l_discount <= 0.07
          AND l_quantity < 24
        """,
        # bench slot ceded to copurchase_pagerank in r6 (VERDICT r5 #4:
        # the headline set lacked an iterative-graph operator)
        tags=("ext-rel",),
    )
    def q_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q6 shape: pure filter + ungrouped aggregate — the
        pushdown/codegen showcase (l_discount and l_quantity predicates
        reach the parquet scan; no shuffle at all, one partial-agg'd
        reduce). Revenue decimal-snapped."""
        li = T(spark, sf_dir, "lineitem")
        return (
            li.filter(
                (F.year("l_shipdate") == 1996)
                & (F.col("l_discount") >= 0.05)
                & (F.col("l_discount") <= 0.07)
                & (F.col("l_quantity") < 24)
            )
            .agg(
                money_sum(
                    F.col("l_extendedprice") * F.col("l_discount"), "revenue"
                ),
                F.count("*").alias("n_items"),
            )
        )

    @register(
        "promo_revenue_share",
        sql=f"""
        WITH j AS (
            SELECT p_type, l_extendedprice, l_discount
            FROM lineitem JOIN part ON l_partkey = p_partkey
        ), a AS (
            SELECT
                {sql_money_sum(
                    "CASE WHEN p_type = 'PROMO' "
                    "THEN l_extendedprice * (1 - l_discount) ELSE 0 END",
                    "promo_revenue")},
                {sql_money_sum("l_extendedprice * (1 - l_discount)",
                               "total_revenue")}
            FROM j
        )
        SELECT promo_revenue, total_revenue,
               promo_revenue / total_revenue AS promo_share
        FROM a
        """,
        tags=("ext-rel",),
    )
    def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q14 shape: conditional aggregation ratio over a broadcast
        dim join (part never shuffles the fact). Both sums decimal-snap
        before the final division, so the share is one exact double op."""
        li = T(spark, sf_dir, "lineitem")
        p = T(spark, sf_dir, "part").select("p_partkey", "p_type")
        rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        return (
            li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
            .agg(
                money_sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(0.0),
                    "promo_revenue",
                ),
                money_sum(rev, "total_revenue"),
            )
            .withColumn(
                "promo_share", F.col("promo_revenue") / F.col("total_revenue")
            )
        )

    @register(
        "order_priority_followups",
        sql="""
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND CAST(l.l_shipdate AS DATE)
                  > CAST(o.o_orderdate AS DATE) + 30
        )
        GROUP BY o_orderpriority
        """,
        tags=("ext-rel",),
    )
    def q_order_priority_followups(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q4 shape: correlated EXISTS as a LEFT SEMI join with a
        non-equi residual (lineitem shipped >30 days after the order
        date), then the priority rollup. The semi join still hashes on the
        equi key — the inequality is a residual filter, never a
        cross-product."""
        o = T(spark, sf_dir, "orders")
        li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
        cond = (o.o_orderkey == li.l_orderkey) & (
            li.l_shipdate.cast("date")
            > F.date_add(o.o_orderdate.cast("date"), 30)
        )
        return (
            o.join(li, cond, "left_semi")
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n_orders"))
        )

    @register(
        "small_quantity_revenue",
        sql=f"""
        WITH stats AS (
            SELECT l_partkey,
                   CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
                   COUNT(*) AS n_items
            FROM lineitem GROUP BY l_partkey
        ), small AS (
            SELECT l.l_extendedprice
            FROM lineitem l JOIN stats s ON l.l_partkey = s.l_partkey
            WHERE 5 * CAST(l.l_quantity AS BIGINT) * s.n_items < s.sum_qty
        ), a AS (
            SELECT {sql_money_sum("l_extendedprice", "price_sum")},
                   COUNT(*) AS n_small
            FROM small
        )
        SELECT price_sum / 7.0 AS avg_yearly, n_small FROM a
        """,
        tags=("ext-rel",),
    )
    def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q17 shape: scalar-correlated subquery (per-part average
        quantity) decorrelated into an aggregate + equi-join. The fractional
        threshold qty < 0.2·avg is algebraically rewritten to the
        ALL-INTEGER comparison 5·qty·n < sum_qty — exact on both engines,
        no division anywhere in the predicate."""
        li = T(spark, sf_dir, "lineitem")
        stats = li.groupBy("l_partkey").agg(
            F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
            F.count("*").alias("n_items"),
        )
        small = li.join(stats, "l_partkey").filter(
            F.lit(5) * F.col("l_quantity").cast("long") * F.col("n_items")
            < F.col("sum_qty")
        )
        return (
            small.agg(
                money_sum("l_extendedprice", "price_sum"),
                F.count("*").alias("n_small"),
            )
            .select(
                (F.col("price_sum") / F.lit(7.0)).alias("avg_yearly"),
                "n_small",
            )
        )

    @register(
        "top_supplier_revenue",
        sql=f"""
        WITH rev AS (
            SELECT l_suppkey,
                   {sql_money_sum("l_extendedprice * (1 - l_discount)",
                                  "total_rev")}
            FROM lineitem
            WHERE year(l_shipdate) = 1996 AND month(l_shipdate) <= 3
            GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_rev
        FROM rev r JOIN supplier s ON r.l_suppkey = s.s_suppkey
        WHERE r.total_rev = (SELECT MAX(total_rev) FROM rev)
        """,
        tags=("ext-rel",),
    )
    def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q15 shape: windowed revenue per supplier, then the
        argmax-by-aggregate (suppliers matching the max, ties all kept) —
        the max is a 1-row broadcast back onto the aggregate, never a
        global sort. Decimal-snapped sums make the float equality exact."""
        li = T(spark, sf_dir, "lineitem")
        rev = (
            li.filter(
                (F.year("l_shipdate") == 1996) & (F.month("l_shipdate") <= 3)
            )
            .groupBy("l_suppkey")
            .agg(
                money_sum(
                    F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount")),
                    "total_rev",
                )
            )
        )
        mx = rev.agg(F.max("total_rev").alias("__mx"))
        s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
        return (
            rev.crossJoin(F.broadcast(mx))
            .filter(F.col("total_rev") == F.col("__mx"))
            .join(
                F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey")
            )
            .select("s_suppkey", "s_name", "total_rev")
        )

    @register(
        "local_supplier_volume",
        sql=f"""
        SELECT n_name,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM lineitem
        JOIN orders   ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation   ON s_nationkey = n_nationkey
        WHERE c_nationkey = s_nationkey
          AND year(o_orderdate) = 1997
        GROUP BY n_name
        """,
        tags=("ext-rel",),
    )
    def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
        """TPC-H Q5 shape: revenue where the customer and supplier share a
        nation. supplier/nation broadcast; lineitem⋈orders is the one
        fact-fact shuffle (AQE picks sort-merge at scale); the
        customer-nation equality is a residual on already-joined rows."""
        li = T(spark, sf_dir, "lineitem")
        o = T(spark, sf_dir, "orders").filter(F.year("o_orderdate") == 1997)
        c = T(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
        s = T(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
        n = T(spark, sf_dir, "nation")
        rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
            .filter(F.col("c_nationkey") == F.col("s_nationkey"))
            .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
            .groupBy("n_name")
            .agg(money_sum(rev, "revenue"))
        )

    @register(
        "returned_items_top_customers",
        sql=f"""
        SELECT c.c_custkey, c.c_name,
               {sql_money_sum("l_extendedprice * (1 - l_discount)", "revenue")}
        FROM lineitem l
        JOIN orders o   ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20
        """,
        tags=("ext-rel",),
    )
    def q_returned_items_top_customers(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """TPC-H Q10 shape: lost-revenue rollup over returned items, top 20
        customers. The final order-by+limit plans as TakeOrdered (per-
        partition top-k, 20 rows per partition cross the wire — never a
        global sort); revenue ties break on c_custkey."""
        li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
        o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        c = T(spark, sf_dir, "customer").select("c_custkey", "c_name")
        rev = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .groupBy("c_custkey", "c_name")
            .agg(money_sum(rev, "revenue"))
            .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
            .limit(20)
        )

    # -- round-3 surface: temporal / event analytics -----------------------

    @register(
        "customer_order_gaps",
        sql="""
        SELECT o_orderkey, o_custkey,
               CAST(date_diff('day',
                    lag(CAST(o_orderdate AS DATE)) OVER w,
                    CAST(o_orderdate AS DATE)) AS BIGINT) AS gap_days
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
        tags=("ext-window",),
    )
    def q_customer_order_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Inter-event gap via lag(): days since the customer's previous
        order (NULL for the first). One shuffle on the customer key,
        per-partition sort — the purchase-cadence feature for churn/LTV
        models; integer day arithmetic is oracle-exact."""
        o = T(spark, sf_dir, "orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
        d = F.col("o_orderdate").cast("date")
        return o.select(
            "o_orderkey",
            "o_custkey",
            F.datediff(d, F.lag(d).over(w)).cast("long").alias("gap_days"),
        )

    @register(
        "orders_yoy_growth",
        sql=f"""
        WITH yearly AS (
            SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
                   {sql_money_sum("o_totalprice", "revenue")}
            FROM orders GROUP BY 1
        )
        SELECT order_year, revenue,
               lag(revenue) OVER (ORDER BY order_year) AS prev_revenue,
               (revenue - lag(revenue) OVER (ORDER BY order_year))
                   / lag(revenue) OVER (ORDER BY order_year) AS yoy_growth
        FROM yearly
        """,
        tags=("ext-window",),
    )
    def q_orders_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Year-over-year growth: yearly decimal-snapped revenue + lag
        window. The unpartitioned window runs on the POST-AGGREGATE year
        table (a handful of rows — same pattern as the elections dim), not
        the fact; growth is one exact double expression."""
        o = T(spark, sf_dir, "orders")
        yearly = (
            o.groupBy(F.year("o_orderdate").cast("long").alias("order_year"))
            .agg(money_sum("o_totalprice", "revenue"))
        )
        w = Window.orderBy("order_year")
        prev = F.lag("revenue").over(w)
        return yearly.select(
            "order_year",
            "revenue",
            prev.alias("prev_revenue"),
            ((F.col("revenue") - prev) / prev).alias("yoy_growth"),
        )

    @register(
        "events_ohlc_bars",
        sql="""
        WITH e AS (
            SELECT event_type, time_bucket(INTERVAL '1 hour', ts) AS bar,
                   ts, event_id, value
            FROM events
        ), r AS (
            SELECT *,
                   row_number() OVER (PARTITION BY event_type, bar
                        ORDER BY ts, event_id) AS rn_a,
                   row_number() OVER (PARTITION BY event_type, bar
                        ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM e
        )
        SELECT event_type,
               CAST(epoch(bar) AS BIGINT) AS bar_start_epoch,
               MIN(CASE WHEN rn_a = 1 THEN value END) AS open,
               MAX(value) AS high,
               MIN(value) AS low,
               MIN(CASE WHEN rn_d = 1 THEN value END) AS close,
               COUNT(*) AS n_events
        FROM r GROUP BY 1, 2
        """,
        tags=("ext-stream", "ext-window"),
    )
    def q_events_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hourly OHLC bars per event type (`temporal.ohlc_bars`): the
        metric-downsampling aggregate — open/close by (ts, id) rank,
        high/low exact comparisons, values never summed so raw doubles are
        hash-safe."""
        from politicamente_etl_spark.operators.temporal import ohlc_bars

        return ohlc_bars(load_events(spark, sf_dir))

    @register(
        "user_activity_profile",
        sql=f"""
        SELECT user_id,
               COUNT(*) AS n_events,
               CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
               CAST(epoch_ms(MIN(ts)) AS BIGINT) AS first_ts_ms,
               CAST(epoch_ms(MAX(ts)) AS BIGINT) AS last_ts_ms,
               {sql_money_sum("value", "total_value")}
        FROM events GROUP BY user_id
        """,
        tags=("ext-stream",),
    )
    def q_user_activity_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user activity profile: event count, distinct types, first/
        last seen (exact ms epochs), decimal-snapped value total — one
        partial-agg'd groupBy; count_distinct expands to a two-phase
        aggregate that still map-side combines."""
        ev = load_events(spark, sf_dir)
        return ev.groupBy("user_id").agg(
            F.count("*").alias("n_events"),
            F.count_distinct("event_type").alias("n_types"),
            F.unix_millis(F.min("ts")).alias("first_ts_ms"),
            F.unix_millis(F.max("ts")).alias("last_ts_ms"),
            money_sum("value", "total_value"),
        )

    # -- round-3 surface: embedding retrieval extras -----------------------

    @register(
        "mips_topk",
        sql=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   {_DOT_DD.format(a='e.embedding', b='q.q_vec')} AS dot_score
            FROM embeddings e CROSS JOIN q
        )
        SELECT query_id, vec_id, dot_score,
               CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY dot_score DESC, vec_id) AS INT) AS rank
        FROM scored
        QUALIFY rank <= 10
        """,
        tags=("ext-sim",),
    )
    def q_mips_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Maximum-inner-product top-10 (`sim.mips_topk`) — dot-product
        retrieval without norm division, the scoring for dot-trained
        embedding models. Same broadcast + WindowGroupLimit shape as
        cosine_topk."""
        emb = T(spark, sf_dir, "embeddings")
        return sim.mips_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)

    @register(
        "knn_label_vote",
        sql=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5
        ), scored AS (
            SELECT q.query_id, e.vec_id,
                   {_DOT_DD.format(a='e.embedding', b='q.q_vec')}
                   / ({_NORM_DD.format(a='e.embedding')}
                      * {_NORM_DD.format(a='q.q_vec')}) AS cos_sim
            FROM embeddings e CROSS JOIN q
        ), topk AS (
            SELECT query_id, vec_id FROM scored
            QUALIFY row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) <= 10
        ), votes AS (
            SELECT t.query_id, e.label, COUNT(*) AS n_votes
            FROM topk t JOIN embeddings e ON t.vec_id = e.vec_id
            GROUP BY 1, 2
        )
        SELECT query_id, CAST(label AS INT) AS pred_label,
               CAST(n_votes AS BIGINT) AS n_votes
        FROM votes
        QUALIFY row_number() OVER (PARTITION BY query_id
                ORDER BY n_votes DESC, label) = 1
        """,
        tags=("ext-sim",),
    )
    def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
        """k-NN classification by retrieval: cosine top-10 per query →
        majority label vote (ties break on the smaller label). The label
        join touches only q×k candidate rows; the vote is a tiny two-level
        aggregate — classification at retrieval cost."""
        emb = T(spark, sf_dir, "embeddings")
        topk = sim.cosine_topk(emb, emb.filter(F.col("vec_id") < 5), k=10)
        labels = emb.select("vec_id", "label")
        votes = (
            topk.join(labels, "vec_id")
            .groupBy("query_id", "label")
            .agg(F.count("*").alias("n_votes"))
        )
        w = Window.partitionBy("query_id").orderBy(
            F.col("n_votes").desc(), F.col("label")
        )
        return (
            votes.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") == 1)
            .select(
                "query_id",
                F.col("label").cast("int").alias("pred_label"),
                F.col("n_votes").cast("long").alias("n_votes"),
            )
        )

    @register(
        "ann_recall_report",
        sql=f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_vec
            FROM embeddings WHERE vec_id < 5
        ), ex_scored AS (
            SELECT q.query_id, e.vec_id,
                   {_DOT_DD.format(a='e.embedding', b='q.q_vec')}
                   / ({_NORM_DD.format(a='e.embedding')}
                      * {_NORM_DD.format(a='q.q_vec')}) AS cos_sim
            FROM embeddings e CROSS JOIN q
        ), exact AS (
            SELECT query_id, vec_id FROM ex_scored
            QUALIFY row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) <= 10
        ), sigc AS (
            SELECT vec_id, embedding,
                   {_sql_bucket('embedding', _TOPK_PLANES)} AS bucket,
                   {_NORM_DD.format(a='embedding')} AS nrm
            FROM embeddings
        ), sigq AS (
            SELECT vec_id AS query_id, embedding AS q_vec, bucket,
                   nrm AS q_nrm
            FROM sigc WHERE vec_id < 5
        ), l_scored AS (
            SELECT q.query_id, c.vec_id,
                   {_DOT_DD.format(a='c.embedding', b='q.q_vec')}
                       / (c.nrm * q.q_nrm) AS cos_sim
            FROM sigc c JOIN sigq q USING (bucket)
        ), approx AS (
            SELECT query_id, vec_id FROM l_scored
            QUALIFY row_number() OVER (PARTITION BY query_id
                    ORDER BY cos_sim DESC, vec_id) <= 10
        )
        SELECT e.query_id,
               CAST(COUNT(*) AS BIGINT) AS n_overlap,
               CAST(COUNT(*) AS DOUBLE) / 10.0 AS recall_at_10
        FROM exact e
        JOIN approx a ON e.query_id = a.query_id AND e.vec_id = a.vec_id
        GROUP BY e.query_id
        """,
        tags=("ext-sim",),
    )
    def q_ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """ANN quality audit: recall@10 of the hyperplane-LSH top-k against
        the exact top-k, per query — the operator a pipeline runs before
        trusting an index at scale. Both rankings are corpus-safe shapes;
        the recall join is O(queries × k). Seeded literal planes make even
        the approximate side oracle-reproducible."""
        emb = T(spark, sf_dir, "embeddings")
        queries = emb.filter(F.col("vec_id") < 5)
        exact = sim.cosine_topk(emb, queries, k=10).select("query_id", "vec_id")
        approx = sim.cosine_topk_lsh(
            emb, queries, _TOPK_PLANES, k=10
        ).select("query_id", "vec_id")
        return (
            exact.join(approx, ["query_id", "vec_id"])
            .groupBy("query_id")
            .agg(F.count("*").cast("long").alias("n_overlap"))
            .withColumn(
                "recall_at_10", F.col("n_overlap").cast("double") / F.lit(10.0)
            )
        )


_register()
