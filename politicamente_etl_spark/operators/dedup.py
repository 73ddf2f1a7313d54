"""Deduplication operators (SURVEY.md §2.10): exact, MinHash, n-gram
Jaccard. SimHash and pyspark.ml LSH variants layer on top.

Scale notes (the part that matters at 100 TB):
- Exact dedup groups on a 128-bit digest, not the document body — the
  shuffle carries 16 bytes + ids per row instead of full texts.
- MinHash signatures are computed per-row from the shingle array with
  expression-level folds (no explode → no row blow-up before the shuffle).
- Candidate generation is LSH banding: documents meet only within a band
  bucket, so the pair join is |bucket|² per bucket, never |corpus|².
- Verification (exact Jaccard) runs only on banded candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from politicamente_etl_spark.operators.core import spread
from politicamente_etl_spark.operators.graph import fixpoint
from politicamente_etl_spark.operators.text import has_shingle, shingles_regex

N_MINHASH = 8  # permutations; md5-keyed, engine-portable
BAND_SIZE = 2  # 4 bands × 2 rows

# The signature pipeline's expressions are SQL strings, one parse per
# expression (the `sim.DOT_DOUBLE` idiom): a Column tree costs a py4j
# round-trip per node, and the same optimized plan built that way took
# 2 374 round-trips per `minhash_near_dup_pairs` build against 249.
#
# One md5-keyed minhash: min over shingles of md5(perm || shingle). md5
# is identical across engines → oracle-checkable, unlike JVM
# hashCode-based hashes.
MINHASH_SQL = "array_min(transform(__shingles, s -> md5(concat_ws(':', '{perm}', s))))"


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Exact dedup via content digest: one row per distinct md5(text),
    keeping the smallest id (deterministic), with the duplicate count."""
    return (
        df.withColumn("text_hash", F.md5(F.col(text_col)))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").alias("n_copies"),
        )
    )


def with_minhash_signature(
    df: DataFrame, text_col: str = "text", n_perm: int = N_MINHASH
) -> DataFrame:
    """MinHash signature columns mh_0..mh_{n-1} from SHINGLE_N-gram token
    shingles (shingles_regex's default, the width has_shingle pre-filters
    on: mh_0 is NULL exactly when has_shingle is not TRUE).
    Per-row expressions only — the plan stays narrow until a consumer
    groups or joins.

    The shingle array is materialized in its own projection first so the
    n_perm minhash lambdas each read a bound column; inlining the shingle
    expression would evaluate the tokenizer n_perm times per row (Catalyst
    keeps non-cheap aliases un-collapsed, which is what makes the two-step
    shape stick). Shingling itself is the single-pass regex form — see
    shingles_regex for why it beats the HOF shapes."""
    sh = df.withColumn("__shingles", shingles_regex(text_col))
    return sh.withColumns(
        {f"mh_{i}": F.expr(MINHASH_SQL.format(perm=i)) for i in range(n_perm)}
    ).drop("__shingles")


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = N_MINHASH,
    band_size: int = BAND_SIZE,
    hot_bucket_cap: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs via MinHash LSH banding, with the estimated
    Jaccard = fraction of agreeing minhashes. Pairs meet only inside band
    buckets — the 100 TB-safe shape: no cross join anywhere.

    Plan shape: bands are EXPLODED into (band_id, band_key) rows and all
    bands meet in ONE self equi-join, instead of n_bands separate joins
    unioned (which re-computed the signature per band side). The
    shuffle_hash hint makes both join sides identical shuffles, so Spark
    reuses one exchange — the signature pipeline runs once (measured ~25%
    faster than the unioned form, and the gap widens with n_bands).

    Width: est_jaccard only needs EQUALITY of minhashes, so the md5 minhash
    strings are collapsed to xxhash64 longs before the shuffle — the join
    payload is n_perm longs (64 B) instead of n_perm 32-char strings
    (~256 B+), and the band key is one xxhash64 over the band's minhashes
    instead of an md5 string. Equality is preserved modulo 64-bit
    collisions (negligible; one collision flips one agreement bit by 1/8).

    ``hot_bucket_cap``: skew guard for degenerate corpora. A band bucket
    holding m documents emits m·(m-1)/2 candidate pairs — one viral
    boilerplate string shared by 10⁶ docs would put 5·10¹¹ pairs through
    a single reducer. With the cap set, buckets larger than it are
    EXCLUDED from pair generation (one count agg + join on the same band
    key — the exchange is reused). That is the production semantics:
    members of an over-hot bucket are near-identical en masse and belong
    to exact-dedup / per-bucket representative handling, not pairwise
    scoring. Off (None) by default so the oracle-checked query keeps
    exhaustive banding semantics."""
    # r10: the r9 localCheckpoint barrier here is REMOVED. What it fixed
    # — the scan-stage re-derivation of the signature under a pushed,
    # substituted `mh_0 IS NOT NULL` filter — is now fixed at the source
    # (the cheap has_shingle pre-filter in _signature_table), and the
    # single-derivation property the barrier bought comes free from AQE
    # exchange reuse: both self-join sides are byte-identical
    # scan→filter→fan-out→signature→explode→shuffle subtrees (the
    # shuffle_hash hint keeps them symmetric), so at runtime ONE shuffle
    # stage computes the banded signature and both sides read it
    # (ReusedExchange in the final plan, plans/r10/). The barrier itself
    # was a net loss: materializing the exploded corpus-sized relation
    # cost more than it saved at sf0.1 (r9: 1.37 s → 1.87 s) and RDD
    # checkpoint blocks have no lineage fallback at scale (VERDICT r9
    # item 3). r10 A/B: lc 1.88 s / no-barrier 1.74 s / no-barrier +
    # prefilter 1.19 s.
    ex = _banded_signature(df, text_col, id_col, n_perm, band_size)
    if hot_bucket_cap is not None:
        sizes = ex.groupBy("band_id", "band_key").agg(
            F.count("*").alias("__bucket_n")
        )
        ex = (
            ex.join(sizes.hint("shuffle_hash"), ["band_id", "band_key"])
            .filter(F.col("__bucket_n") <= hot_bucket_cap)
            .drop("__bucket_n")
        )
    agree = " + ".join(
        f"CASE WHEN a.mh_{i} = b.mh_{i} THEN 1 ELSE 0 END" for i in range(n_perm)
    )
    # est_jaccard BEFORE the pair-dedup: a pair matching in k bands gets the
    # same estimate from every band, so dedup-after-project is equivalent —
    # and the dedup shuffle then carries 3 columns, not 2·n_perm signature
    # longs.
    return (
        ex.alias("a")
        .join(
            ex.alias("b").hint("shuffle_hash"),
            F.expr(
                "a.band_id = b.band_id AND a.band_key = b.band_key"
                f" AND a.{id_col} < b.{id_col}"
            ),
        )
        .selectExpr(
            f"a.{id_col} AS doc_a",
            f"b.{id_col} AS doc_b",
            f"CAST({agree} AS DOUBLE) / CAST({float(n_perm)} AS DOUBLE) AS est_jaccard",
        )
        .dropDuplicates(["doc_a", "doc_b"])
    )


def _signature_table(
    df: DataFrame, text_col: str, id_col: str, n_perm: int, band_size: int
) -> DataFrame:
    """One row per doc: xxhash64-collapsed minhashes mh_0..mh_{n-1} plus
    the per-band bucket keys band_0..band_{b-1}. The band keys hash the
    ORIGINAL md5 minhash strings (not the collapsed longs) — both join
    shapes below depend on that equality contract."""
    # Docs with fewer tokens than the shingle width have an EMPTY shingle
    # set → every array_min minhash is NULL → xxhash64(NULL) collapses to
    # one shared constant, which would put every short doc in the same
    # band bucket and report all of them as mutual est_jaccard=1.0
    # near-dups (false positives + the exact m²-pair hot-bucket blowup
    # the cap exists for). MinHash is undefined on an empty set: such
    # docs get NO signature row and therefore never pair.
    #
    # r10 opt (guide §4.4's duplicated-evaluation pathology, measured):
    # this used to be `sig.filter(mh_0 IS NOT NULL)` AFTER the signature
    # projection — the optimizer pushed that filter below the fan-out
    # repartition BY SUBSTITUTION, so the scan stage evaluated one full
    # regex+md5-minhash pass per row on the (single at bench SF) scan
    # partition, serialized, on BOTH self-join sides. The text-level
    # predicate is exactly equivalent — `mh_0 IS NULL ⇔ zero shingle
    # matches ⇔ NOT rlike(n-token window)` (and NULL text fails both) —
    # and costs one linear rlike at the scan instead of a minhash pass
    # (r10 A/B: 1.74 s → 1.19 s for the pair query at sf0.1).
    sig = with_minhash_signature(
        spread(
            df.select(id_col, text_col).filter(has_shingle(text_col)), id_col
        ),
        text_col,
        n_perm,
    ).drop(text_col)
    band_keys = [
        ", ".join(f"mh_{b * band_size + r}" for r in range(band_size))
        for b in range(n_perm // band_size)
    ]
    return sig.selectExpr(
        id_col,
        *[f"xxhash64(mh_{i}) AS mh_{i}" for i in range(n_perm)],
        *[f"xxhash64({k}) AS band_{b}" for b, k in enumerate(band_keys)],
    )


def _banded_signature(
    df: DataFrame, text_col: str, id_col: str, n_perm: int, band_size: int
) -> DataFrame:
    """Exploded (band_id, band_key) rows + xxhash64-collapsed signature —
    the shared front half of the self-join and cross-join LSH shapes."""
    sig = _signature_table(df, text_col, id_col, n_perm, band_size)
    mh_cols = [f"mh_{i}" for i in range(n_perm)]
    return _explode_bands(sig, id_col, n_perm // band_size, carry=mh_cols)


def _explode_bands(
    sig: DataFrame, id_col: str, n_bands: int, carry: list[str]
) -> DataFrame:
    """Explode a signature table into (band_id, band_key) rows, carrying
    only ``carry`` extra columns — the exchange payload of any downstream
    band join is exactly id + carry + 12 bytes of band key."""
    structs = ", ".join(
        f"struct({band} AS band_id, band_{band} AS band_key)"
        for band in range(n_bands)
    )
    return sig.selectExpr(
        id_col, *carry, f"explode(array({structs})) AS bk"
    ).selectExpr(id_col, *carry, "bk.band_id", "bk.band_key")


def minhash_cross_pairs(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perm: int = N_MINHASH,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """Incremental-ingestion NEAR-dup: candidate pairs between a NEW batch
    and the EXISTING corpus via MinHash LSH banding — the fuzzy twin of
    the digest anti-join (`incremental_dedup_new_docs`). A batch doc pairs
    with a corpus doc only when they share a band bucket, so the join cost
    is O(|batch| + |corpus|) shuffle + bucket-local products — never
    |batch| × |corpus|.

    At 100 TB the corpus side's banded signature is a PRECOMPUTED bucketed
    table (signatures are append-only — computed once per doc at
    admission), so each nightly batch shuffles only itself plus the
    colliding corpus buckets; this function models that with an eager
    localCheckpoint of each side's signature table — computed once,
    reused by both the band explode and the estimate re-join below.

    The candidate exchange is NARROW by construction: the band join
    carries only (id, band_id, band_key) — no signature columns — so its
    shuffle payload is independent of n_perm (a 128-perm signature would
    otherwise push 1 KB per exploded row through the exchange). The
    deduplicated candidate pairs then re-join the two signature tables on
    doc id (equi-joins against candidate-sized inputs) and est_jaccard =
    fraction of agreeing minhashes via one zip_with fold.

    Output: (batch_doc, corpus_doc, est_jaccard) — downstream either drops
    batch docs with any pair over a threshold (strict) or routes them to
    the exact-Jaccard verifier (ngram_jaccard shapes)."""
    b_sig = _signature_table(
        batch, text_col, id_col, n_perm, band_size
    ).localCheckpoint()
    c_sig = _signature_table(
        corpus, text_col, id_col, n_perm, band_size
    ).localCheckpoint()
    return minhash_cross_pairs_from_signatures(
        b_sig, c_sig, id_col=id_col, n_perm=n_perm, band_size=band_size
    )


def minhash_cross_pairs_from_signatures(
    b_sig: DataFrame,
    c_sig: DataFrame,
    id_col: str = "doc_id",
    n_perm: int = N_MINHASH,
    band_size: int = BAND_SIZE,
) -> DataFrame:
    """The back half of `minhash_cross_pairs`, taking PRECOMPUTED
    `_signature_table`-shaped inputs (id, mh_0.., band_0..) — the entry
    point for callers that persist signatures as managed state (the
    corpus pipeline's nightly shape: the corpus side is an append-only
    parquet table, never re-shingled). Signature rows with NULL minhashes
    (docs below the shingle width) never pair: NULL band keys fail the
    equi-join on both sides.

    One definition serves both call sites, so candidate-join fixes
    propagate to the pipeline automatically (SURVEY round-4 fix #4)."""
    n_bands = n_perm // band_size
    mh_cols = [f"mh_{i}" for i in range(n_perm)]
    b_ex = _explode_bands(b_sig, id_col, n_bands, carry=[])
    c_ex = _explode_bands(c_sig, id_col, n_bands, carry=[])
    cand = (
        b_ex.alias("a")
        .join(
            c_ex.alias("b").hint("shuffle_hash"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key")),
        )
        .select(
            F.col(f"a.{id_col}").alias("batch_doc"),
            F.col(f"b.{id_col}").alias("corpus_doc"),
        )
        .dropDuplicates(["batch_doc", "corpus_doc"])
    )
    sig_a = b_sig.select(
        F.col(id_col).alias("batch_doc"), F.array(*mh_cols).alias("__sig_a")
    )
    sig_b = c_sig.select(
        F.col(id_col).alias("corpus_doc"), F.array(*mh_cols).alias("__sig_b")
    )
    agree = F.size(
        F.filter(
            F.zip_with("__sig_a", "__sig_b", lambda x, y: x == y),
            lambda v: v,
        )
    )
    return (
        cand.join(sig_a, "batch_doc")
        .join(sig_b, "corpus_doc")
        .withColumn(
            "est_jaccard", agree.cast("double") / F.lit(float(n_perm))
        )
        .select("batch_doc", "corpus_doc", "est_jaccard")
    )


SIMHASH_BITS = 16  # compact demo width; production would pack 64


def with_simhash(df: DataFrame, text_col: str = "text", n_bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash document signature: each token hashes to an integer
    (md5-prefix → conv base16, bit-identical to DuckDB's '0x' cast); bit i
    of the signature is the majority vote of token-hash bit i. Near-dup
    docs differ in few bits (Hamming distance).

    Two expression passes, both narrow: hash each token once, then n_bits
    majority counts over the integer array — no explode, no shuffle."""
    df = df.withColumn(
        "__tok_hashes",
        F.expr(
            f"transform(split({text_col}, ' '),"
            " t -> CAST(conv(substring(md5(t), 1, 15), 16, 10) AS BIGINT))"
        ),
    )
    n = F.size("__tok_hashes")

    def bit_test(i: int):
        # closure factory: a one-arg lambda (two args would be read as the
        # (element, index) form and break shiftright's int parameter)
        return lambda h: F.shiftright(h, i).bitwiseAND(1) == 1

    sig = F.lit(0).cast("long")
    for i in range(n_bits):
        ones = F.size(F.filter("__tok_hashes", bit_test(i)))
        bit = F.when((ones * 2) >= n, F.lit(1)).otherwise(F.lit(0))
        sig = sig + (bit * (1 << i)).cast("long")
    return df.withColumn("simhash", sig).drop("__tok_hashes")


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs: candidates meet on an 8-bit band of the
    signature (high or low byte — any pair within Hamming ≤ 3 of a 16-bit
    signature could still differ in both bands, so this is the classic
    recall/cost trade; more+narrower bands raise recall), then exact
    Hamming distance filters. Band join is an equi-join — scales."""
    sig = with_simhash(spread(df.select(id_col, text_col), id_col), text_col).drop(text_col)
    # explode the two 8-bit bands into (band_id, band_key) rows and meet in
    # ONE self equi-join — same shape as minhash_near_dup_pairs: the
    # signature pipeline and its exchange run once (ReusedExchange) instead
    # of once per band, and adding bands never adds joins
    ex = sig.select(
        id_col,
        "simhash",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("band_id"),
                    F.shiftright("simhash", 8).alias("band_key"),
                ),
                F.struct(
                    F.lit(1).alias("band_id"),
                    F.col("simhash").bitwiseAND(255).alias("band_key"),
                ),
            )
        ).alias("bk"),
    ).select(id_col, "simhash", "bk.band_id", "bk.band_key")
    a, b = ex.alias("a"), ex.alias("b")
    pairs = a.join(
        b.hint("shuffle_hash"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
    ).select(
        F.col(f"a.{id_col}").alias("doc_a"),
        F.col(f"b.{id_col}").alias("doc_b"),
        F.col("a.simhash").alias("sim_a"),
        F.col("b.simhash").alias("sim_b"),
    )
    # hamming + threshold BEFORE the pair-dedup: identical per duplicate
    # pair, and filtering first shrinks the dedup shuffle to surviving rows
    return (
        pairs.withColumn(
            "hamming",
            F.bit_count(
                F.col("sim_a").bitwiseXOR(F.col("sim_b"))
            ).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def ml_minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.6,
    num_hash_tables: int = 8,
) -> DataFrame:
    """pyspark.ml-native near-dup: HashingTF over tokens → MinHashLSH →
    approxSimilarityJoin (distance = 1 - Jaccard estimate). The JVM hash
    family is engine-internal (not oracle-reproducible) — this is the
    library route; the md5-keyed minhash above is the portable twin."""
    from pyspark.ml.feature import HashingTF, MinHashLSH, Tokenizer

    toks = Tokenizer(inputCol=text_col, outputCol="__toks").transform(
        spread(df.select(id_col, text_col), id_col)
    )
    vecs = HashingTF(
        inputCol="__toks", outputCol="__vec", numFeatures=1 << 18, binary=True
    ).transform(toks)
    lsh = MinHashLSH(
        inputCol="__vec", outputCol="__hashes", numHashTables=num_hash_tables, seed=42
    ).fit(vecs)
    # r9 opt: approxSimilarityJoin(df, df) re-derives BOTH dataset sides
    # from scratch — tokenizer, 2^18-dim HashingTF, and (when the hash
    # column is absent) the per-row MinHash UDF each run twice. Transform
    # once, cut lineage, and hand the join the hashed relation: the join
    # sees `__hashes` present and skips its own transform, so the whole
    # featurize+hash pipeline runs exactly once. Pairs are unchanged
    # (same model, same hashes).
    hashed = lsh.transform(vecs).localCheckpoint(eager=False)
    pairs = lsh.approxSimilarityJoin(
        hashed, hashed, 1.0 - threshold, distCol="dist"
    )
    return (
        pairs.filter(F.col(f"datasetA.{id_col}") < F.col(f"datasetB.{id_col}"))
        .select(
            F.col(f"datasetA.{id_col}").alias("doc_a"),
            F.col(f"datasetB.{id_col}").alias("doc_b"),
            (F.lit(1.0) - F.col("dist")).alias("est_jaccard"),
        )
    )


def near_dup_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 15,
) -> DataFrame:
    """Resolve near-dup PAIRS into connected-component CLUSTERS — the step
    that turns candidate generation into an actual dedup decision: every
    document gets a cluster_id (the smallest doc id reachable through the
    pair graph) and `is_canonical` marks the one row per cluster to keep.

    Algorithm: iterative min-label propagation. Each round every node
    takes min(own label, neighbors' labels); after d rounds a label has
    traveled d hops, so the loop converges in graph-diameter rounds (near-
    dup graphs are overwhelmingly tiny cliques — diameter 1-2). Labels
    only ever decrease, so a round that leaves the sum of labels
    unchanged moved no label: `graph.fixpoint` observes that sum on each
    round's checkpoint and stops there, with no separate job to test
    convergence. Labels travel only through df's nodes: a pair endpoint
    df does not hold is neither labeled nor a bridge.

    Scale notes: labels are `localCheckpoint`ed each round to cut the
    growing lineage (else round k replays rounds 1..k-1). Each round is
    one shuffle join + one aggregate on (node, label) longs. Rounds are
    O(diameter) and the call raises past ``max_iter`` rather than return
    a split cluster; graphs with long chains or giant components go
    through `graph.connected_components` (large-star/small-star, O(log n)
    rounds on any topology), which yields the same labeling on the
    induced subgraph (tests/test_graph.py)."""
    edges = pairs.select(
        F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")
    )
    edges = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)

    def step(labels: DataFrame) -> DataFrame:
        nbr_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_min"))
        )
        return labels.join(nbr_min, labels.node == nbr_min.src, "left").select(
            "node",
            F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias(
                "label"
            ),
        )

    labels = fixpoint(
        df.select(F.col(id_col).alias("node"))
        .distinct()
        .withColumn("label", F.col("node")),
        step,
        ("label",),
        max_iter,
        "near_dup_clusters",
    )
    return labels.select(
        F.col("node").alias(id_col),
        F.col("label").alias("cluster_id"),
        F.when(F.col("node") == F.col("label"), 1).otherwise(0).alias("is_canonical"),
    )


def dedup_cluster_report(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply the dedup decision and account for it: per multi-document
    cluster, how many docs collapse into the canonical one and how many
    characters the cleaned corpus keeps vs drops. This is the report a
    training-data pipeline publishes after a dedup pass (corpus shrinkage
    must be auditable before anyone trains on the output).

    One broadcast-or-shuffle join (cluster labels are two longs + a flag —
    tiny next to the corpus) and one aggregate on cluster_id; no second
    scan of the text column because the length is projected before the
    join."""
    sized = docs.select(
        F.col(id_col), F.length(F.col(text_col)).alias("n_chars")
    )
    return (
        clusters.join(sized, id_col)
        .groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("chars_total"),
            F.sum(
                F.when(F.col("is_canonical") == 1, F.col("n_chars")).otherwise(
                    F.lit(0)
                )
            ).alias("chars_kept"),
        )
        .filter(F.col("n_docs") >= 2)
        .withColumn("chars_dropped", F.col("chars_total") - F.col("chars_kept"))
        .select("cluster_id", "n_docs", "chars_total", "chars_kept", "chars_dropped")
    )


def cross_split_contamination(
    docs_with_split: DataFrame,
    train: str = "train",
    test: str = "test",
    id_col: str = "doc_id",
    text_col: str = "text",
    split_col: str = "split",
) -> DataFrame:
    """Train→test contamination check: for every TEST document, how many of
    its distinct token shingles also occur anywhere in the TRAIN split.
    This is the eval-decontamination step of a training-data pipeline —
    a test doc whose shingles are largely present in train is leaked.

    Plan shape: one scan shingles both splits (the split predicate rides
    in a projection, not two scans), the train side collapses to a
    distinct shingle set, and the test side LEFT-joins it with a hit
    marker so one aggregate yields both the total and the contaminated
    count — no second join, no count-then-rejoin. The join key is
    xxhash64(shingle) (8-byte shuffle rows, long compares — same
    trade-off as ngram_jaccard_pairs). The train-distinct shuffle and the
    join shuffle share the same key, so AQE reuses the exchange
    partitioning.

    At 100 TB the train shingle set is the big side; this stays a plain
    shuffled equi-join (bucket-local by shingle), and hot shingles (stop
    phrases) are the skew risk — mitigate upstream with stopword-shingle
    filtering or AQE skew-join (on in session.py)."""
    sh = spread(
        docs_with_split.select(id_col, split_col, text_col), id_col
    ).select(
        F.col(id_col),
        F.col(split_col),
        F.explode(F.array_distinct(shingles_regex(text_col))).alias("sh"),
    ).withColumn("sh", F.xxhash64("sh"))
    train_sh = (
        sh.filter(F.col(split_col) == train)
        .select("sh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    test_sh = sh.filter(F.col(split_col) == test).select(id_col, "sh")
    return (
        test_sh.join(train_sh, "sh", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "contamination",
            F.col("n_contaminated").cast("double")
            / F.col("n_grams").cast("double"),
        )
        .select(id_col, "n_grams", "n_contaminated", "contamination")
    )


def _hashed_posting_list(
    df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """The exploded (id, n_sh, xxhash64(shingle)) inverted index shared by
    the Jaccard and containment pair shapes.

    r10: shaped so NO optimizer rule can copy the regex shingle pass into
    the scan stage (the r9 localCheckpoint barrier fixed that by
    materializing the corpus-sized posting list — at 2.3x the cost at
    sf0.1, and RDD checkpoint blocks have no lineage fallback at scale):

    - explode_outer instead of explode: InferFiltersFromGenerate fires
      only for inner generates, so no `size(shs) > 0 AND isnotnull(shs)`
      filter is inferred and pushed below the fan-out repartition by
      SUBSTITUTION (which re-evaluated the full regex pass twice per row,
      serialized on the single bench-SF scan partition). The explicit
      `sh IS NOT NULL` on the GENERATED column restores exactly explode's
      semantics — empty/NULL shingle sets emit one NULL row, then drop;
      regexp_extract_all never yields NULL elements — and a predicate on
      a generated column cannot be pushed below its generate.
    - coalesce(size(shs), 0) makes n_sh non-nullable, so downstream
      threshold filters' inferred `isnotnull(n_a/n_b)` constraints fold
      away instead of substituting ANOTHER regex copy into the scan.
      Value-identical: size() is NULL only for NULL shs, whose row the
      explode path never emitted anyway.

    Self-join consumers keep both sides byte-identical subtrees, so AQE
    reuses ONE fan-out exchange at runtime — scan and shuffle run once.
    r10 A/B (ngram_jaccard_pairs, sf0.1): r9 barrier 1.81 s / bare
    no-barrier 0.97 s / this shape 0.72 s (r8 baseline 0.77 s)."""
    return (
        spread(df.select(id_col, text_col), id_col)
        .select(
            F.col(id_col),
            F.array_distinct(shingles_regex(text_col)).alias("shs"),
        )
        .select(
            F.col(id_col),
            F.coalesce(F.size("shs"), F.lit(0)).alias("n_sh"),
            F.explode_outer("shs").alias("sh"),
        )
        .filter(F.col("sh").isNotNull())
        .withColumn("sh", F.xxhash64("sh"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.4,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs: explode distinct shingles,
    self-join on shingle (inverted index — pairs only meet on shared
    shingles), count intersections, Jaccard = |∩| / (|A|+|B|-|∩|).

    At 100 TB the shingle join is the scale risk (hot shingles → skew);
    mitigations: stopword-shingle filtering and AQE skew-join (enabled in
    session.py). Kept exact here because it is the oracle-checkable
    verifier for the LSH estimate.

    Plan shape: the distinct-shingle set size is computed ONCE per doc from
    the array (`F.size`) and carried through the explode, so the pair
    aggregate already has |A| and |B| in its grouping keys — no separate
    per-doc size aggregation and no post-agg re-joins (saves two shuffles
    and two scans of the corpus vs the naive 4-branch formulation).

    The input is `spread` to all cores first — shingling is expression-CPU
    bound, and a one-file bench scan would otherwise run it on one thread
    (at real scale the scan has >= cores splits and spread is a no-op).
    The shingle set is built with the single-pass regex form
    (shingles_regex) — shingling dominated this query's runtime under the
    HOF fold (interpreted per-element, accumulator array copies); the
    regex swap took the sf0.1 query from ~3.4s to ~1.1s warm.

    The join key is xxhash64(shingle), not the shingle string: the shuffle
    carries 8 bytes instead of a ~20-40 byte string and the join compares
    longs (measured ~2.5-3x end-to-end at sf0.1). A 64-bit collision would
    merge two shingles' posting lists; at even 10^9 distinct shingles the
    birthday bound is ~3% for one collision anywhere, and one collision
    perturbs one n_common count by at most 1 — acceptable for a dedup
    verifier (and the sf0.01 oracle run is collision-free in practice)."""
    sh = _hashed_posting_list(df, text_col, id_col)
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count("*").alias("n_common"))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def jaccard_pairs_prefix_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    t_num: int = 2,
    t_den: int = 5,
) -> DataFrame:
    """Exact Jaccard near-dup pairs via PREFIX FILTERING (Bayardo et al.
    AllPairs / Chaudhuri et al. SSJoin): identical output to
    ngram_jaccard_pairs (threshold t = t_num/t_den), but candidates come
    only from each document's RAREST shingles.

    Order all shingles by (global document frequency, hash) — a total
    order. For a set of size n, two sets with Jaccard >= t must share a
    shingle inside each other's first ``n - ceil(t*n) + 1`` shingles
    under that order, so the inverted index is built over prefixes only.
    Hot shingles (the skew risk of the plain shingle join — their
    postings grow with corpus size and the pair blowup is quadratic)
    land at the END of the order and never enter the index; prefix
    postings stay short. The price is two extra LINEAR shuffles (the
    frequency join and the per-doc rank) — the classic trade: linear
    work to avoid quadratic candidates. Verification then recounts the
    true intersection per candidate from the full hashed-shingle arrays
    (array_intersect, JVM-side) — the filter is lossless, so this is
    NOT an approximation.

    ceil(t*n) is computed in INTEGER arithmetic ((t_num*n + t_den - 1)
    DIV t_den): a float ceil(0.4*n) can land one too high at exact
    multiples (0.4*20 -> 8.000000000000002), silently shortening the
    prefix and DROPPING true pairs. Shingles ride as xxhash64 longs
    (same hashing + collision reasoning as ngram_jaccard_pairs, so both
    queries see identical counts)."""
    threshold = t_num / t_den
    # build hashed distinct shingle sets once; reused for index and verify
    sets = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col),
        F.array_distinct(shingles_regex(text_col)).alias("__shs"),
    ).select(
        F.col(id_col),
        F.expr("transform(__shs, s -> xxhash64(s))").alias("hs"),
        F.size("__shs").alias("n_sh"),
    ).filter(F.col("n_sh") > 0)

    tok = sets.select(id_col, "n_sh", F.explode("hs").alias("h"))
    freq = tok.groupBy("h").agg(F.count("*").alias("gdf"))
    w = Window.partitionBy(id_col).orderBy("gdf", "h")
    prefix = (
        tok.join(freq, "h")
        .withColumn("__rn", F.row_number().over(w))
        .filter(
            F.col("__rn")
            <= F.col("n_sh")
            - F.expr(f"(({t_num} * n_sh + {t_den} - 1) DIV {t_den})")
            + 1
        )
        .select(id_col, "n_sh", "h")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # size band: t*max(|A|,|B|) <= min(|A|,|B|), in integers
            & (
                t_num * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
                <= t_den * F.least(F.col("a.n_sh"), F.col("b.n_sh"))
            ),
        )
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
        )
        .distinct()
    )
    sa = sets.select(
        F.col(id_col).alias("doc_a"), F.col("hs").alias("hs_a"), F.col("n_sh").alias("n_a")
    )
    sb = sets.select(
        F.col(id_col).alias("doc_b"), F.col("hs").alias("hs_b"), F.col("n_sh").alias("n_b")
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("n_common", F.size(F.array_intersect("hs_a", "hs_b")))
        .withColumn(
            "jaccard",
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "n_common", "jaccard")
    )


def duplicated_ngram_costing(
    df: DataFrame,
    n: int = 5,
    group_col: str = "source",
    col: str = "text",
) -> DataFrame:
    """Exact-substring-dedup costing pre-pass (the measurement half of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better"): for every token n-gram in the corpus, count its total
    occurrences; any occurrence of a gram seen more than once anywhere
    is a candidate byte the suffix-array dedup pass would reclaim.
    Reported per source as an upper bound (dup_bytes counts ALL
    occurrences of duplicated grams, including the canonical copy a
    real pass would keep), which is the number you need BEFORE paying
    for the expensive pass: sources with dup_ppm near zero can skip it.

    Plan/scale: one shuffle to groupBy (gram, source) — map-side
    partial aggregation collapses within-partition repeats so the
    exchange carries distinct (gram, source) pairs, not occurrences —
    then a window over gram for the corpus-wide total, then a final
    per-source rollup. The gram string (~6 tokens) is the shuffle
    payload; a digest-first variant (xxhash64(gram) + a carried length)
    halves the width at 100 TB, at the cost of attributing collided
    grams together — acceptable at 64 bits, but the exact form is the
    contract here. Integer-only outputs; the rate is ppm via integer
    division (`div`), never a float."""
    grams = df.select(
        F.col(group_col), F.explode(shingles_regex(col, n)).alias("g")
    )
    per_src = grams.groupBy("g", group_col).agg(F.count("*").alias("c"))
    w = Window.partitionBy("g")
    with_tot = per_src.withColumn("ct", F.sum("c").over(w))
    dup = F.when(F.col("ct") > 1, F.col("c")).otherwise(F.lit(0))
    dup_bytes = F.when(
        F.col("ct") > 1, F.col("c") * (F.length("g") + F.lit(1))
    ).otherwise(F.lit(0))
    return (
        with_tot.groupBy(group_col)
        .agg(
            F.sum("c").cast("long").alias("n_occ"),
            F.sum(dup).cast("long").alias("dup_occ"),
            F.sum(dup_bytes).cast("long").alias("dup_bytes"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("(dup_occ * 1000000) div n_occ").cast("long"),
        )
    )


def duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Maximal corpus-duplicated token spans per document (the shared
    core of `duplicated_span_report` and `remove_duplicated_spans`):
    start positions of n-grams occurring >= min_count times corpus-wide,
    merged into one span while consecutive starts are <= n apart — the
    exact condition for their n-token coverages to overlap or touch, so
    span_tokens = end - start + 1 is the covered-position union with no
    double counting. Returns (id, n_tokens, start_p, end_p,
    span_tokens) with 1-based inclusive token positions.

    Scale shape: one corpus-sized gram aggregate (partial-agg'd), a
    semi-join back to positions, per-DOC windows (embarrassingly
    parallel, no global sort)."""
    toks = F.split(F.col(text_col), " ")
    t = df.select(id_col, toks.alias("toks")).filter(
        F.size("toks") >= n
    )
    grams = t.select(
        id_col,
        F.size("toks").alias("n_tokens"),
        F.explode(
            F.expr(
                f"transform(sequence(1, size(toks) - {n - 1}),"
                f" i -> struct(i AS p,"
                f" array_join(slice(toks, i, {n}), ' ') AS gram))"
            )
        ).alias("g"),
    ).select(
        id_col,
        "n_tokens",
        F.col("g.p").alias("p"),
        F.col("g.gram").alias("gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gram")
    )
    dp = grams.join(dup, "gram", "left_semi")
    w = Window.partitionBy(id_col).orderBy("p")
    isl = dp.withColumn(
        "brk",
        F.when(F.col("p") - F.lag("p").over(w) <= n, F.lit(0)).otherwise(
            F.lit(1)
        ),
    ).withColumn(
        "island",
        F.sum("brk").over(
            Window.partitionBy(id_col)
            .orderBy("p")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return isl.groupBy(id_col, "n_tokens", "island").agg(
        F.min("p").alias("start_p"),
        (F.max("p") + n - 1).alias("end_p"),
        (F.max("p") - F.min("p") + n).alias("span_tokens"),
    )


def duplicated_span_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Exact-substring dedup realized at n-gram granularity (the
    extraction pass that `duplicated_ngram_costing` prices): per-doc
    rollup of `duplicated_spans` — the regions Lee et al. 2022's
    suffix-array dedup would cut, located with the shuffle primitives
    this engine already scales. One row per affected doc:
    (id, n_tokens, n_spans, dup_tokens, dup_ppm)."""
    spans = duplicated_spans(df, text_col, id_col, n, min_count)
    return (
        spans.groupBy(id_col, "n_tokens")
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum("span_tokens").cast("long").alias("dup_tokens"),
        )
        .withColumn(
            "dup_ppm",
            F.expr("(1000000 * dup_tokens) div n_tokens").cast("long"),
        )
        .select(id_col, F.col("n_tokens").cast("long").alias("n_tokens"),
                "n_spans", "dup_tokens", "dup_ppm")
    )


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_count: int = 2,
) -> DataFrame:
    """Apply the substring dedup: cut every `duplicated_spans` region
    out of each document and fingerprint the survivor — the mutation
    pass downstream of the report (keep-first policy is the caller's
    concern: this removes EVERY duplicated region, the Lee-et-al
    "dedup both copies" default that guarantees no n-gram occurs twice
    afterwards).

    The cut is a per-row expression: positions filtered against the
    doc's (collected) span list, tokens re-joined, md5 fingerprint —
    no Python, no second corpus shuffle beyond the span build; docs
    without spans pass through whole (span list empty via left join).
    Returns (id, n_tokens, kept_tokens, clean_digest)."""
    spans = duplicated_spans(df, text_col, id_col, n, min_count)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct("start_p", "end_p")).alias("__spans")
    )
    toks = F.split(F.col(text_col), " ")
    base = df.select(id_col, toks.alias("toks"))
    joined = base.join(per_doc, id_col, "left").withColumn(
        "__spans",
        F.coalesce(
            F.col("__spans"),
            F.expr(
                "CAST(array() AS array<struct<start_p:int,end_p:int>>)"
            ),
        ),
    )
    kept = joined.withColumn(
        "__kept",
        F.expr(
            "filter(sequence(1, size(toks)),"
            " p -> NOT exists(__spans,"
            " s -> p >= s.start_p AND p <= s.end_p))"
        ),
    )
    return kept.select(
        id_col,
        F.size("toks").cast("long").alias("n_tokens"),
        F.size("__kept").cast("long").alias("kept_tokens"),
        F.md5(
            F.expr("array_join(transform(__kept, p -> element_at(toks, p)), ' ')")
        ).alias("clean_digest"),
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_ppm: int = 600_000,
) -> DataFrame:
    """Asymmetric shingle CONTAINMENT near-dup pairs — Broder's other
    resemblance measure: C(A→B) = |A∩B| / |A|. Jaccard misses the
    quote/subset case (a short doc wholly contained in a long one has
    tiny Jaccard but containment ≈ 1), which is exactly the
    boilerplate-inclusion / quoted-reply shape a pretraining dedup
    pass must catch. Same inverted-index plan as ngram_jaccard_pairs
    (shingle explode → xxhash64-narrowed equi-join → pair aggregate
    with both set sizes in the grouping key — no re-joins); emits both
    directions as floored ppm and keeps pairs whose LARGER containment
    clears the threshold.
    """
    # r10: same inferred-filter-proof posting list as ngram_jaccard_pairs
    # (explode_outer + non-nullable size; one AQE-reused fan-out exchange
    # replaces the r9 localCheckpoint barrier — see _hashed_posting_list)
    sh = _hashed_posting_list(df, text_col, id_col)
    a = sh.alias("a")
    b = sh.alias("b")
    return (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col("a.n_sh").alias("n_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            F.col("n_a").cast("long").alias("n_a"),
            F.col("n_b").cast("long").alias("n_b"),
            F.expr("n_common * 1000000 DIV n_a")
            .cast("long")
            .alias("contain_a_ppm"),
            F.expr("n_common * 1000000 DIV n_b")
            .cast("long")
            .alias("contain_b_ppm"),
        )
        .filter(
            F.greatest(F.col("contain_a_ppm"), F.col("contain_b_ppm"))
            >= threshold_ppm
        )
    )

def eval_ngram_contamination(
    df: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    eval_mod: int = 97,
) -> DataFrame:
    """Benchmark decontamination (the GPT-3 appendix-C pass, Brown et
    al. 2020: drop training documents sharing long n-grams with the
    eval set): every training doc is scored by how many of its DISTINCT
    token n-grams also appear anywhere in the eval set. Here the eval
    set is the deterministic `id % eval_mod == 0` slice (the stand-in
    for a benchmark table; production passes its own eval relation —
    the plan is identical). Returns contaminated docs only
    (doc, group, n_grams, n_hit, contamination_ppm), the drop/review
    list a decontamination gate consumes.

    Scale shape: distinct per-doc grams are map-side (array_distinct
    before explode, no shuffle); the eval gram set is DISTINCT grams of
    the eval slice only — benchmarks are tiny relative to the corpus,
    so it BROADCASTS and the contamination check is a map-side hash
    probe on every train gram; one final groupBy(doc) rollup. The
    corpus-sized gram stream is never shuffled on the gram itself —
    compare duplicated_ngram_costing, whose all-pairs question forces
    the (gram, source) exchange. If the eval set outgrows the broadcast
    threshold, AQE degrades the semi-join to a shuffle join and the
    plan stays correct."""
    grams = df.select(
        F.col(id_col).alias("__id"),
        F.col(group_col).alias("__grp"),
        (F.col(id_col) % eval_mod == 0).alias("__is_eval"),
        F.explode(
            F.array_distinct(shingles_regex(text_col, n))
        ).alias("g"),
    )
    eval_grams = (
        grams.filter(F.col("__is_eval"))
        .select("g")
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    return (
        grams.filter(~F.col("__is_eval"))
        .join(F.broadcast(eval_grams), "g", "left")
        .groupBy(F.col("__id").alias(id_col), F.col("__grp").alias(group_col))
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("long")
            .alias("n_hit"),
        )
        .filter(F.col("n_hit") > 0)
        .withColumn(
            "contamination_ppm",
            F.expr("(n_hit * 1000000) div n_grams").cast("long"),
        )
    )
