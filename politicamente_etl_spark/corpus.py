"""Nightly corpus-ingest pipeline: the operators composed into the
end-to-end flow a training-data team actually runs — batch in, admission
verdicts out, corpus + signature tables updated.

This is the stateful twin of the per-batch `corpus_admission_report`
query: decisions here are made against the PERSISTED corpus (exact
digests and MinHash signatures accumulated over all prior batches), not
only within the incoming batch.

Managed state layout under `root_path`:
    docs/        — admitted documents parquet (batch columns + digest)
    signatures/  — THE state table: one row per admitted doc carrying
                   (doc_id, digest, mh_*, band_*). Digests live WITH the
                   signatures so (a) the duplicate check never re-hashes
                   the full docs table per batch, and (b) commit-crash
                   healing is a digest anti-join between two stored
                   columns. Signature columns are NULL for docs below the
                   shingle width (MinHash is undefined on an empty
                   shingle set); NULL band keys simply never pair. At
                   100 TB this table only ever appends — it is never
                   rebuilt.

Commit protocol (crash-safe without a transaction manager): state is
written FIRST, docs second. If a crash lands between the two appends,
the next submission of the same content classifies as `healed` — its
digest is in state but absent from docs — and the docs append is
repaired. Re-running a fully-committed batch classifies everything
`duplicate` and appends nothing, so ingestion is idempotent end to end.

Verdict cascade per batch doc (first failing rule wins, mirroring
corpus_admission_report's fixed rule order):
    too_short            — token count below min_tokens
    repetitive           — within-doc 3-gram repetition ratio above max_rep
    low_quality_lm       — (only with lm_gate set) mean bigram-LM log-prob
                           under the corpus-trained model below the gate
    duplicate_batch      — another batch doc with the same digest and a
                           smaller id (keep-first within the batch)
    healed               — digest in state but missing from docs (an
                           interrupted commit): the doc row is re-appended
    duplicate            — digest already present in the corpus
    near_duplicate       — MinHash-LSH candidate against the corpus with
                           est_jaccard ≥ near_threshold
    near_duplicate_batch — a SMALLER-id batch doc is an LSH candidate at
                           est_jaccard ≥ near_threshold (keep-first:
                           within one batch only the earliest of a
                           near-dup group is admitted)
    admitted             — appended to signatures/ then docs/

Every step is the already-verified operator: digest anti-join semantics
via a left join on md5 (16-byte keys through the shuffle), LSH banding
via dedup.minhash_cross_pairs_from_signatures (batch×corpus AND
batch×batch equi-joins over the same persisted signature table,
O(batch+corpus) shuffle), per-row expression features. No driver-side
loops; the report is one lazy plan and the state update is two appends.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from politicamente_etl_spark.operators import dedup, text
from politicamente_etl_spark.streaming.windows import run_stream


def _state_rows(docs_with_digest: DataFrame, sig: DataFrame) -> DataFrame:
    """One state row per doc: (doc_id, digest) left-joined to its
    signature columns — NULLs for shingle-less docs, so every admitted
    doc has a digest in state even when MinHash is undefined for it."""
    return docs_with_digest.select("doc_id", "digest").join(sig, "doc_id", "left")


def init_corpus(spark: SparkSession, root_path: str, docs: DataFrame) -> None:
    """Create the managed corpus from an initial document set: write the
    state (digest + signature) table and the docs table — the one-time
    backfill; afterwards both only ever append per batch. Same write
    order as ingest_batch (state first) so a crashed init, re-run,
    converges the same way."""
    with_digest = docs.withColumn("digest", F.md5("text"))
    sig = dedup._signature_table(
        docs, "text", "doc_id", dedup.N_MINHASH, dedup.BAND_SIZE
    )
    _state_rows(with_digest, sig).write.mode("overwrite").parquet(
        os.path.join(root_path, "signatures")
    )
    with_digest.write.mode("overwrite").parquet(os.path.join(root_path, "docs"))


def _batch_features(batch: DataFrame) -> DataFrame:
    shs = F.col("__shs")
    n_sh = F.size(shs)
    nd = F.size(F.array_distinct(shs))
    w = Window.partitionBy("digest")
    return (
        batch.withColumn("__shs", text.shingles_regex("text"))
        .withColumn("n_tokens", F.size(F.split("text", " ")).cast("long"))
        .withColumn("digest", F.md5("text"))
        .withColumn(
            "rep",
            F.when(n_sh == 0, F.lit(0.0)).otherwise(
                1.0 - nd.cast("double") / n_sh.cast("double")
            ),
        )
        .withColumn("first_doc", F.min("doc_id").over(w))
        .drop("__shs")
    )


def ingest_batch(
    spark: SparkSession,
    root_path: str,
    batch: DataFrame,
    min_tokens: int = 30,
    max_rep: float = 0.3,
    near_threshold: float = 0.5,
    lm_gate: float | None = None,
    commit: bool = True,
) -> DataFrame:
    """Run one nightly batch through the admission pipeline against the
    persisted corpus. Returns the admission report (doc_id, n_tokens,
    verdict) AFTER committing admitted docs + their signatures (unless
    ``commit=False`` for a dry run).

    Plan shape: the exact-dup check is a left join on digest (broadcast
    when the batch dwarfs the corpus digest set is wrong way round — the
    CORPUS side is big, so this is a shuffled equi-join on a 16-byte key,
    bucket-local); the near-dup check joins batch bands against the
    PRECOMPUTED corpus signature table — the corpus is never re-shingled,
    which is the entire point of persisting signatures. The verdicts
    collapse into one CASE projection."""
    docs_path = os.path.join(root_path, "docs")
    sig_path = os.path.join(root_path, "signatures")
    state = spark.read.parquet(sig_path)
    if "digest" not in state.columns:
        # a corpus initialized by the pre-digest layout can't support the
        # crash-heal protocol; failing loudly beats silently re-admitting
        raise ValueError(
            "corpus state table has no digest column (legacy layout) — "
            "re-run init_corpus to migrate"
        )
    # dedup source of truth is the STATE table's stored digest column —
    # the full docs table is never re-hashed per batch (round-4 fix #1).
    corpus_digests = (
        state.select("digest").distinct().withColumn("__in_corpus", F.lit(1))
    )
    docs_df = spark.read.parquet(docs_path)
    # legacy part files inside a digest-bearing docs dir read digest as
    # NULL — coalesce to a recomputed md5 so mixed layouts never surface
    # committed docs as orphans (which would duplicate them via heal)
    docs_digests = (
        docs_df.select(
            F.coalesce(F.col("digest"), F.md5("text")).alias("digest")
        )
        if "digest" in docs_df.columns
        else docs_df.select(F.md5("text").alias("digest"))
    ).distinct()
    # heal probe: digests whose state row landed but whose docs append was
    # lost to a crash between the two commit writes. Both sides are stored
    # 16-byte columns, so this is a cheap column-scan anti-join.
    orphan_digests = (
        state.select("digest")
        .distinct()
        .join(docs_digests, "digest", "left_anti")
        .withColumn("__orphan", F.lit(1))
    )

    feat = _batch_features(batch).localCheckpoint()

    # optional statistical quality gate: score the batch under the
    # CORPUS-trained bigram LM (text.bigram_lm_tables — at scale these are
    # nightly-persisted tables like the signatures; trained ad hoc here)
    # and flag docs whose mean transition log-prob falls below the gate —
    # word salad and out-of-domain text that the length/repetition rules
    # cannot see. Joined as a per-doc flag so it slots into the CASE
    # cascade like every other rule.
    if lm_gate is not None:
        bg_lp, uni_lp = text.bigram_lm_tables(spark.read.parquet(docs_path))
        lm_scores = text.score_with_bigram_lm(
            feat.select("doc_id", "text"), bg_lp, uni_lp
        ).select(
            "doc_id", F.col("mean_logprob").alias("__lm_mean")
        )
        feat = feat.join(lm_scores, "doc_id", "left")
    else:
        feat = feat.withColumn("__lm_mean", F.lit(None).cast("double"))

    # near-dup candidates: the SHARED cross-pairs operator over the
    # persisted corpus signature table and the batch's freshly-computed
    # one (round-4 fix #4 — no inline band-join copy; operator fixes
    # propagate here automatically).
    batch_sig = dedup._signature_table(
        feat.select("doc_id", "text"), "text", "doc_id",
        dedup.N_MINHASH, dedup.BAND_SIZE,
    ).localCheckpoint()
    near = (
        dedup.minhash_cross_pairs_from_signatures(batch_sig, state.drop("digest"))
        .filter(F.col("est_jaccard") >= near_threshold)
        .select(F.col("batch_doc").alias("doc_id"))
        .distinct()
        .withColumn("__near_dup", F.lit(1))
    )
    # within-batch near-dups, keep-first (round-4 fix #2): a batch doc is
    # rejected when a SMALLER-id batch doc is an LSH candidate over the
    # threshold — the same banded self-join shape, batch vs batch, so two
    # near-identical docs arriving together no longer both commit.
    # Greedy rule: the smaller-id keeper may itself be rejected by an
    # earlier cascade rule (then the whole near-dup group drops this
    # batch — re-submission next batch admits cleanly, since none of the
    # group reached the corpus).
    near_batch = (
        dedup.minhash_cross_pairs_from_signatures(batch_sig, batch_sig)
        .filter(
            (F.col("batch_doc") > F.col("corpus_doc"))
            & (F.col("est_jaccard") >= near_threshold)
        )
        .select(F.col("batch_doc").alias("doc_id"))
        .distinct()
        .withColumn("__near_batch", F.lit(1))
    )

    verdicts = (
        feat.join(corpus_digests, "digest", "left")
        .join(orphan_digests, "digest", "left")
        .join(near, "doc_id", "left")
        .join(near_batch, "doc_id", "left")
        .withColumn(
            "verdict",
            F.when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
            .when(F.col("rep") > max_rep, F.lit("repetitive"))
            .when(
                # gate only docs the LM actually MEASURED: a doc with
                # < 2 tokens produces no bigram rows and a NULL score —
                # reporting it as measured-and-failed would be a lie
                # (it is handled by too_short / its own rules instead)
                F.lit(lm_gate is not None)
                & F.col("__lm_mean").isNotNull()
                & (F.col("__lm_mean") < lm_gate),
                F.lit("low_quality_lm"),
            )
            .when(F.col("doc_id") != F.col("first_doc"), F.lit("duplicate_batch"))
            .when(
                F.col("__in_corpus").isNotNull()
                & F.col("__orphan").isNotNull(),
                F.lit("healed"),
            )
            .when(F.col("__in_corpus").isNotNull(), F.lit("duplicate"))
            .when(F.col("__near_dup").isNotNull(), F.lit("near_duplicate"))
            .when(
                F.col("__near_batch").isNotNull(), F.lit("near_duplicate_batch")
            )
            .otherwise(F.lit("admitted")),
        )
        .localCheckpoint()
    )

    if commit:
        admitted_ids = verdicts.filter(F.col("verdict") == "admitted").select(
            "doc_id"
        )
        # STATE FIRST, docs second: a crash between the writes leaves a
        # digest in state without its doc row, which the next submission
        # of the same content repairs via the `healed` verdict. (The
        # reverse order would instead re-ADMIT on retry and duplicate the
        # doc rows — unhealable without a full diff.)
        _state_rows(feat.join(admitted_ids, "doc_id"), batch_sig).write.mode(
            "append"
        ).parquet(sig_path)
        repair_ids = verdicts.filter(F.col("verdict") == "healed").select(
            "doc_id"
        )
        to_land = batch.join(
            admitted_ids.unionByName(repair_ids), "doc_id"
        ).withColumn("digest", F.md5("text"))
        to_land.write.mode("append").parquet(docs_path)
    return verdicts.select("doc_id", "n_tokens", "verdict")


def stream_ingest(
    spark: SparkSession,
    root_path: str,
    input_path: str,
    schema=None,
    **ingest_kwargs,
) -> None:
    """Continuous corpus ingestion: watch `input_path` for new document
    parquet files and run each micro-batch through `ingest_batch`,
    appending every batch's admission report to `root_path/reports` (the
    audit trail a curation team reads).

    Structured Streaming's file source tracks processed files in the
    checkpoint, so a crashed-and-restarted job resumes without
    re-admitting (and exactly-once-ness of the corpus itself additionally
    holds because re-ingesting an already-committed doc classifies as
    `duplicate` — the pipeline is idempotent by construction, tested in
    tests/test_corpus_pipeline.py). Trigger availableNow drains what is
    present and stops — the nightly-batch shape; drop it for a live
    24/7 feed."""
    if schema is None:
        from pyspark.sql.types import StructType

        # incoming batches carry the DOC columns only; digest is derived
        # state the pipeline stamps at commit time.
        schema = StructType(
            [
                f
                for f in spark.read.parquet(
                    os.path.join(root_path, "docs")
                ).schema.fields
                if f.name != "digest"
            ]
        )

    def _one_batch(batch_df: DataFrame, batch_id: int) -> None:
        report = ingest_batch(spark, root_path, batch_df, **ingest_kwargs)
        report.withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(os.path.join(root_path, "reports"))

    run_stream(
        spark.readStream.schema(schema)
        .parquet(input_path)
        .writeStream.foreachBatch(_one_batch)
        .option(
            "checkpointLocation", os.path.join(root_path, "_stream_checkpoint")
        )
        .trigger(availableNow=True)
    )
