"""Round-6 batch 1 operator tests: BM25 retrieval, duplicated-n-gram
costing, epoch-shuffle shards. Oracle parity is covered by driver_sim.py
(name filters); these pin semantics the oracle can't see (rank ordering
causes, exact costing on a constructed corpus, epoch invariance)."""

from __future__ import annotations

from pyspark.sql import functions as F

from politicamente_etl_spark.operators.dedup import duplicated_ngram_costing
from politicamente_etl_spark.operators.sampling import epoch_shuffle_shards
from politicamente_etl_spark.operators.text import bm25_topk


def test_bm25_rare_term_outranks_common(spark):
    # doc 1 has the rare term once; docs 2-4 stuff the common term.
    rows = [
        (1, "needle common word pad pad"),
        (2, "common common common common common"),
        (3, "common common word pad pad"),
        (4, "word pad pad pad pad"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["needle", "common"], k=4).collect()
    assert out[0]["doc_id"] == 1  # idf of the singleton term dominates
    assert [r["rnk"] for r in out] == list(range(1, len(out) + 1))
    assert all(r["score_micro"] > 0 for r in out)


def test_bm25_length_normalization(spark):
    # same tf=1, shorter doc must score higher (b=0.75 > 0).
    rows = [
        (1, "hit pad"),
        (2, "hit pad pad pad pad pad pad pad pad pad"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r["score_micro"] for r in bm25_topk(df, ["hit"], k=2).collect()}
    assert out[1] > out[2]


def test_bm25_k_bound_and_no_miss_rows(spark):
    rows = [(i, "hit word" if i % 2 == 0 else "word only") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["hit"], k=3).collect()
    assert len(out) == 3
    assert all(r["doc_id"] % 2 == 0 for r in out)  # non-matching docs absent


def test_dup_ngram_costing_exact(spark):
    # 5-token docs = exactly one 5-gram each; A's gram is duplicated
    # (in A twice via two docs), B's is unique.
    dup_text = "a b c d e"
    rows = [
        ("A", dup_text),
        ("A", dup_text),
        ("B", "v w x y z"),
    ]
    df = spark.createDataFrame(rows, ["source", "text"])
    out = {r["source"]: r for r in duplicated_ngram_costing(df, n=5).collect()}
    assert out["A"]["n_occ"] == 2
    assert out["A"]["dup_occ"] == 2
    assert out["A"]["dup_bytes"] == 2 * (len(dup_text) + 1)
    assert out["A"]["dup_ppm"] == 1_000_000
    assert out["B"]["n_occ"] == 1
    assert out["B"]["dup_occ"] == 0
    assert out["B"]["dup_bytes"] == 0
    assert out["B"]["dup_ppm"] == 0


def test_dup_ngram_costing_within_doc_repeat_counts(spark):
    # a 10-token doc repeating one 5-gram twice: grams 1..6, of which
    # gram[1]=="a b c d e"==gram[6]; dup covers only those two.
    rows = [("S", "a b c d e a b c d e")]
    df = spark.createDataFrame(rows, ["source", "text"])
    r = duplicated_ngram_costing(df, n=5).collect()[0]
    assert r["n_occ"] == 6
    assert r["dup_occ"] == 2


def test_epoch_shards_are_permutations(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    out = epoch_shuffle_shards(docs, n_epochs=3, n_shards=8)
    per_epoch = (
        out.groupBy("epoch")
        .agg(F.sum("n_docs").alias("n"), F.sum("id_sum").alias("s"))
        .collect()
    )
    assert len(per_epoch) == 3
    assert len({(r["n"], r["s"]) for r in per_epoch}) == 1  # same corpus every epoch
    shards = out.select("shard").distinct().collect()
    assert {r["shard"] for r in shards} <= set(range(8))


def test_epoch_shards_deterministic_and_epoch_varying(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id")
    a = sorted(map(tuple, epoch_shuffle_shards(docs).collect()))
    b = sorted(map(tuple, epoch_shuffle_shards(docs).collect()))
    assert a == b  # rerun-identical: the resumability contract
    out = epoch_shuffle_shards(docs, n_epochs=2, n_shards=8)
    e0 = {r["shard"]: r["id_sum"] for r in out.filter("epoch = 0").collect()}
    e1 = {r["shard"]: r["id_sum"] for r in out.filter("epoch = 1").collect()}
    assert e0 != e1  # epochs genuinely reshuffle


def test_hashed_classifier_deterministic_and_shaped(spark):
    from politicamente_etl_spark.operators.text import (
        fixture_hash_weights,
        hashed_linear_score,
    )

    rows = [(1, "alpha beta gamma"), (2, "alpha alpha alpha"), (3, "zz")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    w = fixture_hash_weights(spark, n_buckets=64)
    a = sorted(map(tuple, hashed_linear_score(df, w, n_buckets=64).collect()))
    b = sorted(map(tuple, hashed_linear_score(df, w, n_buckets=64).collect()))
    assert a == b  # inference is a pure function of (text, weights)
    by_id = {t[0]: t for t in a}
    # doc 1: 3 unigrams + 2 bigrams; doc 3: 1 unigram, 0 bigrams
    assert by_id[1][1] == 5
    assert by_id[3][1] == 1
    assert all(t[3] == (1 if t[2] > 0 else 0) for t in a)


def test_hashed_classifier_tf_scales_logit(spark):
    # repeating the whole text doubles every feature count, hence the
    # logit doubles exactly (bias=0, integer weights).
    from politicamente_etl_spark.operators.text import (
        fixture_hash_weights,
        hashed_linear_score,
    )

    base = "alpha beta gamma delta"
    df = spark.createDataFrame(
        [(1, base + " " + base)], ["doc_id", "text"]
    )
    ref = spark.createDataFrame([(1, base)], ["doc_id", "text"])
    w = fixture_hash_weights(spark, n_buckets=64)
    big = hashed_linear_score(df, w, n_buckets=64).collect()[0]
    small = hashed_linear_score(ref, w, n_buckets=64).collect()[0]
    # doubled text: unigrams 2x, bigrams 2n-1 vs n-1 (the join bigram)
    assert big["n_feats"] == 2 * 4 + (2 * 4 - 1)
    assert small["n_feats"] == 4 + 3


def test_token_budget_selection_greedy_whole_docs(spark):
    from politicamente_etl_spark.operators.sampling import select_by_token_budget

    rows = [
        # source, doc, q, tokens
        ("s", 1, 900, 40),
        ("s", 2, 800, 50),
        ("s", 3, 700, 20),
        ("s", 4, 600, 5),
        ("t", 9, 100, 200),
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "q_milli", "n_tokens"])
    out = sorted(
        (r["source"], r["doc_id"], r["cum_tokens"], r["q_rank"])
        for r in select_by_token_budget(df, budget_tokens=100).collect()
    )
    # s: 40, 90 fit; doc 3 would hit 110 > 100 and is dropped WHOLE,
    # and doc 4 (cum 115 in rank order) is dropped too — the running
    # total includes skipped-over docs: rank order is the contract.
    assert out == [("s", 1, 40, 1), ("s", 2, 90, 2)]
    # t: the single doc exceeds the budget alone -> source yields nothing


def test_token_budget_selection_tie_break_deterministic(spark):
    from politicamente_etl_spark.operators.sampling import select_by_token_budget

    rows = [("s", i, 500, 60) for i in (5, 3, 4, 1, 2)]
    df = spark.createDataFrame(rows, ["source", "doc_id", "q_milli", "n_tokens"])
    out = select_by_token_budget(df, budget_tokens=120).collect()
    assert sorted(r["doc_id"] for r in out) == [1, 2]  # id ascending on ties
