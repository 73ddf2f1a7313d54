"""Round-6 batch 7 operator tests: BPE merge application. Oracle parity
via driver_sim.py (name filters); these pin the leftmost-greedy fold
semantics on constructed vocabularies."""

from __future__ import annotations

from politicamente_etl_spark.operators.text import apply_bpe_merge_and_recount


def _counts(spark, texts, a, b):
    df = spark.createDataFrame([(t,) for t in texts], ["text"])
    return {
        r["pair"]: (r["n_occurrences"], r["n_vocab_positions"])
        for r in apply_bpe_merge_and_recount(df, a, b, top_k=50).collect()
    }


def test_bpe_merge_applied_then_recounted(spark):
    # 'herd' -> h, er, d after merging (e, r): pairs h+er and er+d.
    out = _counts(spark, ["herd herd", "herd x"], "e", "r")
    assert out["h+er"] == (3, 1)
    assert out["er+d"] == (3, 1)
    assert "e+r" not in out  # consumed by the merge


def test_bpe_merge_leftmost_greedy_on_runs(spark):
    # 'aaa' under (a, a): leftmost-greedy gives [aa, a] -> one aa+a pair,
    # never a+aa (the right-associative parse).
    out = _counts(spark, ["aaa"], "a", "a")
    assert out == {"aa+a": (1, 1)}
    # 'aaaa' -> [aa, aa]
    out4 = _counts(spark, ["aaaa"], "a", "a")
    assert out4 == {"aa+aa": (1, 1)}


def test_bpe_merge_fully_merged_words_drop_out(spark):
    # 'er' becomes a single symbol -> contributes no pair rows at all.
    out = _counts(spark, ["er er er ab"], "e", "r")
    assert out == {"a+b": (1, 1)}


def test_bpe_merge_untouched_words_count_plain_pairs(spark):
    out = _counts(spark, ["dog dog"], "e", "r")
    assert out["d+o"] == (2, 1) and out["o+g"] == (2, 1)


def test_token_budget_per_group_budget_col(spark):
    from pyspark.sql import functions as F

    from politicamente_etl_spark.operators.sampling import (
        select_by_token_budget,
    )

    rows = [
        ("s", 1, 900, 40, 100),
        ("s", 2, 800, 50, 100),
        ("s", 3, 700, 20, 100),
        ("t", 9, 100, 60, 70),
        ("t", 8, 200, 30, 70),
    ]
    df = spark.createDataFrame(
        rows, ["source", "doc_id", "q_milli", "n_tokens", "budget"]
    )
    out = sorted(
        (r["source"], r["doc_id"])
        for r in select_by_token_budget(df, budget_col="budget").collect()
    )
    # s: 40+50=90 fit in 100, doc3 would hit 110; t: best-quality doc 8
    # (30) fits, doc 9 would hit 90 > 70.
    assert out == [("s", 1), ("s", 2), ("t", 8)]
    # scalar mode still works
    out2 = sorted(
        (r["source"], r["doc_id"])
        for r in select_by_token_budget(
            df.drop("budget"), budget_tokens=45
        ).collect()
    )
    assert out2 == [("s", 1), ("t", 8)]
