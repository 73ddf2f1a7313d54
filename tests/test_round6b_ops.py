"""Round-6 batch 2 operator tests: MMR diversification, NDCG eval
weights, HLL register semantics, autocorrelation terms, k-anonymity.
Oracle parity is covered by driver_sim.py (name filters); these pin the
semantics the oracle can't see (diversification actually trades off
relevance, register merge associativity on adversarial splits, ACF sign
on a constructed seasonal series, suppression accounting)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from politicamente_etl_spark.operators.agg import hll_registers
from politicamente_etl_spark.operators.quality import k_anonymity_classes
from politicamente_etl_spark.operators.sim import mmr_topk
from politicamente_etl_spark.operators.stats import autocorr_terms


def _vec_rows():
    # query 0 at e1; candidates: two near-duplicates along e1 (ids 10, 11),
    # one orthogonal-ish (id 12) with slightly lower relevance.
    return [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (10, [0.9, 0.1, 0.0, 0.0]),
        (11, [0.9, 0.0, 0.1, 0.0]),
        (12, [0.6, 0.0, 0.0, 0.8]),
    ]


def _corpus_rows():
    # 10 and 11 are near-duplicates of each other (sim_mm 961000 > either
    # relevance), 12 is less relevant but nearly orthogonal to both.
    return [
        (10, [0.9, 0.4, 0.0, 0.0]),
        (11, [0.89, 0.4, 0.1, 0.0]),
        (12, [0.5, 0.0, 0.0, 0.8]),
    ]


def test_mmr_prefers_diverse_over_redundant(spark):
    corpus = spark.createDataFrame(_corpus_rows(), ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    out = mmr_topk(corpus, queries, k=3, n_candidates=3, lam_tenths=5)
    picks = [r["vec_id"] for r in out.orderBy("step").collect()]
    # Pure relevance order is [10, 11, 12]. With lambda=0.5 the second
    # near-dup's redundancy penalty (5*961000) exceeds its relevance edge
    # and the orthogonal doc wins step 2: 250000 vs -355000.
    assert picks == [10, 12, 11]


def test_mmr_high_lambda_degenerates_to_relevance(spark):
    corpus = spark.createDataFrame(_corpus_rows(), ["vec_id", "embedding"])
    queries = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    out = mmr_topk(corpus, queries, k=3, n_candidates=3, lam_tenths=10)
    picks = [r["vec_id"] for r in out.orderBy("step").collect()]
    # lambda=1.0 -> no diversity term -> exact relevance ranking.
    assert picks == [10, 11, 12]


def test_mmr_parallel_queries_independent(spark):
    rows = _vec_rows() + [(1, [0.0, 1.0, 0.0, 0.0]), (20, [0.1, 0.9, 0.0, 0.0])]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.filter(F.col("vec_id") < 2)
    out = mmr_topk(df, queries, k=2, n_candidates=6, lam_tenths=7)
    got = {
        (r["query_id"], r["step"]): r["vec_id"] for r in out.collect()
    }
    assert got[(0, 1)] == 0 and got[(1, 1)] == 1  # each query picks itself
    assert len(got) == 4


def test_hll_registers_merge_is_max(spark):
    rows = [(i, i % 97) for i in range(1000)]
    df = spark.createDataFrame(rows, ["event_id", "user_id"])
    whole = {
        r["bucket"]: r["max_rho"] for r in hll_registers(df, "user_id").collect()
    }
    parts = [
        hll_registers(df.filter(F.col("event_id") % 3 == i), "user_id")
        for i in range(3)
    ]
    merged: dict[int, int] = {}
    for p in parts:
        for r in p.collect():
            merged[r["bucket"]] = max(merged.get(r["bucket"], 0), r["max_rho"])
    assert merged == whole


def test_hll_registers_deterministic_and_bounded(spark):
    df = spark.createDataFrame([(i,) for i in range(500)], ["v"])
    regs = hll_registers(df, "v", b=6).collect()
    assert len(regs) <= 64
    assert all(0 <= r["bucket"] < 64 for r in regs)
    assert all(1 <= r["max_rho"] <= 55 for r in regs)
    again = {(r["bucket"], r["max_rho"]) for r in hll_registers(df, "v", b=6).collect()}
    assert again == {(r["bucket"], r["max_rho"]) for r in regs}


def test_autocorr_period2_series(spark):
    # x alternates a,b -> dev alternates; lag-1 products all negative,
    # lag-2 products all positive, |num_1| ~ |num_2| ~ den.
    rows = [(t, 10 if t % 2 == 0 else 20) for t in range(40)]
    df = spark.createDataFrame(rows, ["t", "x"])
    out = {r["lag"]: r for r in autocorr_terms(df, "t", "x", max_lag=2).collect()}
    assert out[1]["num"] < 0 < out[2]["num"]
    assert out[1]["n_pairs"] == 39 and out[2]["n_pairs"] == 38
    assert out[1]["den"] == out[2]["den"] > 0


def test_autocorr_gap_drops_pairs_not_rows(spark):
    rows = [(0, 5), (1, 7), (3, 9)]  # t=2 missing
    df = spark.createDataFrame(rows, ["t", "x"])
    out = {r["lag"]: r for r in autocorr_terms(df, "t", "x", max_lag=2).collect()}
    assert out[1]["n_pairs"] == 1  # only (1,0); (3,2) has no partner
    assert out[2]["n_pairs"] == 1  # only (3,1)
    # den still covers all three observations: sum over (n*x - s)^2
    n, s = 3, 21
    assert out[1]["den"] == sum((n * x - s) ** 2 for _, x in rows)


def test_k_anonymity_flags_small_classes(spark):
    rows = [("a", 1, u) for u in range(10)] + [("b", 2, 1), ("b", 2, 1), ("b", 2, 2)]
    df = spark.createDataFrame(rows, ["qi1", "qi2", "subject"])
    out = {
        (r["qi1"], r["qi2"]): r
        for r in k_anonymity_classes(df, ["qi1", "qi2"], "subject", k=5).collect()
    }
    assert not out[("a", 1)]["at_risk"] and out[("a", 1)]["n_subjects"] == 10
    assert out[("b", 2)]["at_risk"]
    assert out[("b", 2)]["n_rows"] == 3 and out[("b", 2)]["n_subjects"] == 2


def test_ndcg_weights_match_log2_discount():
    # The catalog module precomputes micro-snapped 1/log2(i+1) weights;
    # pin the snap so a regenerated table can't drift silently.
    from politicamente_etl_spark.plans.extended_r6b import _NDCG_IDCG, _NDCG_W

    assert _NDCG_W[0] == 1_000_000  # 1/log2(2)
    assert _NDCG_W == [round(1e6 / math.log2(i + 1)) for i in range(1, 11)]
    assert _NDCG_IDCG == sum((11 - i) * _NDCG_W[i - 1] for i in range(1, 11))
