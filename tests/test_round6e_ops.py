"""Round-6 batch 5 operator tests: multi-probe LSH, dimension-label MI,
Kaplan-Meier terms. Oracle parity via driver_sim.py (name filters); these
pin the semantics on constructed inputs (multi-probe recall strictly
superset of single-probe candidates, MI separates informative from
random dims, KM handles censoring and gaps)."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from politicamente_etl_spark.operators.sim import (
    cosine_topk_lsh,
    cosine_topk_lsh_multiprobe,
)
from politicamente_etl_spark.operators.stats import dim_label_mutual_info
from politicamente_etl_spark.operators.temporal import kaplan_meier_terms

PLANES = [
    [1.0, 0.0, 0.0, 0.0],
    [0.0, 1.0, 0.0, 0.0],
]


def test_multiprobe_candidates_superset_of_single(spark):
    # query near the first hyperplane boundary: its nearest neighbor sits
    # on the other side and single-probe LSH misses it; the 1-bit flip
    # probe recovers it.
    rows = [
        (1, [0.05, 1.0, 0.0, 0.0]),   # bucket '11'
        (2, [-0.05, 1.0, 0.0, 0.0]),  # bucket '01' — true NN of the query
        (3, [1.0, -1.0, 0.0, 0.0]),   # bucket '10'
    ]
    corpus = spark.createDataFrame(rows, ["vec_id", "embedding"])
    query = spark.createDataFrame(
        [(0, [0.01, 1.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    single = {
        r["vec_id"] for r in cosine_topk_lsh(corpus, query, PLANES, k=3).collect()
    }
    multi = {
        r["vec_id"]
        for r in cosine_topk_lsh_multiprobe(corpus, query, PLANES, k=3).collect()
    }
    assert single == {1}
    assert {1, 2}.issubset(multi)
    assert single.issubset(multi)


def test_multiprobe_dedupes_candidates(spark):
    # corpus vec reachable via two probes must appear once with rank 1.
    corpus = spark.createDataFrame(
        [(7, [1.0, 1.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    query = spark.createDataFrame(
        [(0, [1.0, 1.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    out = cosine_topk_lsh_multiprobe(corpus, query, PLANES, k=5).collect()
    assert len(out) == 1 and out[0]["rank"] == 1


def test_mi_separates_informative_from_random_dim(spark):
    # dim 1 sign == label exactly; dim 2 sign independent of label.
    rows = []
    for i in range(64):
        label = i % 2
        rows.append((i, [1.0 if label else -1.0, 1.0 if i % 4 < 2 else -1.0], label))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    out = {r["dim"]: r["mi_micro_n"] for r in dim_label_mutual_info(emb, top_k=2).collect()}
    # perfect dependence: MI = ln 2 per row = 64 * 693147 micro-nats
    assert out[1] == 64 * 693147
    assert out[2] == 0


def test_kaplan_meier_textbook_example(spark):
    # classic: 10 subjects; t=1: 2 deaths; t=2: 1 death 1 censored;
    # t=3: 1 death; remaining 5 censored at t=4.
    steps = spark.createDataFrame(
        [(1, 2, 0), (2, 1, 1), (3, 1, 0), (4, 0, 5)], ["t", "d", "c"]
    )
    out = {r["t"]: r for r in kaplan_meier_terms(steps).collect()}
    assert [out[t]["n_risk"] for t in (1, 2, 3, 4)] == [10, 8, 6, 5]
    s3 = (8 / 10) * (7 / 8) * (5 / 6)
    got = out[3]["surv_lp_micro"] / 1e6
    assert abs(math.exp(got) - s3) < 1e-4
    assert out[4]["surv_lp_micro"] == out[3]["surv_lp_micro"]  # ln(1)=0 step


def test_kaplan_meier_gap_steps_ok(spark):
    steps = spark.createDataFrame([(0, 1, 0), (5, 1, 0)], ["t", "d", "c"])
    out = {r["t"]: r for r in kaplan_meier_terms(steps).collect()}
    assert out[0]["n_risk"] == 2 and out[5]["n_risk"] == 1
    # S(0)=1/2; S(5)=0 -> ln(0) is null-skipped: curve term stays at ln(1/2)
    assert out[0]["surv_lp_micro"] == round(math.log(0.5) * 1e6)
