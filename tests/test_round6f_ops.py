"""Round-6 batch 6 operator tests: CUSUM change point and rank-biased
overlap. Oracle parity via driver_sim.py (name filters); these pin the
detection/metric semantics on constructed inputs."""

from __future__ import annotations

from pyspark.sql import functions as F

from politicamente_etl_spark.operators.sim import (
    rbo_compare,
    rbo_suffix_weights,
)
from politicamente_etl_spark.operators.stats import cusum_changepoint


def test_cusum_locates_step_change(spark):
    # level 100 for t<20, level 200 after: CUSUM |peak| at t=19 (the
    # last pre-change point).
    rows = [(t, 100 if t < 20 else 200) for t in range(40)]
    df = spark.createDataFrame(rows, ["t", "x"])
    r = cusum_changepoint(df, "t", "x").collect()[0]
    assert r["change_t"] == 19
    assert r["n_before"] == 20 and r["n_after"] == 20
    assert r["sum_before"] == 20 * 100 and r["sum_after"] == 20 * 200
    assert r["cusum"] < 0  # below-mean prefix


def test_cusum_flat_series_ties_to_earliest(spark):
    rows = [(t, 7) for t in range(10)]
    df = spark.createDataFrame(rows, ["t", "x"])
    r = cusum_changepoint(df, "t", "x").collect()[0]
    assert r["cusum"] == 0 and r["change_t"] == 0


def test_rbo_weights_decrease_and_suffix(
):
    w = rbo_suffix_weights(10, 0.9)
    assert w == sorted(w, reverse=True)
    assert w[-1] > 0
    # CW(1) is the full RBO mass: (1-p) * sum p^(d-1)/d over d<=k
    p = 0.9
    full = sum((1 - p) * p ** (d - 1) / d for d in range(1, 11))
    assert abs(w[0] / 1e6 - full) < 1e-5


def test_rbo_identical_rankings_score_full_mass(spark):
    rows = [(0, i, i) for i in range(1, 11)]
    df = spark.createDataFrame(rows, ["query_id", "vec_id", "rank"])
    r = rbo_compare(df, df).collect()[0]
    # identical rankings: every doc contributes CW(its own rank) ->
    # sum_m CW(m) == sum_d d * w_d == full per-depth mass
    w = rbo_suffix_weights(10, 0.9)
    assert r["rbo_micro"] == sum(w)
    assert r["n_overlap"] == 10


def test_rbo_disjoint_rankings_score_zero(spark):
    e = spark.createDataFrame(
        [(0, i, i) for i in range(1, 11)], ["query_id", "vec_id", "rank"]
    )
    a = spark.createDataFrame(
        [(0, 100 + i, i) for i in range(1, 11)], ["query_id", "vec_id", "rank"]
    )
    r = rbo_compare(e, a).collect()[0]
    assert r["rbo_micro"] == 0 and r["n_overlap"] == 0


def test_rbo_rewards_top_agreement_over_tail(spark):
    e = spark.createDataFrame(
        [(0, i, i) for i in range(1, 11)], ["query_id", "vec_id", "rank"]
    )
    # same single common doc, once at rank 1/1, once at rank 10/10
    top = spark.createDataFrame(
        [(0, 1, 1)] + [(0, 200 + i, i) for i in range(2, 11)],
        ["query_id", "vec_id", "rank"],
    )
    tail = spark.createDataFrame(
        [(0, 10, 10)] + [(0, 200 + i, i) for i in range(1, 10)],
        ["query_id", "vec_id", "rank"],
    )
    rt = rbo_compare(e, top).collect()[0]["rbo_micro"]
    rl = rbo_compare(e, tail).collect()[0]["rbo_micro"]
    w = rbo_suffix_weights(10, 0.9)
    assert rt == w[0] and rl == w[9]
    assert rt > rl
