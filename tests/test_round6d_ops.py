"""Round-6 batch 4 operator tests: A-ES weighted sampling and grouped
OLS terms. Oracle parity via driver_sim.py (name filters); these pin the
statistical semantics (weight monotonicity in expectation surrogates,
merge associativity, exact OLS on a constructed line)."""

from __future__ import annotations

from pyspark.sql import functions as F

from politicamente_etl_spark.operators.sampling import weighted_priority_sample
from politicamente_etl_spark.operators.stats import grouped_ols_terms


def test_weighted_sample_merge_associative(spark):
    # bottom-k-style mergeability: top-k of (top-k of halves) == top-k.
    df = spark.createDataFrame([(i, 10 + i % 7) for i in range(400)], ["doc_id", "w"])
    whole = [
        (r["doc_id"], r["key_nano"])
        for r in weighted_priority_sample(df, "w", k=20).collect()
    ]
    halves = []
    for m in range(2):
        halves += weighted_priority_sample(
            df.filter(F.col("doc_id") % 2 == m), "w", k=20
        ).collect()
    merged = sorted(
        ((r["doc_id"], r["key_nano"]) for r in halves),
        key=lambda t: (-t[1], t[0]),
    )[:20]
    assert merged == whole


def test_weighted_sample_heavier_weight_wins_same_hash(spark):
    # same ids (same u) with different weights: ln(u)/w is strictly
    # increasing in w for u<1, so the heavier copy always outranks.
    df = spark.createDataFrame(
        [(1, 10), (1, 1000)], ["doc_id", "w"]
    )  # duplicate id: identical u, different weight
    out = weighted_priority_sample(df, "w", k=2).collect()
    assert out[0]["weight"] == 1000 and out[1]["weight"] == 10
    assert out[0]["key_nano"] > out[1]["key_nano"]


def test_weighted_sample_excludes_nonpositive(spark):
    df = spark.createDataFrame([(1, 0), (2, -5), (3, 7)], ["doc_id", "w"])
    out = weighted_priority_sample(df, "w", k=10).collect()
    assert [r["doc_id"] for r in out] == [3]


def test_grouped_ols_exact_line(spark):
    # y = 3x + 5 exactly -> slope_num/den == 3, intercept_num/den == 5.
    rows = [("g", x, 3 * x + 5) for x in range(1, 11)]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    r = grouped_ols_terms(df, "g", "x", "y").collect()[0]
    assert r["n_points"] == 10
    assert r["den"] > 0
    assert r["slope_num"] == 3 * r["den"]
    assert r["intercept_num"] == 5 * r["den"]


def test_grouped_ols_flat_and_decreasing(spark):
    rows = [("flat", x, 7) for x in range(5)] + [
        ("down", x, 100 - 2 * x) for x in range(5)
    ]
    df = spark.createDataFrame(rows, ["g", "x", "y"])
    out = {r["g"]: r for r in grouped_ols_terms(df, "g", "x", "y").collect()}
    assert out["flat"]["slope_num"] == 0
    assert out["down"]["slope_num"] == -2 * out["down"]["den"]


def test_streaming_hll_merge_matches_batch_and_replay_safe(spark, sf_dir):
    from politicamente_etl_spark.operators.agg import hll_registers
    from politicamente_etl_spark.streaming.windows import (
        stream_hll_register_merge,
    )

    streamed = {
        (r["bucket"], r["max_rho"])
        for r in stream_hll_register_merge(spark, sf_dir).collect()
    }
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    batch = {
        (r["bucket"], r["max_rho"])
        for r in hll_registers(ev, "user_id").collect()
    }
    assert streamed == batch
    # replay safety: merging ANY batch's registers again is a no-op
    # (max is idempotent) — the exactly-once-without-txn-ids property.
    half = hll_registers(ev.filter(F.col("event_id") % 2 == 0), "user_id")
    import pandas as pd

    merged_again = (
        spark.createDataFrame(
            pd.DataFrame(sorted(batch), columns=["bucket", "max_rho"])
        )
        .unionByName(half)
        .groupBy("bucket")
        .agg(F.max("max_rho").alias("max_rho"))
    )
    assert {
        (r["bucket"], r["max_rho"]) for r in merged_again.collect()
    } == batch
