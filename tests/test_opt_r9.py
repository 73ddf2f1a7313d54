"""Focused regression tests for the round-9 optimization changes that
touched operator INTERNALS (per the optimization-round rules):

1. snapshot() groups alive files by ORIGINATING COMMIT, not dirname — a
   clustered commit (one file per partition subdir) must read as ONE
   scan group with ONE DV anti-join, not one group per file (measured
   86 s -> 1.6 s on a 300-file clustered table).
2. winnowing binds the k-gram hash array to a real column before the
   window-min transform reads it, and lineage-cuts before the explode —
   without both, the md5 hash pass re-ran once per window position
   (O(len²)) and again inside the explode's pushed-down inferred filter.
3. merge() persists the incoming batch, so a NON-DETERMINISTIC source
   yields a consistent merge (checked rows == semi-joined keys ==
   rewritten rows) — the hazard Delta closes by materializing its merge
   source.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from politicamente_etl_spark.sources.txlog import TxLogTable


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_clustered_snapshot_reads_one_group_per_commit(spark):
    """A clustered create stages one file per cluster value in its own
    partition subdir; snapshot() must still read the commit as ONE scan
    (plus at most one DV anti-join), not one scan per file."""
    n = 40  # enough distinct values to exceed task count at local[8]
    df = spark.range(0, 2000).select(
        F.col("id").alias("k"), (F.col("id") % n).alias("cl")
    )
    base = tempfile.mkdtemp(prefix="opt_r9_cl_")
    t = TxLogTable.create(
        spark, os.path.join(base, "t"), df, cluster_file_col="cl"
    )
    assert len(t._state().files) == n  # one file per cluster value
    t.delete_where_rowindex("k % 10 = 3")
    plan = _plan(t.snapshot())
    # one scan group: a single parquet scan of the data files plus the
    # DV sidecar scan — NOT n per-file scans each with its own anti-join.
    # (formatted explain prints each node in the tree AND in the details
    # list, so one physical node counts twice)
    assert plan.count("Scan parquet") <= 4, plan
    assert plan.count("BroadcastHashJoin") == 2, plan  # one node: tree + detail
    got = t.snapshot().agg(
        F.count("*").alias("n"), F.sum("k").alias("s")
    ).collect()[0]
    alive = [k for k in range(2000) if k % 10 != 3]
    assert (got["n"], got["s"]) == (len(alive), sum(alive))


def test_winnowing_hash_pass_not_in_scan_filter(spark, sf_dir):
    """No Filter in the physical plan may re-derive the md5 fingerprint
    pipeline. r9 guaranteed this with a localCheckpoint barrier (the pin
    was 'plan reads an RDD scan'); r10 guarantees it structurally —
    explode_outer infers no size/isnotnull filter, and the explicit
    post-generate `fp IS NOT NULL` cannot be substituted below the
    generate — so the pin is now the invariant itself: every Filter
    condition is md5/regexp-free, and the md5 pass appears in exactly
    one Project."""
    from politicamente_etl_spark.operators import text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    df = text.winnowing_fingerprints(docs, k=8, w=4)
    plan = _plan(df)
    for blk in plan.split("\n\n"):
        if ") Filter" in blk:
            assert "md5" not in blk and "regexp" not in blk, blk
    # exactly one expensive fingerprint derivation in the whole plan
    assert plan.count("md5") == 1, plan


def test_winnowing_results_unchanged_by_binding(spark, sf_dir):
    """Reference check for the bound-column rewrite: fingerprints equal
    the straightforward (quadratic) formulation on a small sample."""
    from politicamente_etl_spark.operators import text

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 20)
    )
    got = {
        (r["doc_id"], r["fp"])
        for r in text.winnowing_fingerprints(docs, k=8, w=4).collect()
    }
    k, w = 8, 4
    grams = F.regexp_extract_all(F.col("text"), F.lit(rf"(?=(.{{{k}}}))."), 1)
    hashes = F.transform(
        grams,
        lambda g: F.conv(F.substring(F.md5(g), 1, 15), 16, 10).cast("bigint"),
    )
    n_win = F.size(hashes) - (w - 1)
    wins = F.transform(
        F.sequence(F.lit(1), n_win),
        lambda i: F.array_min(F.slice(hashes, i, w)),
    )
    ref_col = F.when(n_win >= 1, F.array_distinct(wins)).otherwise(
        F.array().cast("array<bigint>")
    )
    ref = {
        (r["doc_id"], r["fp"])
        for r in docs.select(
            "doc_id", F.explode(ref_col).alias("fp")
        ).collect()
    }
    assert got == ref and got


def test_merge_materializes_nondeterministic_batch(spark):
    """A batch whose row set varies PER EVALUATION must merge
    CONSISTENTLY: the committed snapshot equals the batch the
    constraint/semi-join passes saw. Without the persist, each internal
    pass re-draws the rows and the rewrite can drop keys the semi-join
    matched.

    ADVICE r9 (low): the original pin used F.rand(seed=None), whose
    seed is FIXED at analysis time — recomputing the same DataFrame
    yields identical rows per partition, so the test passed even with
    the persist() removed. The coin flips now come from os.urandom in
    a UDF marked non-deterministic: any re-evaluation draws a fresh
    row set (P[two passes agree on 200 keys] = 2^-200)."""
    base = tempfile.mkdtemp(prefix="opt_r9_mg_")
    tgt = spark.range(0, 200).select(
        F.col("id").alias("k"), F.lit(0).cast("long").alias("v")
    )
    t = TxLogTable.create(spark, os.path.join(base, "t"), tgt)

    def _coin(_k):
        import os as _os

        return int.from_bytes(_os.urandom(4), "little")

    coin = F.udf(_coin, "long").asNondeterministic()
    batch = (
        spark.range(0, 200)
        .select(F.col("id").alias("k"))
        .filter(coin("id") % 2 == 0)  # re-drawn on every evaluation
        .withColumn("v", F.lit(1).cast("long"))
    )
    t.merge(batch, ["k"])
    snap = t.snapshot()
    # every key exactly once, v in {0,1}: a dropped or duplicated key
    # (the non-determinism hazard) breaks one of these
    assert snap.count() == 200
    assert snap.select("k").distinct().count() == 200
    bad = snap.filter(~F.col("v").isin(0, 1)).count()
    assert bad == 0
