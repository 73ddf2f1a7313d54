"""Round-10 optimization pins.

1. The inference-proof posting-list/signature shapes: no Filter in the
   physical plan may carry a substituted copy of the regex/md5 pipeline
   (r9 prevented this with localCheckpoint barriers; r10 prevents it
   structurally — explode_outer + generated-column filter + non-nullable
   sizes + the has_shingle pre-filter).
2. The co-occurrence edge builder's fan-out repartition must be ABSORBED
   by the groupBy (exactly one exchange keyed on the group key).
3. The bench scaling probes (VERDICT r9 item 6) compute from the parquet
   input and scale linearly with the replication factor.
4. has_shingle(text, n) is exactly size(shingles_regex(text, n)) > 0.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

pytestmark = pytest.mark.slow


def _plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )


def _filter_conditions(plan: str) -> list[str]:
    return [b for b in plan.split("\n\n") if ") Filter" in b]


def test_ngram_posting_filters_carry_no_regex(spark, sf_dir):
    from politicamente_etl_spark.operators import dedup

    plan = _plan(dedup.ngram_jaccard_pairs(_docs(spark, sf_dir)))
    for blk in _filter_conditions(plan):
        assert "regexp" not in blk and "array_distinct" not in blk, blk
    # no materialization barrier: the plan still reads the parquet scan
    assert "Scan parquet" in plan and "ExistingRDD" not in plan


def test_minhash_filters_carry_no_md5(spark, sf_dir):
    from politicamente_etl_spark.operators import dedup

    plan = _plan(dedup.minhash_near_dup_pairs(_docs(spark, sf_dir)))
    for blk in _filter_conditions(plan):
        assert "md5" not in blk and "array_min" not in blk, blk
    # the shingle-less-doc pre-filter is a scan-level rlike, not a
    # substituted minhash expression
    assert "RLIKE" in plan or "rlike" in plan
    assert "Scan parquet" in plan and "ExistingRDD" not in plan


def test_containment_filters_carry_no_regex(spark, sf_dir):
    from politicamente_etl_spark.operators import dedup

    plan = _plan(dedup.containment_pairs(_docs(spark, sf_dir)))
    for blk in _filter_conditions(plan):
        assert "regexp" not in blk and "array_distinct" not in blk, blk


def test_cooccurrence_fanout_absorbed_by_groupby(spark, sf_dir):
    """spread(key) must satisfy the groupBy's distribution requirement:
    exactly ONE exchange keyed on the group key (REPARTITION_BY_NUM),
    none added by the aggregate (ENSURE_REQUIREMENTS on the key)."""
    from politicamente_etl_spark.operators import graph

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    plan = _plan(graph.cooccurrence_pairs(li, "l_orderkey", "l_partkey"))
    key_exchanges = [
        b
        for b in plan.split("\n\n")
        if ") Exchange" in b and "hashpartitioning(l_orderkey" in b
    ]
    assert len(key_exchanges) == 1, plan
    assert "REPARTITION_BY_NUM" in key_exchanges[0]


def test_scale_probes_compute_from_input(spark, sf_dir):
    from politicamente_etl_spark.operators.dedup import _hashed_posting_list
    from politicamente_etl_spark.plans.scaleprobes import (
        REPLICATION_SHINGLE,
        SCALE_PROBES,
    )

    base = _hashed_posting_list(_docs(spark, sf_dir), "text", "doc_id").count()
    row = SCALE_PROBES["scaleprobe_shingle_postings_x8"](
        spark, sf_dir
    ).collect()
    assert len(row) == 1
    assert row[0]["n_postings"] == REPLICATION_SHINGLE * base

    sig_row = SCALE_PROBES["scaleprobe_minhash_signatures_x8"](
        spark, sf_dir
    ).collect()
    assert len(sig_row) == 1
    assert sig_row[0]["n_docs"] > 0


def test_has_shingle_equals_nonempty_shingles(spark, sf_dir):
    from politicamente_etl_spark.operators.dedup import with_minhash_signature
    from politicamente_etl_spark.operators.text import (
        SHINGLE_N,
        has_shingle,
        shingles_regex,
    )

    docs = _docs(spark, sf_dir).withColumn(
        "text",
        # exercise the edge cases too: empty, 1..SHINGLE_N tokens, NULL
        F.when(F.col("doc_id") % 17 == 0, F.lit(""))
        .when(F.col("doc_id") % 17 == 1, F.lit("one"))
        .when(F.col("doc_id") % 17 == 2, F.lit("two tokens"))
        .when(F.col("doc_id") % 17 == 3, F.lit(None).cast("string"))
        .when(F.col("doc_id") % 17 == 4, F.lit(" ".join(["tok"] * SHINGLE_N)))
        .otherwise(F.col("text")),
    )
    # the default-width pre-filter admits exactly the docs that get a
    # minhash signature (_signature_table relies on this)
    sig = with_minhash_signature(docs, n_perm=1)
    assert (
        sig.filter(
            F.col("mh_0").isNotNull()
            != F.coalesce(has_shingle("text"), F.lit(False))
        ).count()
        == 0
    )
    for n in (2, SHINGLE_N, 5):
        # NULL text: has_shingle is NULL, size() form is NULL > 0 = NULL
        # — both filter-false; compare via coalesce to FALSE
        mism2 = docs.filter(
            F.coalesce(has_shingle("text", n), F.lit(False))
            != F.coalesce(
                F.size(F.array_distinct(shingles_regex("text", n))) > 0,
                F.lit(False),
            )
        )
        assert mism2.count() == 0, f"n={n}"
