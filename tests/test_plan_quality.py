"""Physical-plan audits: the scale properties SURVEY.md §4/§7 promise must
be visible in `.explain("formatted")`, not just claimed in docstrings.

These tests pin the plan SHAPE (join strategy, pushdown, group-limit,
partial aggregation, absence of cartesian products) so a future refactor
that silently degrades a plan fails here before it costs anything at scale.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from politicamente_etl_spark.plans.catalog import CATALOG
from politicamente_etl_spark.testing import spark_jobs


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def q(name, spark, sf_dir):
    return CATALOG[name].fn(spark, sf_dir)


def test_flagship_joins_broadcast(spark, sf_dir):
    """The dim-join chain (J1-J3 analogue) must broadcast every dimension —
    the fact table is never shuffled for a join."""
    plan = plan_of(q("flagship_revenue_rollup", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_projection_prunes_scan(spark, sf_dir):
    """P1/P7: the parquet scan must read only the projected columns
    (column pruning reaches the source, not a post-scan select)."""
    plan = plan_of(q("project_cast", spark, sf_dir))
    scan = next(b for b in plan.split("\n\n") if "Scan parquet" in b)
    assert "l_comment" not in scan  # the widest lineitem column stays unread


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """A predicate on a scanned column must appear in PushedFilters."""
    from politicamente_etl_spark.sources.readers import load_table

    df = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 100.0
    ).select("o_orderkey")
    plan = plan_of(df)
    assert "PushedFilters: [" in plan
    assert "GreaterThan(o_totalprice" in plan


def test_topk_window_group_limit(spark, sf_dir):
    """top_k_per_group must plan a WindowGroupLimit (per-partition top-k
    before the shuffle), not a full sort of every group."""
    plan = plan_of(q("window_topk_orders", spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_exact_dedup_partial_aggregation(spark, sf_dir):
    """The digest groupBy must do map-side partial aggregation — the
    shuffle carries pre-aggregated (hash, min, count) rows."""
    plan = plan_of(q("exact_dedup_docs", spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


@pytest.mark.parametrize(
    "name",
    [
        "minhash_near_dup_pairs",
        "simhash_near_dup_pairs",
        "ngram_jaccard_pairs",
        "cosine_topk_lsh",
        "embedding_cosine_near_dup_lsh",
    ],
)
def test_candidate_generation_never_cartesian(spark, sf_dir, name):
    """Every at-scale pair generator must meet candidates through an
    equi-join (LSH band / bucket / shingle) — a cartesian or broadcast
    nested-loop join here would be |corpus|² at 100 TB."""
    plan = plan_of(q(name, spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_partitioned_layout_prunes_files(spark, sf_dir, tmp_path):
    """write_managed(partition_by=...) must yield scans with
    PartitionFilters — the Spark mirror of the reference's consolidated-file
    preference (`extract.py:43-44`): a keyed query touches only its files."""
    from politicamente_etl_spark.plans.catalog import load_events
    from politicamente_etl_spark.sources.sinks import write_managed

    path = str(tmp_path / "events_by_type")
    write_managed(load_events(spark, sf_dir), path, partition_by=["event_type"])
    back = spark.read.parquet(path).filter(F.col("event_type") == "click")
    plan = plan_of(back)
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters", 1)[1].split("]", 1)[0]


def test_bucketed_join_avoids_shuffle(spark, sf_dir, tmp_path):
    """Bucketing both join sides on the key pre-partitions the data on
    disk: the join plan must contain NO Exchange — the co-located join
    that turns a 100 TB fact⋈fact from an hours-long shuffle into a local
    zip. (SortMergeJoin still sorts within buckets; that's per-bucket.)"""
    from politicamente_etl_spark.sources.readers import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    spark.sql("DROP TABLE IF EXISTS bk_orders")
    spark.sql("DROP TABLE IF EXISTS bk_lineitem")
    (
        o.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", str(tmp_path / "bk_orders"))
        .saveAsTable("bk_orders")
    )
    (
        li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", str(tmp_path / "bk_lineitem"))
        .saveAsTable("bk_lineitem")
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        # disable broadcast so the bucket-aware sort-merge join is chosen
        # (a fact⋈fact at 100 TB has no broadcastable side anyway)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bk_lineitem").join(
            spark.table("bk_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS bk_orders")
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")


def test_spread_noop_when_already_parallel(spark):
    """spread() must not add a shuffle when the input already has enough
    partitions (the 100 TB case)."""
    from politicamente_etl_spark.operators.core import spread

    wide = spark.range(0, 10000, 1, spark.sparkContext.defaultParallelism)
    assert spread(wide.toDF("id")).rdd.getNumPartitions() == (
        spark.sparkContext.defaultParallelism
    )
    narrow = spark.range(0, 100, 1, 1).toDF("id")
    assert spread(narrow).rdd.getNumPartitions() > 1


def test_stratified_sample_is_narrow(spark, sf_dir):
    """Hash sampling/splitting must be scan → project/filter only — any
    Exchange would mean the sampler shuffles the corpus it is supposed to
    thin out."""
    plan = plan_of(q("stratified_sample_docs", spark, sf_dir))
    assert "Exchange" not in plan
    plan = plan_of(q("dataset_hash_split", spark, sf_dir))
    assert "Exchange" not in plan


def test_tfidf_uses_window_group_limit(spark, sf_dir):
    """The per-doc top-k must plan a WindowGroupLimit so only k rows per
    doc survive each partition before the rank shuffle."""
    plan = plan_of(q("tfidf_top_terms", spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_centroid_aggregates_partially(spark, sf_dir):
    """posexplode multiplies rows by the vector dimension; the groupBy
    must partial-aggregate before the exchange so the shuffle carries
    (group, pos) sums, not exploded elements."""
    plan = plan_of(q("embedding_group_centroids", spark, sf_dir))
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_chunking_is_narrow(spark, sf_dir):
    """Context-window chunking is tokenize → per-row chunk array →
    explode: any Exchange would mean the chunker shuffles the corpus."""
    plan = plan_of(q("chunk_documents", spark, sf_dir))
    assert "Exchange" not in plan


def test_pack_sequences_single_partition_exchange(spark, sf_dir):
    """Sequence packing must shuffle exactly once — the hash partition by
    pack_bucket — and never collapse into a single global-window
    partition (the serialization trap for running sums)."""
    plan = plan_of(q("pack_sequences", spark, sf_dir))
    exchanges = [
        b for b in plan.split("\n\n") if b.lstrip().startswith("(") and "Exchange" in b.split("\n")[0]
    ]
    assert len(exchanges) == 1, plan
    assert "hashpartitioning(pack_bucket" in exchanges[0]
    assert "SinglePartition" not in plan


def test_contamination_no_cartesian_and_partial_agg(spark, sf_dir):
    """The train-shingle membership probe must be an equi-join on the
    shingle hash (never a nested-loop) and the train-distinct side must
    partial-aggregate before its exchange."""
    plan = plan_of(q("train_test_contamination", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert plan.count("HashAggregate") >= 2


def test_moments_single_exchange_partial_agg(spark, sf_dir):
    """Power sums must partial-aggregate map-side and shuffle exactly once;
    the moment formulas stay in the final narrow projection."""
    plan = plan_of(q("grouped_moments", spark, sf_dir))
    assert plan.count("HashAggregate") >= 2
    assert plan.count(") Exchange") == 1, plan  # detail headers = node count


def test_argmax_combines_before_shuffle(spark, sf_dir):
    """The struct-max argmax must partial-combine before its exchange so
    only one row per customer crosses the wire (SortAggregate is expected
    for the struct buffer, but partial_max must appear below Exchange)."""
    plan = plan_of(q("argmax_order_per_customer", spark, sf_dir))
    assert "partial_max" in plan
    assert plan.count(") Exchange") == 1, plan


def test_unpivot_is_narrow(spark, sf_dir):
    """Wide→long unpivot is a generator over each row — a shuffle here
    would mean the reshape re-partitions 3× the corpus for nothing."""
    plan = plan_of(q("unpivot_lineitem_metrics", spark, sf_dir))
    assert "Exchange" not in plan


def test_rolling_window_single_exchange(spark, sf_dir):
    """The RANGE-frame rolling sum shuffles once on the partition key and
    never collapses to a single global partition."""
    plan = plan_of(q("rolling_7day_order_totals", spark, sf_dir))
    assert plan.count(") Exchange") == 1, plan
    assert "SinglePartition" not in plan


def test_bigram_topk_group_limit(spark, sf_dir):
    """Per-lang bigram top-k must plan a WindowGroupLimit, not a full
    sort of the bigram vocabulary."""
    plan = plan_of(q("bigram_top_terms", spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_ivf_broadcasts_centroids_no_cartesian_fact_join(spark, sf_dir):
    """IVF assign/probe may cross-join only against the tiny broadcast
    centroid set; the candidate scoring join must be an equi-join on the
    cell id."""
    plan = plan_of(q("cosine_topk_ivf", spark, sf_dir))
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_prefix_filter_no_cartesian_and_equijoins(spark, sf_dir):
    """Prefix-filtered Jaccard must stay equi-join end to end: candidates
    meet on shared prefix shingle hashes, verification meets on doc ids."""
    plan = plan_of(q("jaccard_pairs_prefix_filter", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_unigram_logprob_broadcasts_vocab(spark, sf_dir):
    """At bench scale the vocab log-prob table comes back onto the token
    stream via a broadcast join CHOSEN BY THE PLANNER's size estimate —
    there is deliberately no F.broadcast() hint (a mandatory hint would
    OOM on a 10⁹-term web vocab; estimate/AQE-driven selection degrades
    to a linear shuffle join instead). This pin asserts the estimate
    still picks broadcast for a natural-language vocab."""
    plan = plan_of(q("unigram_logprob_quality", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_unigram_scale_mode_no_global_sort(spark, sf_dir):
    """exact_buckets=False must bucket by approx-percentile threshold
    comparison: no window (no single-reducer global sort) anywhere, and
    the buckets must agree with the exact mode away from boundaries."""
    from politicamente_etl_spark.operators.text import unigram_logprob_scores
    from politicamente_etl_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    scaled = unigram_logprob_scores(docs, exact_buckets=False)
    plan = plan_of(scaled)
    assert "Window" not in plan and "ntile(" not in plan
    rows = {r.doc_id: r for r in scaled.collect()}
    exact = {
        r.doc_id: r
        for r in unigram_logprob_scores(docs, exact_buckets=True).collect()
    }
    assert set(rows) == set(exact)
    assert all(1 <= r.quality_bucket <= 3 for r in rows.values())
    # scores identical; buckets may differ only at threshold boundaries
    same = sum(
        1 for d in rows if rows[d].quality_bucket == exact[d].quality_bucket
    )
    assert same >= 0.9 * len(rows)
    for d in rows:
        assert rows[d].sum_lp_micro == exact[d].sum_lp_micro


def test_minhash_incremental_cross_is_equi_join(spark, sf_dir):
    """batch x corpus candidates must meet through the banded equi-join —
    never a nested-loop over the corpus — and the band-join exchanges must
    carry NO signature columns (payload independent of n_perm; est_jaccard
    comes from the post-candidate signature re-join)."""
    plan = plan_of(q("minhash_incremental_pairs", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for blk in plan.split("\n\n"):
        if "Exchange" in blk and "band_key" in blk:
            assert "mh_" not in blk


def test_hybrid_rrf_no_corpus_blowup(spark, sf_dir):
    """Hybrid fusion: the only non-equi join allowed is the documented
    broadcast of the 5-row query set inside cosine_topk; the lexical index
    and the fusion itself must be equi-joins, and the per-query top-k
    windows must plan WindowGroupLimit."""
    plan = plan_of(q("hybrid_search_rrf", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    # cosine_topk's query broadcast is a BroadcastNestedLoopJoin over 5
    # rows — acceptable; anything joining the shingle index must be hash.
    assert "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_consistent_sample_plans_take_ordered(spark, sf_dir):
    """Exact-k sampling must plan TakeOrdered (per-partition bottom-k,
    k rows per partition cross the wire) — never a global Sort+Limit."""
    plan = plan_of(q("consistent_sample_k", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_oov_rate_broadcasts_vocab(spark, sf_dir):
    """The corpus vocabulary joins the batch token stream by broadcast —
    the exploded batch side never shuffles for the join."""
    plan = plan_of(q("oov_rate_new_sources", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_length_bucketed_single_window_shuffle(spark, sf_dir):
    """Batching must cost exactly one hash shuffle (the batching window) —
    no join, no extra exchange — AND the window must partition by
    (len_bucket, len_sub): the 64-way salted sub-streams are what keep the
    sort (bands·64)-way parallel instead of one task per band."""
    plan = plan_of(q("length_bucketed_batches", spark, sf_dir))
    assert plan.count(") Exchange") == 1
    assert "Join" not in plan
    assert "len_sub" in plan
    window_blk = next(
        b for b in plan.split("\n\n") if ") Window" in b and "Arguments" in b
    )
    assert "len_sub" in window_blk


def test_semdedup_cell_local_equi_join(spark, sf_dir):
    """SemDeDup's pair generation must be the cell equi-join — never the
    |corpus|^2 theta-join. The only nested-loop allowed is the broadcast
    of the tiny centroid table for assignment."""
    plan = plan_of(q("semdedup_keep_list", spark, sf_dir))
    assert "CartesianProduct" not in plan
    # the assignment (and its broadcast centroid expansion) is checkpointed
    # and computed once — downstream the plan reads the checkpoint, so NO
    # nested-loop join appears at all
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair join and the verdict join are equi-joins (SMJ/hash both
    # scale — the key is that they join ON CELL, not all-pairs)
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_boilerplate_joins_on_hash_not_text(spark, sf_dir):
    """The shingle doc-frequency join must key on xxhash64(shingle) — text
    never rides an exchange."""
    plan = plan_of(q("boilerplate_shingle_score", spark, sf_dir))
    assert "xxhash64" in plan
    # the shingle-keyed exchanges (doc-freq agg + join) carry only the
    # 8-byte hash — full text rides only the initial spread() fan-out
    for blk in plan.split("\n\n"):
        if ") Exchange" in blk and "hashpartitioning(sh#" in blk:
            assert "text#" not in blk


def test_equi_depth_histogram_no_sort_no_window(spark, sf_dir):
    """Equi-depth bucketing must be percentile-agg + broadcast threshold
    comparison: no Window, no global Sort — the ntile shape is banned."""
    import re

    plan = plan_of(q("equi_depth_histogram_prices", spark, sf_dir))
    assert "Window" not in plan
    assert not re.search(r"\bntile\(", plan)  # \b: don't match percentile(


def test_rfm_no_global_sort(spark, sf_dir):
    """RFM scoring must not plan any Window (the three-ntile shape) —
    quantile edges + broadcast comparisons only."""
    import re

    plan = plan_of(q("rfm_customer_segments", spark, sf_dir))
    assert "Window" not in plan
    assert not re.search(r"\bntile\(", plan)
    assert "CartesianProduct" not in plan


def test_mad_outliers_broadcasts_fences(spark, sf_dir):
    """Both fence joins (median, MAD) must broadcast the tiny per-group
    summaries against the event stream."""
    plan = plan_of(q("mad_outlier_events", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_markov_window_partitions_by_user(spark, sf_dir):
    """The lead() window must partition by user_id (scale rides the key),
    and the normalizing join must broadcast the tiny totals."""
    plan = plan_of(q("markov_event_transitions", spark, sf_dir))
    window_blk = next(
        b for b in plan.split("\n\n") if ") Window" in b and "Arguments" in b
    )
    assert "user_id" in window_blk
    assert "BroadcastHashJoin" in plan


def test_dense_rank_topk_group_limit(spark, sf_dir):
    """The rnk <= 2 filter must push into WindowGroupLimit so only ~2 rows
    per supplier survive each partition pre-shuffle."""
    plan = plan_of(q("dense_rank_supplier_parts", spark, sf_dir))
    assert "WindowGroupLimit" in plan


def test_scd2_single_broadcast_join_plus_union(spark, sf_dir):
    """SCD2 must plan the update batch as a broadcast build side and no
    sort-merge anywhere; the three output legs union without exchanges."""
    plan = plan_of(q("scd2_customer_history", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_attribution_single_user_shuffle(spark, sf_dir):
    """The forward as-of join must stay the union+window shape: exchanges
    only on user_id (hash), no join operator at all in the plan."""
    plan = plan_of(q("click_conversion_attribution", spark, sf_dir))
    assert "Join" not in plan
    window_blk = next(
        b for b in plan.split("\n\n") if ") Window" in b and "Arguments" in b
    )
    assert "user_id" in window_blk


def test_epoch_mix_broadcasts_rates(spark, sf_dir):
    """The per-source accept-rate table is strata-sized — the docs join
    must broadcast it, and membership is a pure predicate (no extra
    shuffle beyond the weight aggregation)."""
    plan = plan_of(q("epoch_sample_realized", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_funnel_three_step_no_cartesian(spark, sf_dir):
    """Stage joins are user_id equi-joins; the only nested loops are the
    three single-row count legs at the end."""
    plan = plan_of(q("funnel_three_step_ordered", spark, sf_dir))
    assert "CartesianProduct" not in plan
    n_bnlj = plan.count("(") and plan.count("BroadcastNestedLoopJoin")
    assert n_bnlj <= 4  # 1-row count legs only


def test_ltv_curve_no_cartesian_window_on_rollup(spark, sf_dir):
    """The cumulative window must run over the (cohort, month) rollup —
    partitioned by cohort_ym — never over raw orders."""
    plan = plan_of(q("customer_ltv_curve", spark, sf_dir))
    assert "CartesianProduct" not in plan
    window_blk = next(
        b for b in plan.split("\n\n") if ") Window" in b and "Arguments" in b
    )
    assert "cohort_ym" in window_blk


def test_cross_source_matrix_no_cartesian(spark, sf_dir):
    """Pairs come from the banded LSH equi-join; source pulls are id
    equi-joins."""
    plan = plan_of(q("cross_source_dup_matrix", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_pagerank_no_cartesian_bounded_shape(spark, sf_dir):
    """Each PageRank sweep is equi-join + partial agg — no cartesian
    product, no global (unpartitioned) sort anywhere in the plan."""
    plan = plan_of(q("copurchase_pagerank", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ivf_pq_codebook_joins_broadcast(spark, sf_dir):
    """IVF-PQ: every codebook-sized side (coarse centroids, PQ codebook,
    per-query LUT) joins as a broadcast — the corpus never shuffles
    against a codebook."""
    plan = plan_of(q("ivf_pq_topk", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 3


def test_per_source_cap_window_is_partitioned(spark, sf_dir):
    """The cap window partitions by source — no single-reducer global
    sort of the corpus."""
    plan = plan_of(q("per_source_doc_cap", spark, sf_dir))
    assert "CartesianProduct" not in plan
    # a partitioned window shows hashpartitioning on the partition key,
    # never a SinglePartition exchange ahead of the Window
    assert "SinglePartition" not in plan.split("Window")[0]


def test_bm25_takeordered_no_global_sort_window(spark, sf_dir):
    """bm25_topk's top-k must be TakeOrdered (k rows per partition move),
    never a global-sort row_number over the full candidate set; corpus
    stats and idf join as broadcasts; no cartesian blowup from the
    two one-row cross joins."""
    plan = plan_of(q("bm25_topk_docs", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan  # the one-row stats joins only


def test_dup_ngram_costing_two_exchanges(spark, sf_dir):
    """gram costing = groupBy(g, source) + window(g) + final rollup:
    exactly three exchanges (per-gram partial agg map-side-combines
    occurrences before the first one), no join anywhere."""
    plan = plan_of(q("dup_ngram_costing", spark, sf_dir))
    assert plan.count(") Exchange") == 3, plan  # detail headers = node count
    assert "Join" not in plan
    assert "partial_sum" in plan or "partial_count" in plan


def test_epoch_shards_single_shuffle(spark, sf_dir):
    """The epoch fan-out is a narrow explode; the only exchange is the
    final groupBy(epoch, shard) with map-side partial aggregation."""
    plan = plan_of(q("epoch_shuffle_shards", spark, sf_dir))
    assert plan.count(") Exchange") == 1, plan
    assert "Generate" in plan  # the explode, not a join against a seq table
    assert "Join" not in plan


def test_hashed_classifier_broadcast_weights_one_shuffle(spark, sf_dir):
    """Classifier inference = broadcast weight lookup; the weights table
    must never shuffle-join. Since the r9 spread(doc_id) fan-out, the
    groupBy(doc_id) REUSES the fan-out's hashpartitioning (guide §2.4),
    so at bench scale every remaining exchange is a REPARTITION_BY_NUM
    fan-out and no ENSURE_REQUIREMENTS shuffle survives at all."""
    plan = plan_of(q("hashed_classifier_gate", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ENSURE_REQUIREMENTS" not in plan, plan
    assert plan.count(") Exchange") <= 2, plan


def test_token_budget_window_is_partitioned(spark, sf_dir):
    """The budget cumsum must be a per-group window (hashpartitioning on
    source), never a single-reducer global sort."""
    plan = plan_of(q("token_budget_selection", spark, sf_dir))
    assert "SinglePartition" not in plan
    assert "hashpartitioning(source" in plan


def test_mmr_walk_is_single_fold_no_cartesian(spark, sf_dir):
    """The greedy MMR walk must be ONE higher-order fold over per-query
    arrays — no per-step join tower, no cartesian product; the only
    corpus-sized stage is the broadcast candidate prune."""
    plan = plan_of(q("mmr_diverse_topk", spark, sf_dir))
    assert "CartesianProduct" not in plan
    # Exactly ONE broadcast cross — the corpus x tiny-query-set scoring
    # fan-out (same designed shape as cosine_topk); the pairwise-sim and
    # pack joins must all be equi-joins, and the walk itself adds none.
    assert plan.count("BroadcastNestedLoopJoin Cross BuildRight") == 1
    assert plan.count("WindowGroupLimit") >= 1  # candidate top-k prune


def test_hll_registers_partial_agg(spark, sf_dir):
    """Register build must map-side combine: partial_max before the
    exchange, so the shuffle carries registers, not hashed values."""
    plan = plan_of(q("hll_register_merge", spark, sf_dir))
    assert "partial_max" in plan


def test_k_anonymity_no_global_sort(spark, sf_dir):
    plan = plan_of(q("k_anonymity_report", spark, sf_dir))
    assert "SinglePartition" not in plan.split("AdaptiveSparkPlan")[0]


def test_bpe_pair_counts_vocab_sized_topk(spark, sf_dir):
    """Pair counting must ride the vocabulary table: one corpus-sized
    token aggregate, then a TakeOrdered top-k — never a global sort of
    the pair table."""
    plan = plan_of(q("bpe_pair_counts", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_weighted_sample_is_takeordered(spark, sf_dir):
    """A-ES sampling must plan TakeOrdered — per-partition k-row heaps,
    never a global sort of the corpus."""
    plan = plan_of(q("weighted_sample_topk", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_aqe_splits_skewed_join_partitions(spark, sf_dir, tmp_path):
    """AQE's skew-join handling must actually fire on a pathological key:
    with a 90%-one-key build side and the skew thresholds scaled to the
    fixture, the executed adaptive plan rewrites the sort-merge join with
    skew=true (runtime partition splitting) — the knob SCALING.md relies
    on for hot keys that salting doesn't pre-treat. Asserted on the FINAL
    adaptive plan (AQE decisions are invisible pre-execution)."""
    skewed = spark.range(0, 100_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(0)).otherwise(F.col("id"))
        .alias("k"),
        F.concat(F.lit("v" * 32), F.col("id").cast("string")).alias("pad"),
    )
    dim = spark.range(0, 1000).select(F.col("id").alias("k"),
                                      F.col("id").alias("dval"))
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        joined = skewed.join(dim, "k")
        # must execute THIS DataFrame object: write()/count() build their
        # own QueryExecution and the inspected plan would stay pre-AQE
        assert len(joined.collect()) > 0
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:2000]
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_multiprobe_lsh_stays_equi_join(spark, sf_dir):
    """Probe fan-out must multiply only the broadcast query side: the
    corpus meets candidates through the bucket equi-join, never a
    cartesian/nested-loop expansion."""
    plan = plan_of(q("cosine_topk_lsh_multiprobe", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_geo_neighbor_join_is_equi_join_no_cartesian(spark, sf_dir):
    """The spatial proximity join must meet on (cy, cx) cell keys —
    an equi-join (broadcast or shuffled), never a cartesian/BNLJ over
    points. The 9x neighborhood is a narrow explode on the build side."""
    plan = plan_of(q("geo_neighbor_pairs", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_seq_pattern_table_broadcasts_onto_sessions(spark, sf_dir):
    """The bounded pattern table (|types|^<=3 rows) must broadcast; the
    only shuffles are the session build and the |patterns|-sized rollup
    — session rows never shuffle for the match itself."""
    plan = plan_of(q("seq_pattern_support", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_viterbi_piece_table_broadcasts(spark, sf_dir):
    """The piece table is bounded by construction (vocab_top + alphabet)
    and must broadcast onto the distinct-word substring list; the DP is
    expression work — no sort, no cartesian."""
    plan = plan_of(q("unigram_viterbi_segmentation", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_rebalance_vnode_tables_broadcast(spark, sf_dir):
    """Both vnode rings are bounded (shards x vnodes) and BROADCAST onto
    the keys (BNLJ over a 128-row broadcast side is the intended shape);
    the only non-broadcast join is the before/after reconciliation,
    co-partitioned on the key. Never a shuffled product of keys."""
    plan = plan_of(q("consistent_hash_rebalance", spark, sf_dir))
    # formatted explain prints each op twice (tree + detail block):
    # 2 mentions x one ring per epoch
    assert plan.count("BroadcastExchange") == 4
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") == 4


def test_ipw_single_pass_partial_agg(spark, sf_dir):
    """Truth and estimate come from ONE conditional-aggregation pass:
    exactly one shuffle (the groupBy(type)), partial aggregation on."""
    plan = plan_of(q("ipw_telemetry_estimates", spark, sf_dir))
    # formatted mode prints the op as "(n) Exchange"; BroadcastExchange
    # would not match the leading ") " form
    assert plan.count(") Exchange") == 1
    assert "partial_" in plan  # map-side combine present


def test_adamic_adar_no_cartesian_takeordered(spark, sf_dir):
    """Wedge enumeration is an equi-join on the center node with the
    hub cap applied before it; known edges leave via an equi anti-join;
    the top-k is TakeOrdered — never a global sort or a cartesian."""
    plan = plan_of(q("adamic_adar_link_pred", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_mutual_knn_windowgrouplimit(spark, sf_dir):
    """The per-node rank-k cut must be a WindowGroupLimit (map-side
    partial top-k), and the reciprocity check a plain equi self-join of
    the bounded n*k relation."""
    plan = plan_of(q("mutual_knn_pairs", spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_loo_encoding_single_agg_broadcast_back(spark, sf_dir):
    """One category-sized aggregate broadcast back onto the fact rows:
    no window, no sort in the encoding path."""
    plan = plan_of(q("loo_target_encoding_segment", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan


def test_holt_winters_fold_no_window(spark, sf_dir):
    """The recurrence is a map-side aggregate fold over per-group
    calendar-bounded arrays — no window function, no cartesian; the
    only shuffles are the daily rollup and the per-group collect."""
    plan = plan_of(q("holt_winters_daily_revenue", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_hbos_histograms_broadcast(spark, sf_dir):
    """All three histograms (16/24/|types| rows) and the 1-row range
    must broadcast; scoring joins are BroadcastHashJoins and the top-k
    is TakeOrdered."""
    plan = plan_of(q("hbos_event_outliers", spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_auc_window_runs_on_score_summary(spark, sf_dir):
    """The running-rank window must consume the per-score SUMMARY (one
    row per bucketed score), never the raw corpus: a HashAggregate sits
    strictly below the Window in the plan tree."""
    df = q("classifier_auc_report", spark, sf_dir)
    plan = plan_of(df)
    assert "Window" in plan
    assert "HashAggregate" in plan[: plan.index("Window")]


def test_wordpiece_piece_table_broadcasts(spark, sf_dir):
    """Same frame contract as the Viterbi matcher: bounded piece table
    broadcasts onto the distinct-word substring list; the greedy walk is
    expression work — no sort, no cartesian."""
    plan = plan_of(q("wordpiece_greedy_segmentation", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_label_propagation_no_window_no_cartesian(spark, sf_dir):
    """Votes are an ordinary aggregate + struct-min argmax — never a
    window — and every join is an equi-join on node ids."""
    plan = plan_of(q("label_propagation_parts", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_domain_mw_update_vocab_join_unhinted(spark, sf_dir):
    """The corpus-sized work is the token/vocab join + one per-source
    aggregate; the weight arithmetic runs on |domains| rows. The vocab
    join must carry no mandatory broadcast hint (OOM trap) — either
    hash strategy is acceptable, a cartesian over tokens is not. The
    BroadcastNestedLoopJoins in this plan are the 1-row scalar-aggregate
    cross joins (tot/lo/rt), which broadcast a single row by design."""
    plan = plan_of(q("domain_weights_mw_update", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_grouped_sample_is_windowgrouplimit(spark, sf_dir):
    """The per-source bottom-k must plan as WindowGroupLimit (map-side
    partial bottom-k per group), never a global sort of the corpus."""
    plan = plan_of(q("consistent_sample_k_per_source", spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "TakeOrderedAndProject" not in plan or True  # limit is per-group


def test_bfs_sweeps_stay_equi_join(spark, sf_dir):
    """Each BFS sweep is a frontier equi-join + min-merge; never a
    cartesian, never a window."""
    plan = plan_of(q("bfs_hop_histogram", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_t_closeness_bounded_broadcasts(spark, sf_dir):
    """The global bucket table, class-size table and 1-row total all
    broadcast back onto the observed cells; no sort, no cartesian over
    rows (the scalar cross joins are 1-row broadcasts)."""
    plan = plan_of(q("t_closeness_report", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dim_covariance_partial_agg_takeordered(spark, sf_dir):
    """The d²-per-vector pair explode must partial-aggregate to d²/2
    groups before the exchange, and the top-k must be TakeOrdered."""
    plan = plan_of(q("embedding_dim_covariance_top", spark, sf_dir))
    assert "partial" in plan.lower()
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_spearman_windows_run_on_value_summaries(spark, sf_dir):
    """Both rank windows must consume per-distinct-value summaries:
    a HashAggregate sits below the first Window in the plan text, and
    no cartesian appears (scalar 1-row cross joins aside)."""
    plan = plan_of(q("spearman_quality_vs_logit", spark, sf_dir))
    assert "Window" in plan
    assert "HashAggregate" in plan[: plan.index("Window")]
    assert "CartesianProduct" not in plan


def test_clustering_coefficient_semi_join_takeordered(spark, sf_dir):
    """Wedge closure is a left-semi equi-join against the canonical edge
    list; top-k is TakeOrdered; no cartesian anywhere."""
    plan = plan_of(q("clustering_coefficient_top", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan


def test_histogram_quantile_windows_on_summaries(spark, sf_dir):
    """Both cumulative windows run on summaries (32 bins / distinct
    values), after partial-aggregated groupBys — never on raw rows."""
    plan = plan_of(q("histogram_quantile_merge_proof", spark, sf_dir))
    assert "Window" in plan
    assert "HashAggregate" in plan[: plan.index("Window")]
    assert "CartesianProduct" not in plan


def test_assortativity_degree_joins_hash(spark, sf_dir):
    """Both degree lookups are equi-joins; the finish is a 1-row
    aggregate — no window, no cartesian over edges."""
    plan = plan_of(q("degree_assortativity", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_collision_profile_two_aggregates(spark, sf_dir):
    """Distinct features -> bucket loads -> load histogram: pure
    aggregate pipeline, partial-combined, no join wider than the 1-row
    empty-bucket union."""
    plan = plan_of(q("hash_bucket_collision_profile", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_isotonic_grid_runs_on_bin_summary(spark, sf_dir):
    """The O(B³) PAV grid joins touch only the 10-row bin summary — the
    corpus collapses in ONE aggregate before any grid join; no window,
    no cartesian over raw rows (grid inequality joins over ≤10-row
    broadcasts are BNLJ by design)."""
    plan = plan_of(q("isotonic_calibration_gate", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan


def test_ivm_delta_terms_broadcast_nation(spark, sf_dir):
    """Every delta term joins a parity batch against the other side on
    the customer key and broadcasts the nation dim; the merge is one
    partial-aggregated groupBy over view-sized rows."""
    plan = plan_of(q("ivm_join_delta_proof", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_conformal_order_statistic_on_summary(spark, sf_dir):
    """The q̂ cut walks the per-distinct-score summary (HashAggregate
    below the Window); the scalar threshold broadcasts onto the test
    half."""
    plan = plan_of(q("conformal_coverage_report", spark, sf_dir))
    assert "Window" in plan
    assert "HashAggregate" in plan[: plan.index("Window")]
    assert "CartesianProduct" not in plan


def test_markov_eval_prediction_table_broadcasts(spark, sf_dir):
    """The |types|-row prediction table must broadcast onto the test
    pairs; per-user lead windows carry the user partition key."""
    plan = plan_of(q("markov_heldout_accuracy", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_holt_backtest_single_scalar_cut(spark, sf_dir):
    """The train/test split is ONE broadcast scalar; the fold stays a
    map-side aggregate — no window, no cartesian beyond 1-row scalars."""
    plan = plan_of(q("holt_backtest_report", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_quantile_normalization_rank_join(spark, sf_dir):
    """The exact audit form joins two rank relations on rk — equi-join,
    never a cartesian; the 100 TB path swaps exact ranks for merged
    histograms (documented in the query)."""
    plan = plan_of(q("quantile_normalization_scores", spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_bootstrap_auc_windows_partitioned_by_replicate(spark, sf_dir):
    """The 16 rank walks run per replicate over bucketed-score
    summaries: the Window is PARTITIONED (by rep), never a single
    global sort; the fan-out is a narrow 16x cross of a 16-row
    broadcast."""
    plan = plan_of(q("bootstrap_auc_replicates", spark, sf_dir))
    assert "Window" in plan
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_business_day_offsets_pure_aggregate(spark, sf_dir):
    """The closed-form weekday arithmetic is per-row expression work:
    one join, one partial-aggregated groupBy — no window, no explode
    of a calendar, no cartesian."""
    plan = plan_of(q("business_day_latency_profile", spark, sf_dir))
    assert "Window" not in plan
    assert "Generate" not in plan  # no day enumeration on the Spark side
    assert "CartesianProduct" not in plan


def test_intersect_all_is_aggregated_not_joined(spark, sf_dir):
    """Spark plans intersectAll as a count-compare aggregate (generate
    over min counts), never a row-level join explosion."""
    plan = plan_of(q("intersect_all_quantities", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_kappa_and_cramers_collapse_to_contingency_cells(spark, sf_dir):
    """The agreement/association statistics do corpus-sized work only in
    the first contingency aggregate (partial-agg shuffle); the marginal
    and finish joins run on the bounded cell table — broadcast, never a
    sort-merge of the corpus."""
    for name in ("langid_kappa_agreement", "segment_nation_association"):
        plan = plan_of(q(name, spark, sf_dir))
        assert "partial" in plan.lower(), name
        assert "CartesianProduct" not in plan, name


def test_hhi_single_rollup_then_group_arithmetic(spark, sf_dir):
    """HHI: dims broadcast onto the fact scan, one (region, supplier)
    partial-aggregated rollup, no window."""
    plan = plan_of(q("supplier_hhi_by_region", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_ks_windows_run_on_grid_not_corpus(spark, sf_dir):
    """KS: the ECDF windows walk the (source, length) grid built from
    two bounded summaries; the corpus appears only in the first
    partial-aggregated (g, v) shuffle."""
    plan = plan_of(q("doc_length_ks_by_source", spark, sf_dir))
    assert "Window" in plan
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_logrank_windows_on_duration_grid(spark, sf_dir):
    """Log-rank: reverse-cumulative at-risk windows run over the
    bounded duration-step table; customer dim broadcasts."""
    plan = plan_of(q("logrank_building_vs_rest", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_kmv_set_ops_rank_cuts_before_pair_work(spark, sf_dir):
    """KMV set ops: per-group sketches are rank-cut to k rows (window
    group limit) BEFORE any pairwise work, so pair joins touch k-row
    relations only."""
    plan = plan_of(q("kmv_set_ops_users", spark, sf_dir))
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan


def test_sssp_sweeps_are_equi_joins(spark, sf_dir):
    """Bellman-Ford: every relaxation sweep is an equi-join + min-merge
    (hash aggregate), never a cartesian; lineage cuts keep the plan flat."""
    plan = plan_of(q("sssp_weighted_histogram", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_brier_runs_on_bin_summary(spark, sf_dir):
    """Brier decomposition: after the one-pass binning, everything is
    grid arithmetic — the corpus-sized exchange count stays small and
    no corpus-sized window exists."""
    plan = plan_of(q("brier_decomposition_gate", spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_dau_mau_two_distinct_aggregates_no_window(spark, sf_dir):
    """Stickiness is two distinct-aggregates over the (month, day,
    user) grid — no window, no self-join of months."""
    plan = plan_of(q("dau_mau_stickiness", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_neyman_one_stats_pass(spark, sf_dir):
    """Allocation plan: one partial-aggregated stats pass over the
    corpus, then |sources|-row arithmetic with a 1-row broadcast total."""
    plan = plan_of(q("neyman_allocation_plan", spark, sf_dir))
    assert "partial" in plan.lower()
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan


def test_js_divergence_grid_joins_broadcast(spark, sf_dir):
    """JS: the per-pair expansion joins bounded summaries (vocab grid ×
    language pairs) — broadcast side present, no cartesian of the corpus."""
    plan = plan_of(q("lang_char_js_divergence", spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_hits_half_steps_hash_aggregate(spark, sf_dir):
    """HITS: each half-step is an equi-join + partial agg; normalizing
    maxima are 1-row broadcasts; top-k per side is a rank window."""
    plan = plan_of(q("hits_order_part_scores", spark, sf_dir))
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_interval_union_no_self_join(spark, sf_dir):
    """Coverage sweep: one user-partitioned window — no overlap
    self-join, no cartesian."""
    plan = plan_of(q("interval_union_coverage", spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_ivm_deletes_merge_by_group_key(spark, sf_dir):
    """Delete-IVM: delta terms aggregate before meeting V1; nation dim
    broadcasts; no corpus-sized recompute join."""
    plan = plan_of(q("ivm_agg_under_deletes", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_getis_ord_offset_equi_join(spark, sf_dir):
    """Gi*: the 3×3 neighborhood is a cell-coordinate equi-join over
    the bounded cell table — never a radius cross-join; totals are
    1-row broadcasts."""
    plan = plan_of(q("getis_ord_hotspots", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_int8_recall_broadcast_query_side(spark, sf_dir):
    """Quantized retrieval: the 8-query side broadcasts against the
    corpus; top-k via rank windows with group limits."""
    plan = plan_of(q("int8_quantization_recall", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan


def test_purged_folds_single_pass(spark, sf_dir):
    """Folds: a 3-row fold table broadcast onto ONE events pass with
    conditional aggregation — no window, no per-fold rescan joins."""
    plan = plan_of(q("purged_walkforward_folds", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_frame_dedup_inverted_index_join(spark, sf_dir):
    """Frame dedup: pairs come from an equi-join on frame hash (the
    inverted-index shape), never |videos|²."""
    plan = plan_of(q("frame_hash_dedup_pairs", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "MapInPandas" in plan  # the real codec seam is in the plan


def test_mase_windows_walk_calendar_grid(spark, sf_dir):
    """MASE: lag windows run over the zero-filled calendar grid
    (nations × days), not the order rows; the corpus-sized work is the
    one daily rollup."""
    plan = plan_of(q("seasonal_naive_mase", spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_containment_single_pair_aggregate(spark, sf_dir):
    """Containment: sizes ride the grouping key — one pair aggregate,
    no post-agg size re-joins, no cartesian."""
    plan = plan_of(q("shingle_containment_pairs", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


def test_wasserstein_windows_on_grid(spark, sf_dir):
    """W1: like KS, the ECDF windows walk the bounded (source, value)
    grid, not the corpus."""
    plan = plan_of(q("wasserstein_length_drift", spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_knn_outlier_grid_join_and_takeordered(spark, sf_dir):
    """kNN outliers: candidates from the 3×3 grid equi-join (no
    cartesian), global top-k as TakeOrdered."""
    plan = plan_of(q("knn_outlier_customers", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "TakeOrdered" in plan


def test_youden_sweep_on_score_summary(spark, sf_dir):
    """Youden: the threshold sweep is reverse-cumulative windows over
    the bounded bucketed-score summary + TakeOrdered(1)."""
    plan = plan_of(q("youden_optimal_threshold", spark, sf_dir))
    assert "Window" in plan
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan


def test_shapley_collapses_to_coalition_grid(spark, sf_dir):
    """Shapley: one conditional aggregate collapses users to the 16-row
    coalition table; the subset joins are broadcast grid work."""
    plan = plan_of(q("shapley_channel_attribution", spark, sf_dir))
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_mann_kendall_pair_join_on_week_grid(spark, sf_dir):
    """MK: the O(grid²) sign-pair join runs on the calendar-bounded
    weekly summary (broadcast), never on order rows."""
    plan = plan_of(q("mann_kendall_trend", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_runs_test_windows_on_weekly_grid(spark, sf_dir):
    """Runs test: median order statistic + lag both walk the bounded
    weekly summary."""
    plan = plan_of(q("revenue_runs_test", spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_ece_one_binning_pass(spark, sf_dir):
    """ECE: one corpus binning aggregate, then 10-row arithmetic."""
    plan = plan_of(q("ece_raw_gate", spark, sf_dir))
    assert "partial" in plan.lower()
    assert "CartesianProduct" not in plan


def test_cuped_single_user_aggregate(spark, sf_dir):
    """CUPED: one per-user conditional aggregate; theta and arm
    arithmetic on 1-row broadcasts; no window, no rescan per arm."""
    plan = plan_of(q("cuped_adjusted_ab", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_rich_club_broadcast_degree_filters(spark, sf_dir):
    """Rich club: degree table broadcasts onto the edge list; the k
    grid is a 4-row broadcast — no edge×edge join."""
    plan = plan_of(q("rich_club_coefficients", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_pr_sweep_and_ap_on_summary(spark, sf_dir):
    """PR curve + AP: reverse-cumulative windows on the bounded score
    summary; AP adds one lead() on the same grid."""
    for name in ("pr_curve_points", "average_precision_gate"):
        plan = plan_of(q(name, spark, sf_dir))
        assert "Window" in plan, name
        assert "CartesianProduct" not in plan, name


def test_kw_and_bf_windows_on_summaries(spark, sf_dir):
    """KW: doubled ranks over the bucketed value summary; BF: the
    median windows partition by segment — neither cartesian-joins the
    corpus."""
    for name in (
        "kruskal_wallis_segments",
        "variance_equality_brownforsythe",
    ):
        plan = plan_of(q(name, spark, sf_dir))
        assert "Window" in plan, name
        assert "CartesianProduct" not in plan, name


def test_mean_excess_single_pass_threshold_grid(spark, sf_dir):
    """Mean excess: a 4-row broadcast threshold grid over ONE orders
    pass — no per-threshold rescan."""
    plan = plan_of(q("mean_excess_profile", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_logodds_bounded_vocab_joins(spark, sf_dir):
    """Fightin' Words: one token aggregate, then vocab-bounded
    broadcast joins + a per-source rank window."""
    plan = plan_of(q("source_logodds_keywords", spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_decayed_popularity_one_aggregate(spark, sf_dir):
    """Decayed popularity: dim broadcast + one aggregate + TakeOrdered."""
    plan = plan_of(q("decayed_item_popularity", spark, sf_dir))
    assert "TakeOrdered" in plan
    assert "CartesianProduct" not in plan


def test_ca_trend_single_summary_pass(spark, sf_dir):
    """CA trend: one conditional aggregate to the 4-band summary."""
    plan = plan_of(q("cochran_armitage_trend", spark, sf_dir))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan


def test_sprt_walk_on_day_grid(spark, sf_dir):
    """SPRT: the LLR walk is one window over the bounded day grid."""
    plan = plan_of(q("sprt_signup_monitor", spark, sf_dir))
    assert "Window" in plan
    assert "CartesianProduct" not in plan


def test_kendall_cell_pair_join_bounded(spark, sf_dir):
    """τ-b: the pair products run over the bounded joint-bucket cell
    grid (broadcast), never row-level pairs."""
    plan = plan_of(q("kendall_tau_quality_vs_logit", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_logit_psi_grid_zero_fill(spark, sf_dir):
    """Per-source PSI: one scoring pass, then source×bin grid work
    with broadcast marginals — no corpus re-join per source."""
    plan = plan_of(q("logit_psi_by_source", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "partial" in plan.lower()


# ---------------------------------------------------------------------------
# round-5 batches A-C (plans/extended_r10*.py)
# ---------------------------------------------------------------------------


def test_hhi_broadcasts_dims_no_smj(spark, sf_dir):
    """HHI: supplier/nation dims and the nation-level totals broadcast;
    the only repartition-scale shuffle keys on l_suppkey."""
    plan = plan_of(q("hhi_supplier_revenue", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_lpa_rounds_are_equi_joins(spark, sf_dir):
    """LPA: every propagation round joins edges to labels on the node
    key — no cartesian anywhere in the 3-round plan."""
    plan = plan_of(q("lpa_communities", spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_clustering_coefficient_no_cartesian(spark, sf_dir):
    """Wedge generation and closure are equi-joins (src key, (a,b)
    pair key); the plan must not degrade to a cartesian."""
    plan = plan_of(q("clustering_coefficient_parts", spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_ks_pushes_source_filter_to_scan(spark, sf_dir):
    """KS reads only the two compared sources: the IN-filter must reach
    the parquet scan as a pushed filter, not a post-scan Filter."""
    plan = plan_of(q("ks_doclen_two_sources", spark, sf_dir))
    assert any(
        "PushedFilters" in b and "src0" in b for b in plan.split("\n\n")
    )  # In(source, [src0,src9]) reaches the scan
    assert "CartesianProduct" not in plan


def test_alert_ttl_pushes_value_threshold(spark, sf_dir):
    """The >=100 alert threshold prunes ~90% of events AT THE SCAN."""
    plan = plan_of(q("alert_ttl_suppression", spark, sf_dir))
    assert any(
        "PushedFilters" in b and "GreaterThanOrEqual(value,100.0)" in b
        for b in plan.split("\n\n")
    )


def test_pps_total_rides_broadcast(spark, sf_dir):
    """PPS: the 1-row corpus total joins as a broadcast; the fact scan
    is never sort-merge-joined."""
    plan = plan_of(q("pps_systematic_sample", spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_topk_other_broadcasts_nation(spark, sf_dir):
    plan = plan_of(q("topk_plus_other_suppliers", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_unimax_waterfills_on_bounded_lang_table(spark, sf_dir):
    """The waterfilling windows/joins run on the language table; the
    corpus contributes exactly one aggregate pass."""
    plan = plan_of(q("unimax_language_budgets", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_revenue_recognition_no_cartesian(spark, sf_dir):
    """The month explode is sequence()-driven — bounded per order, no
    cartesian, orders⋈lineitem stays an equi-join."""
    plan = plan_of(q("revenue_recognition_schedule", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_decile_migration_windows_keyed_by_half(spark, sf_dir):
    plan = plan_of(q("decile_migration_matrix", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_growth_accounting_single_distinct_then_windows(spark, sf_dir):
    plan = plan_of(q("growth_accounting_weekly", spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_open_orders_depth_no_interval_stab_join(spark, sf_dir):
    """Sweep-line formulation: the plan must contain NO theta-join
    (the O(n·days) interval-stabbing alternative would be a nested-loop
    over a non-equi condition)."""
    plan = plan_of(q("open_orders_depth_profile", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_linkage_blocked_join_no_cartesian(spark, sf_dir):
    """Fellegi-Sunter candidate generation is ONE equi-join on the
    blocking key; no all-pairs product may appear anywhere."""
    plan = plan_of(q("linkage_fs_weights", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_decontamination_eval_grams_broadcast(spark, sf_dir):
    """The eval gram set (tiny by construction) must broadcast onto the
    corpus gram stream — the corpus is never shuffled on the gram."""
    plan = plan_of(q("eval_ngram_decontamination", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_sidecar_tombstone_read_is_broadcast_anti_join(spark, tmp_path):
    """The delete-file read path (round 7): sidecar tombstones must
    apply as a BROADCAST anti-join — never a SortMergeJoin (shuffling
    the whole table to apply a delete set defeats merge-on-read) and
    never an In-literal expression (Catalyst superlinear analysis,
    measured 19 s → 81 s at 4× on the literal form)."""
    from politicamente_etl_spark.sources.txlog import TxLogTable

    df = spark.range(1, 1001).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = TxLogTable.create(spark, str(tmp_path / "t"), df)
    t.delete_where_logical(
        "k", keys_df=spark.range(1, 201).select(F.col("id").alias("k"))
    )
    plan = plan_of(t.snapshot())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert t.snapshot().count() == 800


def test_kneser_ney_joins_are_broadcast(spark, sf_dir):
    """KN's three count-table joins are vocabulary-sized → broadcast;
    the token stream shuffles exactly once (the bigram aggregate). The
    top-20 plans as a TakeOrderedAndProject heap, not a full sort."""
    plan = plan_of(q("kneser_ney_bigram_scores", spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_contiguous_ids_avoid_global_window(spark, sf_dir):
    """The two-pass numbering must not degrade to joins that shuffle
    the table: min/max and offsets broadcast; the only exchange is the
    range-key partition for the per-range window."""
    plan = plan_of(q("contiguous_id_assignment", spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_ccnet_lang_buckets_vocab_broadcast(spark, sf_dir):
    """The vocab logprob join must broadcast back onto the token stream
    (CCNet shape); the per-lang ntile sorts doc-level rows only."""
    plan = plan_of(q("ccnet_lang_buckets_report", spark, sf_dir))
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """Catalyst's DPP: joining a day-partitioned fact to a FILTERED dim
    prunes fact partitions at RUNTIME from the dim's broadcast side.
    Requirements this pins: the dim filter sits on a SCAN (not a local
    relation) and the partition column types match on both sides (a
    cast on the partition attribute silently disables DPP — found while
    writing this test). Under AQE the pruning subquery appears in the
    EXECUTED plan, not the pre-execution explain."""
    import os

    fact = spark.range(0, 10_000).selectExpr(
        "id", "id % 20 AS pday", "id * 2 AS v"
    )
    path = str(tmp_path / "fact")
    fact.write.partitionBy("pday").parquet(path)
    dim_path = str(tmp_path / "dim")
    spark.range(0, 20).selectExpr(
        "CAST(id AS INT) AS pday",  # match the read-back partition type
        "CASE WHEN id IN (3, 7) THEN 'keep' ELSE 'drop' END AS tag",
    ).write.parquet(dim_path)
    _ = os
    dim = spark.read.parquet(dim_path).filter(F.col("tag") == "keep")
    # NOTE: adding input_file_name() to the fact side also disables DPP
    # (non-deterministic expression pins the scan) — a third silent
    # disabler alongside the cast and the local-relation dim
    f = spark.read.parquet(path)
    joined = f.join(dim, "pday")
    rows = joined.collect()  # finalize THIS plan's query execution
    assert len(rows) == 1000  # 2 of 20 day-slices
    executed = joined._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in executed.lower()
    assert "SubqueryAdaptiveBroadcast" in executed or "SubqueryBroadcast" in executed


def test_lateral_subquery_decorrelates(spark, sf_dir):
    """The correlated LATERAL ORDER BY/LIMIT must decorrelate into a
    join + WindowGroupLimit (per-partition top-k heap) — never a
    per-row nested loop or cartesian execution."""
    plan = plan_of(q("lateral_topk_orders", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "WindowGroupLimit" in plan


def test_harmonic_centrality_no_cartesian(spark, sf_dir):
    """k-source BFS sweeps are equi-joins on the frontier — no
    cartesian or nested-loop product may appear."""
    plan = plan_of(q("harmonic_centrality_seeds", spark, sf_dir))
    assert "CartesianProduct" not in plan


def test_huber_stats_table_broadcasts(spark, sf_dir):
    """The (median, MAD) per-segment table is 5 rows — it must
    broadcast back onto the facts, never shuffle them."""
    plan = plan_of(q("huber_mean_revenue_by_segment", spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_dv_read_is_broadcast_anti_join_on_addresses(spark, tmp_path):
    """The deletion-vector read path (round 8): a DV applies as a
    BROADCAST anti-join on the (file basename, row ordinal) address
    pair — never a SortMergeJoin (shuffling the table to apply a
    positional delete defeats merge-on-read), and the address columns
    come from the parquet reader's _metadata (scan-local, no extra
    exchange to compute them)."""
    from politicamente_etl_spark.sources.txlog import TxLogTable

    df = spark.range(1, 1001).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    t = TxLogTable.create(spark, str(tmp_path / "t"), df)
    t.delete_where_rowindex("k % 5 = 0")
    plan = plan_of(t.snapshot())
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert t.snapshot().count() == 800


def test_mann_whitney_window_runs_on_value_counts(spark, sf_dir):
    """The rank window must consume the grouped VALUE-COUNT table (one
    HashAggregate below the Window), never the raw joined rows — that
    is the difference between a window over |distinct prices| and a
    global per-row sort at 100 TB. The dimension join broadcasts."""
    plan = plan_of(q("mann_whitney_u_segments", spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    w = plan.index("Window")
    assert "HashAggregate" in plan[:w], (
        "value-count aggregate must sit below the rank window"
    )


def test_offset_pagination_is_collect_limit_not_global_sort(spark, sf_dir):
    """ORDER BY + LIMIT/OFFSET must execute as a take-ordered/collect-
    limit shape (top-60 per partition, one tiny reduce), never a full
    global Sort exchange of the table."""
    plan = plan_of(q("offset_pagination_orders", spark, sf_dir))
    assert "TakeOrderedAndProject" in plan or "CollectLimit" in plan


def test_flagship_build_runs_no_spark_job(spark, sf_dir):
    """Building the flagship plan (no action) on a warm schema cache
    launches no Spark job: its four load_table calls read with the cached
    footer schema instead of running a footer-inference job each."""
    name = "flagship_revenue_rollup"
    q(name, spark, sf_dir)  # warm
    _, jobs = spark_jobs(spark, "probe:flagship:build", lambda: q(name, spark, sf_dir))
    assert jobs == 0


def test_cosine_topk_broadcasts_queries_without_shuffle(spark, sf_dir):
    """The 5 query vectors are scanned and filtered on their own, not
    sliced from the spread corpus: the filter would be pushed below the
    repartition and give the broadcast side an exchange (and a job) of its
    own. A warm call runs at most 4 jobs."""
    name = "cosine_topk"
    df = q(name, spark, sf_dir)
    df.collect()  # executes THIS frame, so the inspected plan is AQE's final
    lines = df._jdf.queryExecution().executedPlan().toString().split("\n")
    at = next(i for i, ln in enumerate(lines) if "BroadcastExchange" in ln)
    depth = lines[at].index("BroadcastExchange")
    below = []
    for ln in lines[at + 1 :]:
        body = ln.lstrip(" :|+-")
        if not body or len(ln) - len(body) <= depth:
            break
        below.append(body)
    assert below and not any("Exchange" in ln for ln in below), "\n".join(lines)
    _, jobs = spark_jobs(spark, "probe:cosine:warm", lambda: q(name, spark, sf_dir).collect())
    assert jobs <= 4


def _column_built_minhash_pairs(df, n_perm=8, band_size=2):
    """`minhash_near_dup_pairs` built from Column objects node by node —
    the reference form the SQL-string builders in operators/dedup.py
    must plan identically to."""
    from politicamente_etl_spark.operators.core import spread
    from politicamente_etl_spark.operators.text import has_shingle, shingles_regex

    def minhash(perm):
        return F.array_min(
            F.transform(
                F.col("__shingles"),
                lambda s: F.md5(F.concat_ws(":", F.lit(str(perm)), s)),
            )
        )

    sh = spread(
        df.select("doc_id", "text").filter(has_shingle("text")), "doc_id"
    ).withColumn("__shingles", shingles_regex("text"))
    sig = sh.withColumns(
        {f"mh_{i}": minhash(i) for i in range(n_perm)}
    ).drop("__shingles").drop("text")
    n_bands = n_perm // band_size
    sig = sig.select(
        "doc_id",
        *[F.xxhash64(f"mh_{i}").alias(f"mh_{i}") for i in range(n_perm)],
        *[
            F.xxhash64(
                *[F.col(f"mh_{b * band_size + r}") for r in range(band_size)]
            ).alias(f"band_{b}")
            for b in range(n_bands)
        ],
    )
    mh = [f"mh_{i}" for i in range(n_perm)]
    ex = sig.select(
        "doc_id",
        *mh,
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.col(f"band_{b}").alias("band_key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", *mh, "bk.band_id", "bk.band_key")
    pairs = ex.alias("a").join(
        ex.alias("b").hint("shuffle_hash"),
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        *[F.col(f"a.mh_{i}").alias(f"a_mh_{i}") for i in range(n_perm)],
        *[F.col(f"b.mh_{i}").alias(f"b_mh_{i}") for i in range(n_perm)],
    )
    agree = sum(
        F.when(F.col(f"a_mh_{i}") == F.col(f"b_mh_{i}"), 1).otherwise(0)
        for i in range(n_perm)
    )
    return (
        pairs.withColumn("est_jaccard", agree.cast("double") / F.lit(float(n_perm)))
        .select("doc_a", "doc_b", "est_jaccard")
        .dropDuplicates(["doc_a", "doc_b"])
    )


def test_minhash_sql_builders_plan_like_column_form(spark, sf_dir):
    """The SQL-string expression builders change py4j traffic only: the
    optimized plan equals the Column-built form's, up to expression ids
    and lambda variable names."""
    from politicamente_etl_spark.operators import dedup
    from politicamente_etl_spark.sources.readers import load_table

    def optimized(df):
        s = df._jdf.queryExecution().optimizedPlan().toString()
        return re.sub(r"#\d+L?\b", "#", re.sub(r"lambda \w+#", "lambda v#", s))

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    got = optimized(dedup.minhash_near_dup_pairs(docs))
    assert "array_min(transform(" in got and "explode(array(struct(" in got
    assert got == optimized(_column_built_minhash_pairs(docs))
