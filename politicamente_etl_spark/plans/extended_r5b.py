"""Round-5 prep batch 2: lakehouse commit-log table operations (the
sources/txlog.py format — transactional MERGE, snapshot time travel) and
Bloom-filter join pruning, each driver-checkable against a pure-SQL
oracle because the storage mechanics never change the query semantics:
a txlog MERGE resolves to the same relation plain SQL set algebra
produces, and a Bloom prefilter admits false positives only, which the
real join then removes.

Same engine-parity rules as extended_r4*/r5: decimal-snapped money sums,
integer counts, no produced floats, no DATE/TIMESTAMP output columns.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from politicamente_etl_spark.functions.scalar import money_sum, sql_money_sum


def _register():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "txlog_merge_report",
        sql=f"""
        WITH merged AS (
            SELECT o_orderstatus, o_totalprice + 1000.0 AS p
            FROM orders WHERE o_orderkey % 4 >= 2
            UNION ALL
            SELECT o_orderstatus, o_totalprice AS p
            FROM orders WHERE o_orderkey % 4 < 2
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {sql_money_sum('p', 'total_price')}
        FROM merged GROUP BY 1
        """,
        bench=True,  # r5 headline: exercises the lakehouse layer
        # (create + file-pruned MERGE + snapshot agg) per VERDICT r4 #8
        tags=("ext-sink",),
    )
    def q_txlog_merge_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """End-to-end transactional MERGE through the commit-log table
        format (sources/txlog.py): create the table from orders with
        o_orderkey % 4 < 3, merge a batch covering % 4 >= 2 with a
        1000.00 price bump (so % 4 == 2 are updates, % 4 == 3 inserts),
        then aggregate the resulting snapshot. The oracle expresses the
        merged relation directly in SQL — UPSERT semantics are exactly
        "batch wins on key conflict, others survive" — so a green row
        proves the storage layer's commit/prune/snapshot machinery is
        invisible to query semantics, which is the whole contract.

        100 TB: the merge rewrites only files containing matched keys
        (semi-join file pruning, test_txlog.py::test_merge_prunes_
        untouched_files); the commit is one atomic manifest link."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_merge_"), "t")
        target = o.filter(F.col("o_orderkey") % 4 < 3)
        batch = o.filter(F.col("o_orderkey") % 4 >= 2).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        t = TxLogTable.create(spark, path, target)
        t.merge(batch, ["o_orderkey"])
        return (
            t.snapshot()
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                money_sum("o_totalprice", "total_price"),
            )
        )

    @register(
        "txlog_time_travel_counts",
        sql="""
        SELECT 1 AS version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
        FROM orders WHERE o_orderkey % 3 <= 1
        UNION ALL
        SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
        FROM orders
        """,
        tags=("ext-sink",),
    )
    def q_txlog_time_travel_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Snapshot-isolation time travel: create (keys % 3 == 0), append
        (% 3 == 1), merge (% 3 != 0 — updates the appended rows, inserts
        % 3 == 2), then read ALL THREE versions of the same table and
        fingerprint each (row count + key checksum). The oracle derives
        each version's contents from the commit definitions — possible
        only because historical versions are immutable: each commit's
        files are never rewritten, and a version reads as the manifest
        fold at that point in the log."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_tt_"), "t")
        t = TxLogTable.create(spark, path, o.filter(F.col("o_orderkey") % 3 == 0))
        t.append(o.filter(F.col("o_orderkey") % 3 == 1))
        t.merge(o.filter(F.col("o_orderkey") % 3 != 0), ["o_orderkey"])
        parts = [
            t.snapshot(version=v).agg(
                F.lit(v).cast("int").alias("version"),
                F.count("*").cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
            for v in (1, 2, 3)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.select("version", "n_rows", "key_sum")

    @register(
        "bloom_prefiltered_join",
        sql=f"""
        SELECT l.l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n_items,
               {sql_money_sum('l.l_extendedprice * (1 - l.l_discount)', 'revenue')}
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderpriority = '1-URGENT'
        GROUP BY 1
        """,
        bench=True,
        tags=("ext-join",),
    )
    def q_bloom_prefiltered_join(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Selective dim join with Bloom-filter pruning (joins.bloom_
        prefilter): the urgent-order keys are summarized into a fixed
        128 KB bit array, broadcast, and lineitem rows failing the
        membership test are dropped AT THE SCAN — before the join
        exchange moves them. The oracle is the plain join: Bloom admits
        false positives only, and the real join removes those, so the
        operator is result-invisible by construction. The green row plus
        the equivalence test (test_round5_ops.py) certify the rewrite;
        the payoff at 100 TB is a shuffle shrunk by the true-negative
        rate (~81% of lineitem here) without needing the build side to
        be broadcastable."""
        from politicamente_etl_spark.operators.joins import bloom_prefilter

        # r10: the r9 spread() fan-out is REMOVED — five xxhash64 probes
        # plus two array lookups per row are codegen'd and too cheap for
        # the fan-out shuffle of the (pre-filter!) fact rows to pay for
        # itself; worse, spread() inserted an exchange BELOW the bloom
        # test, moving unfiltered rows, the exact thing the operator
        # exists to avoid (A/B at sf0.1: spread-before 1.50 s,
        # spread-after 1.55 s, no spread 1.16 s). At scale the scan is
        # already parallel and the probe runs scan-side ahead of the
        # join exchange as designed.
        li = T(spark, sf_dir, "lineitem")
        build = T(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        pruned = bloom_prefilter(
            li, build, "l_orderkey", "o_orderkey", num_bits=1 << 20, num_hashes=5
        )
        return (
            pruned.join(build, pruned.l_orderkey == build.o_orderkey)
            .groupBy("l_returnflag")
            .agg(
                F.count("*").alias("n_items"),
                money_sum(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"
                ),
            )
        )


_register()


def _register2():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "copurchase_pagerank",
        sql="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), e AS (
            SELECT pa AS s, pb AS d FROM e0
            UNION
            SELECT pb AS s, pa AS d FROM e0
        ), deg AS (
            SELECT s, COUNT(*) AS dg FROM e GROUP BY 1
        ), r0 AS (
            SELECT s AS node, CAST(1000000000000 AS BIGINT) AS r FROM deg
        ), r1 AS (
            SELECT e.d AS node,
                   150000000000 + (85 * SUM(r0.r // deg.dg)) // 100 AS r
            FROM e JOIN r0 ON e.s = r0.node JOIN deg ON e.s = deg.s
            GROUP BY 1
        ), r2 AS (
            SELECT e.d AS node,
                   150000000000 + (85 * SUM(r1.r // deg.dg)) // 100 AS r
            FROM e JOIN r1 ON e.s = r1.node JOIN deg ON e.s = deg.s
            GROUP BY 1
        )
        SELECT node AS part, CAST(r AS BIGINT) AS rank_micromass
        FROM r2
        ORDER BY rank_micromass DESC, part
        LIMIT 20
        """,
        bench=True,  # r6 headline: the iterative-graph layer the
        # bench couldn't see (per-round equi-join + agg to convergence)
        tags=("ext-rel", "ext-graph"),
    )
    def q_copurchase_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Two damped PageRank sweeps over the co-purchase graph (same
        support-2 edge set as copurchase_triangles), top-20 influential
        parts. Runs graph.pagerank_integer — exact integer arithmetic
        (rank div degree contributions, 85/100 damping in integer space),
        so the oracle can unroll the SAME two sweeps as plain CTEs and
        match bit-for-bit; no float summation order anywhere. The scale
        shape is one edge-list equi-join + one partial-aggregated
        groupBy(dst) per sweep with lineage cut per round — PageRank's
        canonical BSP form."""
        from politicamente_etl_spark.operators.graph import (
            cooccurrence_pairs,
            pagerank_integer,
        )

        # r9 opt: one-shuffle edge builder (groupBy(order) + map-side
        # pair gen) replaces distinct → self-equi-join → groupBy; the
        # support-2 edge set is identical (see cooccurrence_pairs).
        e = (
            cooccurrence_pairs(
                T(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_partkey"
                ),
                "l_orderkey",
                "l_partkey",
            )
            .filter(F.col("cnt") >= 2)
            .select("pa", "pb")
        )
        ranks = pagerank_integer(
            e, src="pa", dst="pb", iterations=2, edges_oriented_unique=True
        )
        return (
            ranks.orderBy(F.desc("rank"), F.asc("node"))
            .limit(20)
            .select(
                F.col("node").alias("part"),
                F.col("rank").cast("long").alias("rank_micromass"),
            )
        )


_register2()


def _register3():
    from politicamente_etl_spark.plans.catalog import register

    @register(
        "streaming_txlog_exactly_once",
        sql="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS id_sum,
               CAST(3 AS INTEGER) AS n_commits
        FROM events GROUP BY 1
        """,
        tags=("ext-stream", "ext-sink"),
    )
    def q_streaming_txlog_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Streaming micro-batches into the commit-log table with a
        DOUBLE append per batch (simulated at-least-once redelivery);
        the txn_id gate must reduce table contents to exactly-once. The
        oracle is the raw events rollup — any duplicated or dropped
        micro-batch changes n_events/id_sum — and the pinned commit
        count (create + txn-marker + batch-1 = 3) would expose a
        duplicate commit even if the rollup collided."""
        from politicamente_etl_spark.streaming.windows import (
            stream_txlog_exactly_once,
        )

        return stream_txlog_exactly_once(spark, sf_dir)


_register3()


def _register4():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "per_source_doc_cap",
        sql="""
        WITH ranked AS (
            SELECT source, md5(CAST(doc_id AS VARCHAR)) AS h,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                   ) AS rk
            FROM documents
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_kept,
               CAST(SUM(CAST('0x' || substr(h, 1, 14) AS BIGINT)) AS BIGINT)
                   AS keep_digest
        FROM ranked WHERE rk <= 10 GROUP BY 1
        """,
        tags=("ext-docs", "ext-sampling"),
    )
    def q_per_source_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-domain document cap — the curation step that stops one
        crawled domain from dominating a training mix: keep at most k
        docs per source, chosen by md5 hash order so the keep-set is
        deterministic, uniform over the domain's docs, and APPEND-STABLE
        (a doc's hash never changes, so re-runs over a grown corpus keep
        a superset-consistent sample — same property as
        consistent_sample_k, applied per group). The 56-bit hash-sum
        digest pins the exact keep-set, not just its size.

        Scale: one window partitioned by source — and the same
        hash-order trick drops to a per-partition TopK (no global sort);
        skew in docs-per-domain is exactly what the cap removes."""
        docs = T(spark, sf_dir, "documents")
        h = F.md5(F.col("doc_id").cast("string"))
        w = Window.partitionBy("source").orderBy(h.asc(), F.col("doc_id").asc())
        return (
            docs.select("source", "doc_id", h.alias("h"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 10)
            .groupBy("source")
            .agg(
                F.count("*").alias("n_kept"),
                F.sum(F.conv(F.substring("h", 1, 14), 16, 10).cast("long"))
                .cast("long")
                .alias("keep_digest"),
            )
        )


_register4()


def _register5():
    from politicamente_etl_spark.plans.catalog import T, register
    from politicamente_etl_spark.functions.scalar import money_sum as _msum
    from politicamente_etl_spark.functions.scalar import sql_money_sum as _sqlmsum

    @register(
        "txlog_zonemap_scan",
        sql=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               {_sqlmsum('o_totalprice', 'total_price')}
        FROM orders
        WHERE o_orderkey BETWEEN 3000 AND 9000
        GROUP BY 1
        """,
        tags=("ext-sink", "ext-scan"),
    )
    def q_txlog_zonemap_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Data-skipping scan on the commit-log table: orders land
        range-partitioned into 8 files, the manifest embeds per-file
        min/max zonemaps lifted from the parquet footers at commit time,
        and the range read opens ONLY the files whose zonemap overlaps
        [3000, 9000] — metadata pruning instead of data I/O, the same
        skipping Delta/Iceberg drive from per-file stats. The oracle is
        the plain filtered aggregate over the raw table, so a green row
        proves pruning is invisible to semantics (the residual filter
        still applies to survivors); test_txlog.py asserts files really
        were skipped."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders").repartitionByRange(8, "o_orderkey")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_zm_"), "t")
        t = TxLogTable.create(spark, path, o)
        return (
            t.scan({"o_orderkey": (3000, 9000)})
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                _msum("o_totalprice", "total_price"),
            )
        )


_register5()


def _register6():
    from politicamente_etl_spark.plans.catalog import T, register
    from politicamente_etl_spark.functions.scalar import money_sum as _msum
    from politicamente_etl_spark.functions.scalar import sql_money_sum as _sqlmsum

    @register(
        "txlog_cdf_changes",
        sql=f"""
        SELECT 'update' AS change_type,
               CAST(COUNT(*) AS BIGINT) AS n_changes,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
               {_sqlmsum('o_totalprice + 1000.0', 'new_price_sum')}
        FROM orders WHERE o_orderkey % 6 = 0
        UNION ALL
        SELECT 'insert',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(o_orderkey) AS BIGINT),
               {_sqlmsum('o_totalprice + 1000.0', 'x')}
        FROM orders WHERE o_orderkey % 6 = 3
        """,
        tags=("ext-sink", "ext-cdc"),
    )
    def q_txlog_cdf_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Change data feed off the commit log: create v1 (even keys),
        MERGE a +1000.00-price batch (keys % 3 == 0 — evens update, odds
        insert), then read table_changes(v1, v2) — the row-level diff
        computed through the same cdc.snapshot_diff operator as batch
        CDC, replayable at any time because versions are immutable. The
        oracle derives the exact changeset (update = keys % 6 == 0,
        insert = keys % 6 == 3, both at bumped prices) from the commit
        definitions."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_cdf_"), "t")
        t = TxLogTable.create(spark, path, o.filter(F.col("o_orderkey") % 2 == 0))
        batch = o.filter(F.col("o_orderkey") % 3 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(1000.0)
        )
        t.merge(batch, ["o_orderkey"])
        ch = t.table_changes(1, 2, ["o_orderkey"], ["o_totalprice"])
        return ch.groupBy("change_type").agg(
            F.count("*").alias("n_changes"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
            _msum("new_o_totalprice", "new_price_sum"),
        )


_register6()


def _register7():
    from politicamente_etl_spark.plans.catalog import register
    from politicamente_etl_spark.plans.extended_r4b import _M_CTE, _emb_milli

    @register(
        "ivf_pq_topk",
        sql=_M_CTE
        + """, sub AS (
            SELECT vec_id, CAST((i - 1) // 16 AS BIGINT) AS subspace, i, mv
            FROM m
        ), ccb AS (
            SELECT vec_id AS cid, i, mv AS cm
            FROM m WHERE vec_id BETWEEN 8 AND 15
        ), cd AS (
            SELECT s.vec_id, c.cid,
                   SUM((s.mv - c.cm) * (s.mv - c.cm)) AS d2
            FROM m s JOIN ccb c ON s.i = c.i GROUP BY 1, 2
        ), cell AS (
            SELECT vec_id, cid AS cell FROM cd
            QUALIFY row_number() OVER (PARTITION BY vec_id
                    ORDER BY d2, cid) = 1
        ), pcb AS (
            SELECT vec_id AS code, CAST((i - 1) // 16 AS BIGINT) AS subspace,
                   i, mv AS pm
            FROM m WHERE vec_id < 8
        ), pd AS (
            SELECT s.vec_id, s.subspace, p.code,
                   SUM((s.mv - p.pm) * (s.mv - p.pm)) AS d2
            FROM sub s JOIN pcb p
              ON s.i = p.i AND s.subspace = p.subspace
            GROUP BY 1, 2, 3
        ), codes AS (
            SELECT vec_id, subspace, code FROM pd
            QUALIFY row_number() OVER (PARTITION BY vec_id, subspace
                    ORDER BY d2, code) = 1
        ), qd AS (
            SELECT s.vec_id AS qid, c.cid,
                   SUM((s.mv - c.cm) * (s.mv - c.cm)) AS d2
            FROM m s JOIN ccb c ON s.i = c.i
            WHERE s.vec_id % 100 = 0 GROUP BY 1, 2
        ), qcell AS (
            SELECT qid, cid AS cell FROM qd
            QUALIFY row_number() OVER (PARTITION BY qid
                    ORDER BY d2, cid) <= 2
        ), lut AS (
            SELECT s.vec_id AS qid, s.subspace, p.code,
                   SUM((s.mv - p.pm) * (s.mv - p.pm)) AS d2
            FROM sub s JOIN pcb p
              ON s.i = p.i AND s.subspace = p.subspace
            WHERE s.vec_id % 100 = 0 GROUP BY 1, 2, 3
        ), cand AS (
            SELECT qc.qid, ce.vec_id
            FROM qcell qc JOIN cell ce ON ce.cell = qc.cell
            WHERE ce.vec_id != qc.qid
        ), adc AS (
            SELECT c.qid, c.vec_id, SUM(l.d2) AS approx_d2
            FROM cand c
            JOIN codes k ON k.vec_id = c.vec_id
            JOIN lut l ON l.qid = c.qid AND l.subspace = k.subspace
                      AND l.code = k.code
            GROUP BY 1, 2
        )
        SELECT qid, vec_id AS neighbor,
               CAST(approx_d2 AS BIGINT) AS approx_d2,
               CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                      ORDER BY approx_d2, vec_id) AS rk
            FROM adc
        ) WHERE rk <= 5
        """,
        tags=("ext-sim",),
    )
    def q_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
        """IVF-PQ approximate nearest neighbors (Jégou et al.), the
        memory-resident ANN composition the billion-vector engines run:
        an IVF coarse quantizer (8 sampled centroids, nprobe=2) shrinks
        each query's candidate set to its probed cells, and asymmetric
        distance computation scores candidates from a per-query PQ
        lookup table — 4 subspaces × 8 codes, so each scored candidate
        costs 4 table lookups instead of a 64-d scan. No residual
        encoding (by_residual=false in faiss terms) so the oracle can
        replay every argmin in SQL; everything is integer (milli-snapped
        components, exact squared sums, deterministic tie-breaks).

        Scale: corpus→cell and corpus→code assignments are broadcast
        joins against codebooks whose size is a design CONSTANT; ADC is
        an equi-join of cell-pruned candidates against a q×4×8 LUT; the
        only per-query work is over probed cells, never the corpus."""
        sub = _emb_milli(spark, sf_dir).select(
            "vec_id",
            ((F.col("i") - 1) / 16).cast("long").alias("subspace"),
            "i",
            "mv",
        )
        full = sub.select("vec_id", "i", "mv")
        ccb = full.filter(F.col("vec_id").between(8, 15)).select(
            F.col("vec_id").alias("cid"), F.col("i").alias("ci"), F.col("mv").alias("cm")
        )

        def argmin_assign(points, cbook, probe: int, out: str):
            d = (
                points.join(F.broadcast(cbook), points.i == cbook.ci)
                .groupBy("vec_id", "cid")
                .agg(F.sum((F.col("mv") - F.col("cm")) * (F.col("mv") - F.col("cm"))).alias("d2"))
            )
            w = Window.partitionBy("vec_id").orderBy("d2", "cid")
            return (
                d.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") <= probe)
                .select("vec_id", F.col("cid").alias(out))
            )

        cell = argmin_assign(full, ccb, 1, "cell")
        pcb = sub.filter(F.col("vec_id") < 8).select(
            F.col("vec_id").alias("code"),
            F.col("subspace").alias("psub"),
            F.col("i").alias("pi"),
            F.col("mv").alias("pm"),
        )
        pq_d = (
            sub.join(
                F.broadcast(pcb),
                (sub.i == pcb.pi) & (sub.subspace == pcb.psub),
            )
            .groupBy("vec_id", "subspace", "code")
            .agg(F.sum((F.col("mv") - F.col("pm")) * (F.col("mv") - F.col("pm"))).alias("d2"))
        )
        wc = Window.partitionBy("vec_id", "subspace").orderBy("d2", "code")
        codes = (
            pq_d.withColumn("__rn", F.row_number().over(wc))
            .filter(F.col("__rn") == 1)
            .select("vec_id", "subspace", "code")
        )
        q_full = full.filter(F.col("vec_id") % 100 == 0)
        qcell = argmin_assign(q_full, ccb, 2, "cell").select(
            F.col("vec_id").alias("qid"), "cell"
        )
        lut = (
            pq_d.filter(F.col("vec_id") % 100 == 0)
            .select(F.col("vec_id").alias("lqid"), F.col("subspace").alias("lsub"),
                    F.col("code").alias("lcode"), F.col("d2").alias("ld2"))
        )
        cand = (
            qcell.join(cell, "cell")
            .filter(F.col("vec_id") != F.col("qid"))
            .select("qid", "vec_id")
        )
        adc = (
            cand.join(codes, "vec_id")
            .join(
                F.broadcast(lut),
                (F.col("qid") == F.col("lqid"))
                & (F.col("subspace") == F.col("lsub"))
                & (F.col("code") == F.col("lcode")),
            )
            .groupBy("qid", "vec_id")
            .agg(F.sum("ld2").alias("approx_d2"))
        )
        wk = Window.partitionBy("qid").orderBy("approx_d2", "vec_id")
        return (
            adc.withColumn("rk", F.row_number().over(wk))
            .filter(F.col("rk") <= 5)
            .select(
                "qid",
                F.col("vec_id").alias("neighbor"),
                F.col("approx_d2").cast("long").alias("approx_d2"),
                F.col("rk").cast("int").alias("rk"),
            )
        )


_register7()


def _register8():
    from politicamente_etl_spark.plans.catalog import T, register
    from politicamente_etl_spark.plans.extended_r4b import _M_CTE, _emb_milli

    @register(
        "blocklist_filter_report",
        sql="""
        WITH toks AS (
            SELECT doc_id, source, unnest(str_split(text, ' ')) AS tok
            FROM documents
        ), hits AS (
            SELECT doc_id, source,
                   COUNT(*) FILTER (WHERE tok IN ('slow', 'big', 'crash')) AS n_hits
            FROM toks GROUP BY 1, 2
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(*) FILTER (n_hits >= 3) AS BIGINT) AS n_flagged,
               CAST(SUM(n_hits) AS BIGINT) AS hits_total,
               CAST(COUNT(*) FILTER (WHERE n_hits >= 3) * 1000000 // COUNT(*)
                    AS BIGINT) AS flag_ppm
        FROM hits GROUP BY 1
        """,
        tags=("ext-docs", "ext-quality"),
    )
    def q_blocklist_filter_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Blocklist-based document filtering (the C4 badwords gate):
        tokenize, count blocklist hits per doc, flag docs at >= 3 hits,
        and report per-source flag rates — the artifact a curation run
        reviews before dropping a domain. Pure narrow ops (split +
        explode + two partial aggregations); no shuffle carries text,
        only (doc_id, source, counts). The per-source rate is integer
        ppm so the report is engine-exact."""
        docs = T(spark, sf_dir, "documents")
        blocked = ("slow", "big", "crash")
        hits = (
            docs.select(
                "doc_id",
                "source",
                F.explode(F.split("text", " ")).alias("tok"),
            )
            .groupBy("doc_id", "source")
            .agg(
                F.count(F.when(F.col("tok").isin(*blocked), 1)).alias("n_hits")
            )
        )
        return hits.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.count(F.when(F.col("n_hits") >= 3, 1)).alias("n_flagged"),
            F.sum("n_hits").cast("long").alias("hits_total"),
            F.expr(
                "CAST(count(CASE WHEN n_hits >= 3 THEN 1 END) * 1000000"
                " div count(*) AS BIGINT)"
            ).alias("flag_ppm"),
        )

    @register(
        "hard_negative_mining",
        sql=_M_CTE
        + """, d AS (
            SELECT q.vec_id AS qid, q.label AS qlab,
                   c.vec_id AS neighbor, c.label AS neg_label,
                   SUM((q.mv - c.mv) * (q.mv - c.mv)) AS d2
            FROM m q JOIN m c ON q.i = c.i
            WHERE q.vec_id % 100 = 0 AND c.label != q.label
            GROUP BY 1, 2, 3, 4
        )
        SELECT qid, neighbor, CAST(neg_label AS BIGINT) AS neg_label,
               CAST(d2 AS BIGINT) AS d2, CAST(rk AS INTEGER) AS rk
        FROM (
            SELECT *, row_number() OVER (PARTITION BY qid
                      ORDER BY d2, neighbor) AS rk
            FROM d
        ) WHERE rk <= 3
        """,
        tags=("ext-sim",),
    )
    def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Hard-negative mining for contrastive training: per query
        vector, the 3 NEAREST candidates carrying a DIFFERENT label —
        close in embedding space but semantically wrong, exactly the
        negatives that sharpen a retriever. Integer-milli exact L2 with
        deterministic tie-breaks. This is the exact audit twin; at
        corpus scale the candidate set comes from the ANN shortlist ops
        (cosine_topk_lsh / ivf_pq_topk) instead of the full cross
        distance, same downstream shape."""
        m = _emb_milli(spark, sf_dir)
        qm = m.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("qid"),
            F.col("label").alias("qlab"),
            F.col("i").alias("qi"),
            F.col("mv").alias("qmv"),
        )
        d = (
            qm.join(m, (qm.qi == m.i) & (qm.qlab != m.label))
            .groupBy(
                "qid",
                F.col("vec_id").alias("neighbor"),
                F.col("label").alias("neg_label"),
            )
            .agg(
                F.sum((F.col("qmv") - F.col("mv")) * (F.col("qmv") - F.col("mv"))).alias("d2")
            )
        )
        w = Window.partitionBy("qid").orderBy("d2", "neighbor")
        return (
            d.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 3)
            .select(
                "qid",
                "neighbor",
                F.col("neg_label").cast("long").alias("neg_label"),
                F.col("d2").cast("long").alias("d2"),
                F.col("rk").cast("int").alias("rk"),
            )
        )


_register8()


def _register9():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "personalized_pagerank_parts",
        sql="""
        WITH li AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS (
            SELECT a.l_partkey AS pa, b.l_partkey AS pb
            FROM li a JOIN li b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), e AS (
            SELECT pa AS s, pb AS d FROM e0
            UNION
            SELECT pb AS s, pa AS d FROM e0
        ), deg AS (
            SELECT s, COUNT(*) AS dg FROM e GROUP BY 1
        ), r0 AS (
            SELECT s AS node,
                   CAST(CASE WHEN s % 100 = 0 THEN 1000000000000 ELSE 0 END
                        AS BIGINT) AS r
            FROM deg
        ), r1 AS (
            SELECT e.d AS node,
                   CASE WHEN e.d % 100 = 0 THEN 150000000000 ELSE 0 END
                   + (85 * SUM(r0.r // deg.dg)) // 100 AS r
            FROM e JOIN r0 ON e.s = r0.node JOIN deg ON e.s = deg.s
            GROUP BY 1
        ), r2 AS (
            SELECT e.d AS node,
                   CASE WHEN e.d % 100 = 0 THEN 150000000000 ELSE 0 END
                   + (85 * SUM(r1.r // deg.dg)) // 100 AS r
            FROM e JOIN r1 ON e.s = r1.node JOIN deg ON e.s = deg.s
            GROUP BY 1
        )
        SELECT node AS part, CAST(r AS BIGINT) AS rank_micromass
        FROM r2 WHERE r > 0
        ORDER BY rank_micromass DESC, part
        LIMIT 20
        """,
        tags=("ext-rel", "ext-graph"),
    )
    def q_personalized_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Personalized PageRank (random walk with restart) on the
        co-purchase graph, seeded at parts with key % 100 == 0: "which
        parts does the walk starting from THESE parts keep reaching" —
        the related-items primitive, where plain PageRank gives global
        popularity. Same integer sweeps as copurchase_pagerank with mass
        and teleport confined to the seed set; zero-mass nodes are
        dropped so the top-20 is proximity-ranked."""
        from politicamente_etl_spark.operators.graph import (
            cooccurrence_pairs,
            pagerank_integer,
        )

        # r9 opt: one-shuffle edge builder (groupBy(order) + map-side
        # pair gen) replaces distinct → self-equi-join → groupBy; the
        # support-2 edge set is identical (see cooccurrence_pairs).
        e = (
            cooccurrence_pairs(
                T(spark, sf_dir, "lineitem").select(
                    "l_orderkey", "l_partkey"
                ),
                "l_orderkey",
                "l_partkey",
            )
            .filter(F.col("cnt") >= 2)
            .select("pa", "pb")
        )
        nodes = e.select(F.col("pa").alias("n")).unionByName(
            e.select(F.col("pb").alias("n"))
        )
        seeds = nodes.filter(F.col("n") % 100 == 0).distinct()
        ranks = pagerank_integer(
            e,
            src="pa",
            dst="pb",
            iterations=2,
            personalize=seeds,
            edges_oriented_unique=True,
        )
        return (
            ranks.filter(F.col("rank") > 0)
            .orderBy(F.desc("rank"), F.asc("node"))
            .limit(20)
            .select(
                F.col("node").alias("part"),
                F.col("rank").cast("long").alias("rank_micromass"),
            )
        )


_register9()


def _register10():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "zipf_octave_profile",
        sql="""
        WITH toks AS (
            SELECT unnest(str_split(text, ' ')) AS tok FROM documents
        ), freq AS (
            SELECT tok, COUNT(*) AS f FROM toks
            WHERE tok != '' GROUP BY 1
        ), ranked AS (
            SELECT tok, f,
                   ROW_NUMBER() OVER (ORDER BY f DESC, tok) AS rk
            FROM freq
        )
        SELECT CAST(LENGTH(bin(rk)) - 1 AS INTEGER) AS octave,
               CAST(COUNT(*) AS BIGINT) AS n_tokens,
               CAST(SUM(f) AS BIGINT) AS freq_sum,
               CAST(MAX(f) AS BIGINT) AS top_freq
        FROM ranked GROUP BY 1
        """,
        tags=("ext-text",),
    )
    def q_zipf_octave_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Zipf rank-frequency profile by octave (floor(log2(rank)),
        computed as binary-string length — exact integer on both
        engines, no float log): how token mass decays across rank
        doublings. The canonical corpus-health fingerprint — a natural
        corpus shows near-constant mass per octave; template/boilerplate
        contamination piles mass into the first octaves, OCR noise
        fattens the tail. The vocab-sized global rank window is the
        oracle-exact form; at web scale rank thresholds come from the
        same approx-percentile bucketing stats.ntile_buckets implements."""
        toks = (
            T(spark, sf_dir, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.col("tok") != "")
        )
        freq = toks.groupBy("tok").agg(F.count("*").alias("f"))
        w = Window.orderBy(F.desc("f"), F.asc("tok"))
        return (
            freq.withColumn("rk", F.row_number().over(w))
            .withColumn(
                "octave", (F.length(F.expr("bin(rk)")) - 1).cast("int")
            )
            .groupBy("octave")
            .agg(
                F.count("*").alias("n_tokens"),
                F.sum("f").cast("long").alias("freq_sum"),
                F.max("f").cast("long").alias("top_freq"),
            )
        )


_register10()


def _register11():
    from politicamente_etl_spark.plans.catalog import load_events, register

    @register(
        "pit_training_features",
        sql="""
        WITH ev AS (
            SELECT user_id, event_id, event_type, value,
                   epoch_us(ts) AS ts_us
            FROM events
        ), labels AS (
            SELECT user_id, event_id, ts_us,
                   COUNT(*) OVER (PARTITION BY user_id
                       ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS prior_purchases
            FROM ev WHERE event_type = 'purchase'
        ), clicks AS (
            -- collapse same-instant clicks per user (MAX value) so the
            -- as-of pick is engine-independent even if the data ever
            -- carries duplicate timestamps (ADVICE r3 row-grain class)
            SELECT user_id, ts_us AS cts, MAX(value) AS click_value FROM ev
            WHERE event_type = 'click' GROUP BY 1, 2
        ), signups AS (
            SELECT user_id, ts_us AS sts FROM ev
            WHERE event_type = 'signup'
        )
        SELECT l.user_id, l.event_id, l.ts_us,
               CAST(l.prior_purchases AS BIGINT) AS prior_purchases,
               c.click_value AS last_click_value,
               s.sts AS last_signup_us
        FROM labels l
        ASOF LEFT JOIN clicks c
          ON l.user_id = c.user_id AND c.cts <= l.ts_us
        ASOF LEFT JOIN signups s
          ON l.user_id = s.user_id AND s.sts <= l.ts_us
        """,
        tags=("ext-temporal", "ext-sampling"),
    )
    def q_pit_training_features(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Point-in-time training-row assembly (the feature-store join):
        every purchase event becomes a label row carrying ONLY features
        knowable at that instant — the user's most recent prior click
        value, most recent signup time (two as-of joins), and the count
        of strictly-earlier purchases (a 1-preceding-bounded window) —
        the construction that makes offline training match online
        serving with zero leakage. Feature values are PICKED (carried
        through the as-of), never computed, so float parity is exact;
        DuckDB's native chained ASOF JOIN is the oracle for the
        union+window implementation.

        Scale: each as-of is one shuffle on user_id + a per-user ordered
        window (operators/temporal.py); features tables and labels
        co-partition, so adding features adds windows, not table scans
        of the fact."""
        from politicamente_etl_spark.operators.temporal import asof_join

        ev = load_events(spark, sf_dir).select(
            "user_id",
            "event_id",
            "event_type",
            "value",
            F.expr("unix_micros(ts)").alias("ts_us"),
        )
        w = (
            Window.partitionBy("user_id")
            .orderBy("ts_us", "event_id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        labels = (
            ev.filter(F.col("event_type") == "purchase")
            .withColumn("prior_purchases", F.count("*").over(w).cast("long"))
            .select("user_id", "event_id", "ts_us", "prior_purchases")
        )
        clicks = (
            ev.filter(F.col("event_type") == "click")
            .groupBy("user_id", F.col("ts_us").alias("cts"))
            .agg(F.max("value").alias("click_value"))
        )
        signups = ev.filter(F.col("event_type") == "signup").select(
            "user_id", F.col("ts_us").alias("sts")
        )
        step1 = asof_join(
            labels, clicks, on="user_id", left_ts="ts_us", right_ts="cts",
            right_cols=["click_value"],
        ).select(
            "user_id", "event_id", "ts_us", "prior_purchases",
            F.col("asof_click_value").alias("last_click_value"),
        )
        step2 = asof_join(
            step1, signups, on="user_id", left_ts="ts_us", right_ts="sts",
            right_cols=[],
        ).select(
            "user_id", "event_id", "ts_us", "prior_purchases",
            "last_click_value",
            F.col("asof_ts").alias("last_signup_us"),
        )
        return step2


_register11()


def _register12():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "except_all_net_shipments",
        sql="""
        WITH net AS (
            SELECT l_partkey FROM lineitem
            EXCEPT ALL
            SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
        )
        SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS net_shipments
        FROM net GROUP BY 1 HAVING COUNT(*) >= 4
        """,
        tags=("ext-rel",),
    )
    def q_except_all_net_shipments(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Multiset EXCEPT ALL (§2.5 set-op surface beyond the DISTINCT
        forms already covered): per-part net shipments = shipped copies
        minus returned copies under BAG semantics — each returned line
        cancels exactly ONE shipped line, which plain EXCEPT (set) gets
        wrong the moment a part ships twice. Spark's exceptAll compiles
        to a count-difference generate (no join explosion); parts with
        ≥4 net copies survive."""
        li = T(spark, sf_dir, "lineitem").select("l_partkey")
        returned = (
            T(spark, sf_dir, "lineitem")
            .filter(F.col("l_returnflag") == "R")
            .select("l_partkey")
        )
        return (
            li.exceptAll(returned)
            .groupBy("l_partkey")
            .agg(F.count("*").alias("net_shipments"))
            .filter(F.col("net_shipments") >= 4)
        )


_register12()


def _register13():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "weighted_median_udaf",
        sql="""
        WITH w AS (
            SELECT l_returnflag, l_extendedprice,
                   CAST(l_quantity AS BIGINT) AS wq,
                   SUM(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag
                       ORDER BY l_extendedprice, l_orderkey, l_linenumber
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS cw,
                   SUM(CAST(l_quantity AS BIGINT)) OVER (
                       PARTITION BY l_returnflag
                   ) AS tw
            FROM lineitem
        )
        SELECT l_returnflag,
               MIN(l_extendedprice) AS weighted_median_price
        FROM w WHERE cw * 2 >= tw
        GROUP BY 1
        """,
        tags=("ext-rel", "ext-udf"),
    )
    def q_weighted_median_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The §2.8 GROUPED_AGG pandas-UDAF path under the driver's
        oracle: the Arrow grouped aggregate (agg.weighted_median_gagg)
        must reproduce the exact cumulative-weight-window median the
        pure-SQL oracle computes — proving the Python aggregate surface
        agrees with the expression surface on real data, not just in the
        unit test. The window form stays the scale path (streams
        per-partition); the UDAF is the template for aggregations that
        genuinely need Python."""
        from politicamente_etl_spark.operators.agg import weighted_median_gagg

        li = T(spark, sf_dir, "lineitem")
        wm = weighted_median_gagg()
        return li.groupBy("l_returnflag").agg(
            wm(
                F.col("l_extendedprice"), F.col("l_quantity").cast("long")
            ).alias("weighted_median_price")
        )


_register13()


def _register14():
    from politicamente_etl_spark.plans.catalog import load_events, register

    @register(
        "streaming_txlog_source_tail",
        sql="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM events GROUP BY 1
        """,
        tags=("ext-stream", "ext-sink"),
    )
    def q_streaming_txlog_source_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The commit log as a STREAMING SOURCE (sources/txlogstream.py):
        two batch commits land in a txlog table, a streaming query tails
        the log with versions as offsets and emits each commit's added
        files as one micro-batch (partition = file, Arrow batches
        straight off pyarrow). The memory-sink rollup must equal the raw
        events rollup — rows crossed batch-write → log → streaming-read
        exactly once. Round-trips the whole storage layer through BOTH
        of Spark's execution surfaces."""
        from politicamente_etl_spark.sources.txlog import TxLogTable
        from politicamente_etl_spark.sources.txlogstream import read_stream
        from politicamente_etl_spark.streaming.windows import run_stream_to_table

        ev = load_events(spark, sf_dir).select("event_id", "event_type")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_src_"), "t")
        t = TxLogTable.create(spark, path, ev.filter(F.col("event_id") % 2 == 0))
        t.append(ev.filter(F.col("event_id") % 2 == 1))
        return (
            run_stream_to_table(read_stream(spark, path), "append")
            .groupBy("event_type")
            .agg(
                F.count("*").cast("long").alias("n_events"),
                F.sum("event_id").cast("long").alias("id_sum"),
            )
        )


_register14()


def _register15():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "cms_heavy_hitters",
        sql="""
        WITH toks AS (
            SELECT unnest(str_split(text, ' ')) AS tok FROM documents
        ), freq AS (
            SELECT tok, COUNT(*) AS f FROM toks WHERE tok != '' GROUP BY 1
        ), hashed AS (
            SELECT tok, f, i,
                   CAST('0x' || substr(md5(tok || '|' || CAST(i AS VARCHAR)), 1, 15)
                        AS BIGINT) % 16 AS b
            FROM freq, unnest([1, 2, 3, 4]) AS t(i)
        ), counters AS (
            SELECT i, b, SUM(f) AS c FROM hashed GROUP BY 1, 2
        ), est AS (
            SELECT h.tok, h.f, MIN(c.c) AS cms_est
            FROM hashed h JOIN counters c ON h.i = c.i AND h.b = c.b
            GROUP BY 1, 2
        )
        SELECT tok, CAST(f AS BIGINT) AS exact_count,
               CAST(cms_est AS BIGINT) AS cms_estimate
        FROM est
        ORDER BY exact_count DESC, tok LIMIT 10
        """,
        tags=("ext-text", "ext-approx"),
    )
    def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Count-min sketch heavy hitters, engine-exact: a d=4 × w=16
        sketch of the token stream (deliberately undersized so
        collisions are visible: estimate ≥ exact, equality only for
        collision-free rows). The hash family is md5-derived 60-bit
        integers, so BOTH engines build the IDENTICAL sketch and the
        estimates — normally "approximate" — are deterministic and
        oracle-checkable. The operational shape is what matters at
        100 TB: the sketch is a d×w integer grid built by one partial
        aggregation, mergeable across partitions/days by cell-wise sum,
        and the per-token probe is d lookups — the streaming-friendly
        top-k the exact groupBy can't give under bounded memory."""
        toks = (
            T(spark, sf_dir, "documents")
            .select(F.explode(F.split("text", " ")).alias("tok"))
            .filter(F.col("tok") != "")
        )
        freq = toks.groupBy("tok").agg(F.count("*").alias("f"))
        hashed = freq.select(
            "tok",
            "f",
            F.explode(F.array(*[F.lit(i) for i in (1, 2, 3, 4)])).alias("i"),
        ).withColumn(
            "b",
            F.conv(
                F.substring(
                    F.md5(F.concat_ws("|", F.col("tok"), F.col("i"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            % 16,
        )
        counters = hashed.groupBy("i", "b").agg(F.sum("f").alias("c"))
        est = (
            hashed.join(counters, ["i", "b"])
            .groupBy("tok", "f")
            .agg(F.min("c").alias("cms_est"))
        )
        return (
            est.orderBy(F.desc("f"), F.asc("tok"))
            .limit(10)
            .select(
                "tok",
                F.col("f").cast("long").alias("exact_count"),
                F.col("cms_est").cast("long").alias("cms_estimate"),
            )
        )


_register15()


def _register16():
    from politicamente_etl_spark.plans.catalog import T, register
    from politicamente_etl_spark.functions.scalar import money_sum as _msum
    from politicamente_etl_spark.functions.scalar import sql_money_sum as _sqlmsum

    @register(
        "txlog_restore_report",
        sql=f"""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               {_sqlmsum('o_totalprice', 'total_price')},
               CAST(4 AS INTEGER) AS n_commits
        FROM orders WHERE o_orderkey % 2 = 0
        GROUP BY 1
        """,
        tags=("ext-sink",),
    )
    def q_txlog_restore_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """RESTORE after a bad load: create from even keys, apply a
        corrupting merge (+9999.0 on every price) AND an unrelated
        append, then restore(1). The snapshot must equal the ORIGINAL
        create exactly — prices unbumped, appended rows gone — while
        history keeps all four commits (create, merge, append, restore;
        count pinned in the output). The oracle is simply the original
        relation, which is the whole point of restore."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_rs_"), "t")
        t = TxLogTable.create(spark, path, o.filter(F.col("o_orderkey") % 2 == 0))
        t.merge(
            o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
                "o_totalprice", F.col("o_totalprice") + F.lit(9999.0)
            ),
            ["o_orderkey"],
        )
        t.append(o.filter(F.col("o_orderkey") % 2 == 1).limit(100))
        t.restore(1)
        return (
            t.snapshot()
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                _msum("o_totalprice", "total_price"),
            )
            .withColumn("n_commits", F.lit(len(t.history())).cast("int"))
        )


_register16()


def _register17():
    from politicamente_etl_spark.plans.catalog import T, load_events, register

    @register(
        "streaming_lakehouse_roundtrip",
        sql="""
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(event_id) AS BIGINT) AS id_sum
        FROM events GROUP BY 1
        """,
        tags=("ext-stream", "ext-sink"),
    )
    def q_streaming_lakehouse_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The full streaming lakehouse pipeline, both ends on the
        commit log: a txlog SOURCE table (two batch commits) is tailed
        by a streaming query whose foreachBatch appends per-batch
        partial aggregates to a txlog SINK table with txn-id-idempotent
        writes (each batch deliberately appended twice — the retry must
        no-op). The final snapshot's rollup of partials must equal the
        raw events rollup REGARDLESS of how the engine split the offset
        range into micro-batches — partial-sum associativity plus
        exactly-once at both ends is precisely what makes the answer
        batching-invariant, and the oracle checks it."""
        from politicamente_etl_spark.sources.txlog import TxLogTable
        from politicamente_etl_spark.sources.txlogstream import read_stream
        from politicamente_etl_spark.streaming.windows import run_stream

        ev = load_events(spark, sf_dir).select("event_id", "event_type")
        stage = tempfile.mkdtemp(prefix="txlog_rt_")
        src = TxLogTable.create(
            spark, os.path.join(stage, "src"), ev.filter(F.col("event_id") % 2 == 0)
        )
        src.append(ev.filter(F.col("event_id") % 2 == 1))
        out_path = os.path.join(stage, "out")
        state: dict[str, TxLogTable] = {}

        def apply(batch_df: DataFrame, batch_id: int) -> None:
            part = batch_df.groupBy("event_type").agg(
                F.count("*").cast("long").alias("n"),
                F.sum("event_id").cast("long").alias("ids"),
            )
            if "t" not in state:
                state["t"] = TxLogTable.create(spark, out_path, part)
                state["t"].append(part.limit(0), txn_id=f"b{batch_id}")
            else:
                state["t"].append(part, txn_id=f"b{batch_id}")
            # simulated redelivery: the txn gate must reject it
            state["t"].append(part, txn_id=f"b{batch_id}")

        run_stream(
            read_stream(spark, src.path)
            .writeStream.foreachBatch(apply)
            .trigger(availableNow=True)
            .option("checkpointLocation", os.path.join(stage, "_ckpt"))
        )
        return (
            state["t"]
            .snapshot()
            .groupBy("event_type")
            .agg(
                F.sum("n").cast("long").alias("n_events"),
                F.sum("ids").cast("long").alias("id_sum"),
            )
        )

    @register(
        "dedup_savings_report",
        sql="""
        WITH d AS (
            SELECT source, md5(text) AS h, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY md5(text)
                       ORDER BY doc_id) AS rk
            FROM documents
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS bytes_before,
               CAST(SUM(CASE WHEN rk = 1 THEN n_chars ELSE 0 END)
                    AS BIGINT) AS bytes_after,
               CAST(SUM(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) * 1000000
                    // SUM(n_chars) AS BIGINT) AS savings_ppm
        FROM d GROUP BY 1
        """,
        tags=("ext-dedup", "ext-docs"),
    )
    def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
        """What exact dedup is WORTH, per source: bytes before/after
        keep-first on the content digest and the savings rate in ppm —
        the number a curation run reports before committing to a dedup
        pass (and the per-source attribution that catches a mirror
        domain). Shuffles only (digest, source, n_chars), never text;
        keep-first is the same md5+row_number shape as exact_dedup_docs
        with doc_id as the deterministic survivor rule."""
        docs = T(spark, sf_dir, "documents")
        w = Window.partitionBy(F.md5("text")).orderBy("doc_id")
        d = docs.select(
            "source", "n_chars", F.row_number().over(w).alias("rk")
        )
        return d.groupBy("source").agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("bytes_before"),
            F.sum(F.when(F.col("rk") == 1, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("bytes_after"),
            F.expr(
                "CAST(sum(CASE WHEN rk > 1 THEN n_chars ELSE 0 END) * 1000000"
                " div sum(n_chars) AS BIGINT)"
            ).alias("savings_ppm"),
        )


_register17()


def _register18():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "provenance_commit_rollup",
        sql="""
        SELECT 1 AS commit_version,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders WHERE o_orderkey % 3 = 0
        UNION ALL
        SELECT 2, CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
        FROM orders WHERE o_orderkey % 3 = 1
        UNION ALL
        SELECT 3, CAST(COUNT(*) AS BIGINT), CAST(SUM(o_orderkey) AS BIGINT)
        FROM orders WHERE o_orderkey % 3 = 2
        """,
        tags=("ext-sink",),
    )
    def q_provenance_commit_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Row-level lineage audit: three commits load disjoint key
        classes, and the provenance snapshot's per-_commit_version
        rollup must attribute every row to exactly the commit that
        loaded it — the "which load produced this row" answer with no
        audit columns in the data itself (the storage layer carries the
        lineage)."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_pv_"), "t")
        t = TxLogTable.create(spark, path, o.filter(F.col("o_orderkey") % 3 == 0))
        t.append(o.filter(F.col("o_orderkey") % 3 == 1))
        t.append(o.filter(F.col("o_orderkey") % 3 == 2))
        return (
            t.snapshot(provenance=True)
            .groupBy(F.col("_commit_version").cast("int").alias("commit_version"))
            .agg(
                F.count("*").cast("long").alias("n_rows"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
        )

    @register(
        "txlog_optimize_invariance",
        sql="""
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders GROUP BY 1
        """,
        tags=("ext-sink",),
    )
    def q_txlog_optimize_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
        """OPTIMIZE is data-invisible, checked end-to-end: six small
        commits, compact them all, aggregate the post-optimize snapshot
        — it must equal the plain relation (the oracle) although every
        byte now lives in different files. Layout is the engine's
        concern; contents are the contract."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_oi_"), "t")
        t = TxLogTable.create(spark, path, o.filter(F.col("o_orderkey") % 6 == 0))
        for i in range(1, 6):
            t.append(o.filter(F.col("o_orderkey") % 6 == i))
        t.optimize(target_file_bytes=1 << 30)
        return (
            t.snapshot()
            .groupBy("o_orderstatus")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            )
        )


_register18()
