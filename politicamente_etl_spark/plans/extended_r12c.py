"""Round-7 batch C: incremental materialized-view maintenance off the
commit log's change feed (cost ∝ changeset, never the table — the
Delta Live Tables / IVM shape).
"""

from __future__ import annotations

import os
import tempfile
from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _register():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "txlog_incremental_mv",
        sql="""
        WITH merged AS (
            SELECT o_orderpriority,
                   CASE WHEN o_orderkey % 11 = 3
                        THEN CAST(CAST(o_totalprice AS DECIMAL(27,4))
                                  + 100 AS DOUBLE)
                        ELSE o_totalprice END AS price
            FROM orders
            UNION ALL
            SELECT o_orderpriority, o_totalprice
            FROM orders WHERE o_orderkey % 11 = 7
        )
        SELECT o_orderpriority AS priority,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               CAST(SUM(CAST(price AS DECIMAL(27,4))) AS DOUBLE)
                   AS revenue
        FROM merged GROUP BY 1
        """,
        tags=("ext-sink", "ext-stream"),
    )
    def q_txlog_incremental_mv(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Incremental materialized-view maintenance: a revenue-by-
        priority MV built once from txlog version 1, then maintained
        from the CHANGE FEED of a merge commit (updates reprice the
        o_orderkey % 11 == 3 orders, inserts add shifted % 11 == 7
        copies) — the MV never rescans the table. Each change row
        explodes into ≤2 signed contribution rows (-old side, +new
        side); union with the current MV and re-aggregate: cost ∝
        |MV| + |changeset|. The oracle aggregates the FULL merged
        state directly, so the green row IS the maintenance-equals-
        recompute proof — a dropped delete side, double-counted
        update, or sign error hash-fails. Money flows through exact
        decimal (money-sum discipline), so incremental and direct
        sums are bit-identical regardless of row order.

        100 TB: this is the difference between refreshing a dashboard
        MV by re-aggregating 100 TB nightly and applying a few MB of
        CDF — the same snapshot_diff operator the CDC surface exposes,
        driven off immutable txlog versions so the maintenance is
        replayable (reference txn semantics: load.py:17-22)."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_mv_"), "t")
        t = TxLogTable.create(spark, path, o)
        dec = lambda c: F.col(c).cast("decimal(27,4)")  # noqa: E731
        updates = o.filter(F.col("o_orderkey") % 11 == 3).select(
            "o_orderkey",
            "o_orderpriority",
            (dec("o_totalprice") + 100).cast("double").alias("o_totalprice"),
        )
        inserts = o.filter(F.col("o_orderkey") % 11 == 7).select(
            (F.col("o_orderkey") + 50_000_000).alias("o_orderkey"),
            "o_orderpriority",
            "o_totalprice",
        )
        t.merge(updates.unionByName(inserts), ["o_orderkey"])

        mv0 = (
            t.snapshot(version=1)
            .groupBy(F.col("o_orderpriority").alias("priority"))
            .agg(
                F.count("*").cast("long").alias("n"),
                F.sum(dec("o_totalprice")).alias("v"),
            )
        )
        delta = t.table_changes(
            1, 2, ["o_orderkey"], ["o_orderpriority", "o_totalprice"]
        )
        neg = delta.filter(
            F.col("change_type").isin("delete", "update")
        ).select(
            F.col("old_o_orderpriority").alias("priority"),
            F.lit(-1).cast("long").alias("n"),
            (-dec("old_o_totalprice")).alias("v"),
        )
        pos = delta.filter(
            F.col("change_type").isin("insert", "update")
        ).select(
            F.col("new_o_orderpriority").alias("priority"),
            F.lit(1).cast("long").alias("n"),
            dec("new_o_totalprice").alias("v"),
        )
        return (
            mv0.unionByName(neg)
            .unionByName(pos)
            .groupBy("priority")
            .agg(
                F.sum("n").cast("long").alias("n_orders"),
                F.sum("v").cast("double").alias("revenue"),
            )
            .select("priority", "n_orders", "revenue")
        )

    # NOTE: an int8 quantization-error query already exists at the
    # (label, dim) grain — plans/extended_r10b.py
    # `int8_quantization_report` (milli fixed-point). A round-7 draft
    # duplicated the concept at global-dim grain and silently overwrote
    # that CATALOG entry (register() was last-wins then; a name collision
    # now raises ValueError); removed in favor of the richer original.

    @register(
        "wav_decode_stats",
        sql="""
        SELECT CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(8 + doc_id % 32) AS BIGINT) AS frames_sum,
               CAST(SUM((8 + doc_id % 32) * (1 + doc_id % 2)
                        * ((doc_id % 251) - 125)) AS BIGINT)
                   AS sample_sum_total
        FROM documents
        GROUP BY 1
        """,
        tags=("ext-multimodal",),
    )
    def q_wav_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The audio twin of bmp_decode_stats: each document synthesizes
        a genuine RIFF/PCM16 WAV on the executors (frames = 8 +
        doc_id % 32, rate = 8000 + (doc_id % 4)·4000, mono/stereo
        alternating, every int16 sample = doc_id % 251 - 125), the
        payloads ride a binary column through `decode_audio_stats`'
        mapInPandas pass, and the pure-Python RIFF chunk walker
        recovers channel count, rate, frame count, and the exact
        int64 sample sum FROM THE RAW BYTES (numpy int16 view — the
        vectorized per-batch path a real audio featurizer would use).
        The oracle pins the closed-form math (sample_sum = frames ×
        channels × amplitude), so a chunk-offset bug, word-alignment
        slip, or channel/frame conflation hash-fails. Non-PCM formats
        still need an injected decoder.

        100 TB: audio bytes are built AND parsed inside one Arrow
        batch per partition — the payload never crosses a shuffle and
        the output carries 5 stat columns per clip, not the clip."""
        from politicamente_etl_spark.operators.multimodal import (
            decode_audio_stats,
            encode_wav,
        )

        docs = T(spark, sf_dir, "documents").select("doc_id")

        def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "media": [
                            encode_wav(
                                8 + int(d) % 32,
                                8000 + (int(d) % 4) * 4000,
                                int(d) % 251 - 125,
                                n_channels=1 + int(d) % 2,
                            )
                            for d in pdf["doc_id"]
                        ],
                    }
                )

        payloads = docs.mapInPandas(build, "doc_id long, media binary")
        return (
            decode_audio_stats(payloads)
            .groupBy("sample_rate")
            .agg(
                F.count("*").cast("long").alias("n_files"),
                F.sum("n_samples").cast("long").alias("frames_sum"),
                F.sum("sample_sum").cast("long").alias("sample_sum_total"),
            )
            .select(
                "sample_rate", "n_files", "frames_sum", "sample_sum_total"
            )
        )


_register()
