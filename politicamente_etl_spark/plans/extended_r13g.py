"""Round-8 batch G: the streaming source's delete contract — Delta's
ignoreDeletes/ignoreChanges split applied to the commit-log tail."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _register():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "streaming_txlog_ignore_deletes",
        sql="""
        SELECT 'streamed' AS side,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
        FROM orders
        UNION ALL
        SELECT 'batch_snapshot',
               CAST(COUNT(*) AS BIGINT),
               CAST(SUM(o_orderkey) AS BIGINT)
        FROM orders WHERE o_orderkey % 5 != 2
        """,
        tags=("ext-stream", "ext-sink"),
    )
    def q_streaming_txlog_ignore_deletes(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The streaming DELETE contract (Delta's ignoreDeletes): a tail
        over [create, append, delete_rowindex] with ignore_deletes=true
        emits every APPENDED row and skips the retraction — the
        'streamed' fingerprint equals ALL ingested rows (deletes are
        invisible to an append-only consumer, by contract), while the
        'batch_snapshot' fingerprint shows the delete took effect for
        batch readers of the same table. The gap between the two rows
        IS the documented semantic: merge-on-read deletes reach batch
        readers immediately and reach streaming consumers only through
        a CDF-based feed (txlog_dv_cdf_feed), never the append tail.
        Without the flag the source REFUSES the delete commit rather
        than silently dropping it (unit-tested) — constraint commits
        and a clone's v1, by contrast, are tail-safe (metadata-only /
        initial data). One more parity with Delta's streaming-source
        option matrix."""
        from politicamente_etl_spark.sources.txlog import TxLogTable
        from politicamente_etl_spark.sources.txlogstream import read_stream
        from politicamente_etl_spark.streaming.windows import run_stream_to_table

        o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_igdel_"), "t")
        t = TxLogTable.create(
            spark, path, o.filter(F.col("o_orderkey") % 2 == 0)
        )
        t.append(o.filter(F.col("o_orderkey") % 2 == 1))
        t.set_constraint("key_pos", "o_orderkey >= 0")  # tail-invisible
        t.delete_where_rowindex("o_orderkey % 5 = 2")
        streamed = run_stream_to_table(
            read_stream(spark, path, ignore_deletes="true"), "append"
        ).agg(
            F.lit("streamed").alias("side"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        batch = t.snapshot().agg(
            F.lit("batch_snapshot").alias("side"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        return streamed.unionByName(batch)


_register()
