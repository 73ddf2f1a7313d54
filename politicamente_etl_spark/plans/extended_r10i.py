"""Round-5 prep batch I: sample-ratio-mismatch (SRM) check for
hash-split experiment assignment — the first gate every A/B platform
runs before reading any metric.

Registered after this round's final driver-sim snapshot — covered by
`driver_sim.py <name>` + unit tests until next round's sim."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MICRO = 1_000_000


def _register():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "ab_srm_check",
        sql="""
        WITH u AS (
            SELECT DISTINCT user_id FROM events
        ), assigned AS (
            SELECT user_id,
                   CAST(('0x' || substring(md5(concat_ws(':', 'exp1',
                        CAST(user_id AS VARCHAR))), 1, 8)) AS BIGINT) % 2
                       AS arm
            FROM u
        ), counts AS (
            SELECT SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n0,
                   SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1
            FROM assigned
        )
        SELECT CAST(n0 AS BIGINT) AS n_arm0,
               CAST(n1 AS BIGINT) AS n_arm1,
               CAST((n0 - n1) * (n0 - n1) * 1000000 // (n0 + n1)
                    AS BIGINT) AS chi2_micro,
               CAST(CASE WHEN (n0 - n1) * (n0 - n1) * 1000000
                              // (n0 + n1) > 3841459 THEN 1 ELSE 0 END
                    AS BIGINT) AS srm_flag
        FROM counts
        """,
        tags=("ext-stats", "ext-sampling"),
    )
    def q_ab_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Sample-ratio-mismatch check on a 50/50 md5 hash split of
        event users: χ² = (n0−n1)²/(n0+n1) in micro against the
        α=0.05 critical value 3.841459 — the assignment-integrity gate
        that must pass before any experiment metric is trusted (an SRM
        flag means the bucketing, logging, or filtering is biased, and
        every downstream read is garbage). The same md5 house split the
        dataset_hash_split family uses, so this query doubles as its
        balance audit. Exact integer χ² numerator; one distinct + one
        bounded rollup.

        Scale shape: distinct users is the data pass; everything after
        is a 1-row aggregate."""
        ev = T(spark, sf_dir, "events").select("user_id")
        u = ev.distinct()
        assigned = u.select(
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.lit("exp1"),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("bigint")
                % 2
            ).alias("arm")
        )
        counts = assigned.agg(
            F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).alias("n0"),
            F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).alias("n1"),
        )
        chi2 = F.expr("(n0 - n1) * (n0 - n1) * 1000000 DIV (n0 + n1)")
        return counts.select(
            F.col("n0").cast("long").alias("n_arm0"),
            F.col("n1").cast("long").alias("n_arm1"),
            chi2.cast("long").alias("chi2_micro"),
            F.when(chi2 > 3_841_459, 1)
            .otherwise(0)
            .cast("long")
            .alias("srm_flag"),
        )


_register()
