"""Round-5 prep batch H: Z-order (Morton-interleaved) clustering model —
quantifies multi-dimensional file skipping against a single-column
layout for the same 2-D predicate box. The model computes per-"file"
zonemaps from explicit integer bucket math, so it is exactly
SQL-mirrorable; tests/test_round10_ops.py builds a REAL commit-log
table clustered the same way and asserts the storage layer skips
exactly the modeled file set.

Registered after this round's final driver-sim snapshot — covered by
`driver_sim.py <name>` + unit tests until next round's sim."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# 4 bits per dimension -> morton in [0, 255], 16 Z-buckets of 16 codes
_MORTON_SQL = (
    "("
    + " + ".join(
        f"((({{x}} >> {i}) & 1) << {2 * i + 1}) + ((({{y}} >> {i}) & 1) << {2 * i})"
        for i in range(4)
    )
    + ")"
)


def zorder_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with integer bucket coordinates and both layouts' file ids:
    cx/cd = 16-level value buckets of custkey/epoch-day, zfile = Morton
    bucket (DIV 16), lfile = custkey bucket alone. Shared by the model
    query and the real-table test so both cluster identically."""
    from politicamente_etl_spark.plans.catalog import T

    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.unix_date(F.to_date("o_orderdate")).alias("day"),
    )
    b = o.agg(
        F.min("o_custkey").alias("mnc"),
        F.max("o_custkey").alias("mxc"),
        F.min("day").alias("mnd"),
        F.max("day").alias("mxd"),
    )
    morton = _MORTON_SQL.format(x="cx", y="cd")
    return (
        o.join(F.broadcast(b))
        .withColumn(
            "cx", F.expr("(o_custkey - mnc) * 16 DIV (mxc - mnc + 1)")
        )
        .withColumn("cd", F.expr("(day - mnd) * 16 DIV (mxd - mnd + 1)"))
        .withColumn("zfile", F.expr(f"{morton} DIV 16"))
        .withColumn("lfile", F.col("cx"))
        # the 2-D predicate box: middle quarter of each dimension
        .withColumn("lo_ck", F.expr("mnc + (mxc - mnc + 1) * 8 DIV 16"))
        .withColumn("hi_ck", F.expr("mnc + (mxc - mnc + 1) * 12 DIV 16 - 1"))
        .withColumn("lo_d", F.expr("mnd + (mxd - mnd + 1) * 8 DIV 16"))
        .withColumn("hi_d", F.expr("mnd + (mxd - mnd + 1) * 12 DIV 16 - 1"))
    )


def _register():
    from politicamente_etl_spark.plans.catalog import register

    _M = _MORTON_SQL.format(x="cx", y="cd")

    @register(
        "zorder_skipping_model",
        sql=f"""
        WITH b AS (
            SELECT MIN(o_custkey) AS mnc, MAX(o_custkey) AS mxc,
                   MIN(date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE))) AS mnd,
                   MAX(date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE))) AS mxd
            FROM orders
        ), o AS (
            SELECT o_custkey,
                   date_diff('day', DATE '1970-01-01',
                             CAST(o_orderdate AS DATE)) AS day,
                   (o_custkey - b.mnc) * 16 // (b.mxc - b.mnc + 1) AS cx,
                   (date_diff('day', DATE '1970-01-01',
                              CAST(o_orderdate AS DATE)) - b.mnd) * 16
                       // (b.mxd - b.mnd + 1) AS cd,
                   b.mnc + (b.mxc - b.mnc + 1) * 8 // 16 AS lo_ck,
                   b.mnc + (b.mxc - b.mnc + 1) * 12 // 16 - 1 AS hi_ck,
                   b.mnd + (b.mxd - b.mnd + 1) * 8 // 16 AS lo_d,
                   b.mnd + (b.mxd - b.mnd + 1) * 12 // 16 - 1 AS hi_d
            FROM orders CROSS JOIN b
        ), coded AS (
            SELECT *, {_M} // 16 AS zfile, cx AS lfile FROM o
        ), files AS (
            SELECT 'zorder' AS layout, zfile AS f,
                   MIN(o_custkey) AS fmnc, MAX(o_custkey) AS fmxc,
                   MIN(day) AS fmnd, MAX(day) AS fmxd,
                   COUNT(*) AS n_rows,
                   MIN(lo_ck) AS lo_ck, MIN(hi_ck) AS hi_ck,
                   MIN(lo_d) AS lo_d, MIN(hi_d) AS hi_d,
                   SUM(CASE WHEN o_custkey BETWEEN lo_ck AND hi_ck
                            AND day BETWEEN lo_d AND hi_d
                       THEN 1 ELSE 0 END) AS n_match
            FROM coded GROUP BY zfile
            UNION ALL
            SELECT 'linear', lfile,
                   MIN(o_custkey), MAX(o_custkey), MIN(day), MAX(day),
                   COUNT(*), MIN(lo_ck), MIN(hi_ck), MIN(lo_d), MIN(hi_d),
                   SUM(CASE WHEN o_custkey BETWEEN lo_ck AND hi_ck
                            AND day BETWEEN lo_d AND hi_d
                       THEN 1 ELSE 0 END)
            FROM coded GROUP BY lfile
        )
        SELECT layout,
               CAST(COUNT(*) AS BIGINT) AS n_files,
               CAST(SUM(CASE WHEN fmxc >= lo_ck AND fmnc <= hi_ck
                             AND fmxd >= lo_d AND fmnd <= hi_d
                        THEN 1 ELSE 0 END) AS BIGINT) AS files_kept,
               CAST(SUM(CASE WHEN fmxc >= lo_ck AND fmnc <= hi_ck
                             AND fmxd >= lo_d AND fmnd <= hi_d
                        THEN n_rows ELSE 0 END) AS BIGINT)
                   AS rows_in_kept_files,
               CAST(SUM(n_match) AS BIGINT) AS n_rows_match
        FROM files GROUP BY layout
        """,
        tags=("ext-scan", "ext-sink", "ext-olap"),
    )
    def q_zorder_skipping_model(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Z-ORDER clustering payoff, quantified: orders bucket into 16
        'files' two ways — Morton-interleaved (custkey, day) Z-buckets
        vs custkey-only linear buckets — and the model computes each
        file's zonemap and how many files a 2-D box predicate (middle
        quarter of BOTH dimensions) must open. Z-order keeps files whose
        min/max boxes tile BOTH dimensions, so the 2-D query prunes in
        both; the linear layout's files each span the full day range, so
        only the custkey dimension ever prunes. rows_in_kept_files /
        n_rows_match is the read-amplification each layout pays.

        The bucket math is explicit integers, so the driver oracle
        reproduces it exactly; tests build a REAL commit-log table
        appended file-per-Z-bucket and assert TxLogTable.scan_files
        skips exactly the modeled set — model and storage agree.

        Scale shape: one orders pass + two bounded (16-file) rollups;
        at 100 TB this is the planning query you run BEFORE paying for
        the re-clustering OPTIMIZE."""
        coded = zorder_prep(spark, sf_dir)
        match = F.when(
            F.col("o_custkey").between(F.col("lo_ck"), F.col("hi_ck"))
            & F.col("day").between(F.col("lo_d"), F.col("hi_d")),
            1,
        ).otherwise(0)

        def files(layout: str, fcol: str) -> DataFrame:
            return (
                coded.groupBy(F.col(fcol).alias("f"))
                .agg(
                    F.min("o_custkey").alias("fmnc"),
                    F.max("o_custkey").alias("fmxc"),
                    F.min("day").alias("fmnd"),
                    F.max("day").alias("fmxd"),
                    F.count("*").alias("n_rows"),
                    F.min("lo_ck").alias("lo_ck"),
                    F.min("hi_ck").alias("hi_ck"),
                    F.min("lo_d").alias("lo_d"),
                    F.min("hi_d").alias("hi_d"),
                    F.sum(match).alias("n_match"),
                )
                .withColumn("layout", F.lit(layout))
            )

        allf = files("zorder", "zfile").unionByName(files("linear", "lfile"))
        kept = (
            (F.col("fmxc") >= F.col("lo_ck"))
            & (F.col("fmnc") <= F.col("hi_ck"))
            & (F.col("fmxd") >= F.col("lo_d"))
            & (F.col("fmnd") <= F.col("hi_d"))
        )
        return allf.groupBy("layout").agg(
            F.count("*").cast("long").alias("n_files"),
            F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias(
                "files_kept"
            ),
            F.sum(F.when(kept, F.col("n_rows")).otherwise(0))
            .cast("long")
            .alias("rows_in_kept_files"),
            F.sum("n_match").cast("long").alias("n_rows_match"),
        )


_register()
