"""Round-9 wave B: the JPEG capstone of the multimodal decode seam.

Reference parity note: the reference has no multimodal surface at all
(src/politicamente_etl/etl/load.py is pure tabular) — this is §2.10
LLM-data-pipeline scope, the last carried optional item from VERDICT
r7/r8 item 7: a REAL baseline JPEG codec behind the decode seam, so
every exercised format family (raw BMP/PPM, DEFLATE PNG, PCM WAV, and
now DCT+Huffman JPEG) decodes through genuine byte paths.
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
        "jpeg_decode_stats",
        sql="""
        SELECT CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END AS INT)
                   AS n_channels,
               CAST(COUNT(*) AS BIGINT) AS n_images,
               CAST(SUM(1 + doc_id % 16) AS BIGINT) AS width_sum,
               CAST(SUM((1 + doc_id % 16) * (1 + doc_id % 8)
                        * (CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 3 END)
                        * (doc_id % 251)) AS BIGINT) AS pixel_sum_total
        FROM documents
        GROUP BY 1
        """,
        tags=("ext-multimodal",),
    )
    def q_jpeg_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
        """The DCT-compressed twin of png_decode_stats: each doc
        synthesizes a spec-conformant baseline JFIF on the executors
        (grayscale/RGB-4:4:4 by doc parity, w=1+id%16, h=1+id%8,
        fill=id%251, quality cycling 85/90/100 and restart interval
        cycling 0-3 by doc id — so DRI/RSTn segmentation and every
        quality-scaled quant table are exercised in-query), and
        `parse_jpeg` decodes it from raw bytes: marker walk, canonical
        Huffman entropy decode with DC prediction and restart resets,
        dequantize, 8x8 IDCT, YCbCr->RGB. Flat payloads quantize to a
        DC-only spectrum whose reconstruction error is < 0.5 at
        quality>=77, so the closed-form oracle
        (pixel_sum = w*h*nch*fill) is EXACT — any Huffman, zigzag,
        dequant, IDCT, or color-convert slip hash-fails.

        100 TB: decode runs inside the Arrow batch on the executor —
        payload bytes never shuffle; output is 4 stat columns. The
        pure-Python bit loops are the per-byte cost slot a native codec
        (PIL/libjpeg via the decoder= seam) replaces wholesale; the
        plumbing (schema, batching, payload pruning) is identical
        either way, which is what this query pins."""
        from politicamente_etl_spark.operators.multimodal import (
            decode_image_stats,
            encode_jpeg,
        )

        # the per-doc codec work is the cost here, not the scan: a
        # small single-file documents.parquet would otherwise pin the
        # whole encode+decode loop to ONE task. Shuffling just the
        # 8-byte doc_id column (not payloads) buys full parallelism.
        docs = (
            T(spark, sf_dir, "documents")
            .select("doc_id")
            .repartition(spark.sparkContext.defaultParallelism)
        )

        def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                yield pd.DataFrame(
                    {
                        "doc_id": pdf["doc_id"],
                        "media": [
                            encode_jpeg(
                                1 + int(d) % 16,
                                1 + int(d) % 8,
                                int(d) % 251,
                                n_channels=1 if int(d) % 2 == 0 else 3,
                                quality=(85, 90, 100)[int(d) % 3],
                                restart_interval=int(d) % 4,
                            )
                            for d in pdf["doc_id"]
                        ],
                    }
                )

        payloads = docs.mapInPandas(build, "doc_id long, media binary")
        return (
            decode_image_stats(payloads)
            .groupBy("n_channels")
            .agg(
                F.count("*").cast("long").alias("n_images"),
                F.sum("width").cast("long").alias("width_sum"),
                F.sum("pixel_sum").cast("long").alias("pixel_sum_total"),
            )
            .select("n_channels", "n_images", "width_sum", "pixel_sum_total")
        )

    @register(
        "txlog_schema_evolution_proof",
        sql="""
        SELECT 'schema_evolution' AS label,
               'decimal(12,2)' AS declared_price_type,
               'status,flag' AS nested_fields,
               CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS flag_nulls,
               CAST(SUM(CASE WHEN o_orderkey % 2 = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS flag_set,
               CAST(SUM(o_orderkey % 1000) AS BIGINT) AS price_units_sum
        FROM orders
        """,
        tags=("ext-sink", "ext-storage"),
    )
    def q_txlog_schema_evolution_proof(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Widening schema evolution end-to-end (review r9, seventh
        pass): batch 1 appends (k, meta struct<status>, price
        decimal(10,2)); batch 2 appends with merge_schema=True a NESTED
        field addition (meta struct<status, flag>) and a DECIMAL
        precision widening (price decimal(12,2)). The proof pins the
        three contracts at once: (a) the manifest's declared type is
        the WIDENED decimal(12,2) and the nested union keeps table
        order with the new field appended; (b) pre-evolution rows read
        the added nested field as NULL (the snapshot read projects the
        DECLARED schema, not the first file footer — a footer read
        silently dropped the field for every row); (c) data survives
        the widening bit-exactly (price derived from integers, so the
        unit sum is exact across the precision change). 100 TB:
        schema evolution must never rewrite data — both appends link
        files untouched and only the manifest schema moves, Delta's
        mergeSchema semantics. Ref: sources/txlog.py _widen_types /
        _read_with_tombstones."""
        from pyspark.sql.types import StructType

        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders").select("o_orderkey")
        b1 = o.filter(F.col("o_orderkey") % 2 == 0).select(
            F.col("o_orderkey").alias("k"),
            F.struct(F.lit("ok").alias("status")).alias("meta"),
            (F.col("o_orderkey") % 1000).cast("decimal(10,2)").alias(
                "price"
            ),
        )
        b2 = o.filter(F.col("o_orderkey") % 2 == 1).select(
            F.col("o_orderkey").alias("k"),
            F.struct(
                F.lit("ok").alias("status"),
                F.lit(1).cast("int").alias("flag"),
            ).alias("meta"),
            (F.col("o_orderkey") % 1000).cast("decimal(12,2)").alias(
                "price"
            ),
        )
        base = tempfile.mkdtemp(prefix="txlog_sev_")
        t = TxLogTable.create(spark, os.path.join(base, "t"), b1)
        t.append(b2, merge_schema=True)
        declared = StructType.fromJson(t._state().schema)
        price_type = declared["price"].dataType.simpleString()
        nested = ",".join(
            f.name for f in declared["meta"].dataType.fields
        )
        return t.snapshot().agg(
            F.lit("schema_evolution").alias("label"),
            F.lit(price_type).alias("declared_price_type"),
            F.lit(nested).alias("nested_fields"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum(
                F.col("meta.flag").isNull().cast("long")
            ).alias("flag_nulls"),
            F.sum(
                F.col("meta.flag").isNotNull().cast("long")
            ).alias("flag_set"),
            F.sum(F.col("price").cast("long")).alias("price_units_sum"),
        )


_register()
