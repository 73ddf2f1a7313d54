"""sources/readers.load_table: the footer-keyed schema cache. A warm read
runs no Spark job; a rewrite at the same path, a flipped inference conf
and a directory path all read what a schema-less scan would."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import LongType, StringType, TimestampNTZType, TimestampType

from politicamente_etl_spark.sources import readers
from politicamente_etl_spark.testing import spark_jobs

NANOS = "spark.sql.legacy.parquet.nanosAsLong"


def test_warm_load_table_runs_no_job(spark, sf_dir):
    def load():
        return readers.load_table(spark, sf_dir, "orders")

    cold, _ = spark_jobs(spark, "probe:load_table:cold", load)
    warm, jobs = spark_jobs(spark, "probe:load_table:warm", load)
    assert jobs == 0
    assert warm.schema == cold.schema
    assert warm.count() == cold.count()


def test_rewrite_at_same_path_returns_new_schema(spark, tmp_path):
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int64())}), str(tmp_path / "t.parquet"))
    first = readers.load_table(spark, str(tmp_path), "t")
    assert first.schema.fieldNames() == ["a"]
    readers.load_table(spark, str(tmp_path), "t")  # warm
    pq.write_table(
        pa.table({"a": pa.array(["x"], pa.string()), "b": pa.array([3], pa.int64())}),
        str(tmp_path / "t.parquet"),
    )
    again = readers.load_table(spark, str(tmp_path), "t")
    assert [(f.name, f.dataType) for f in again.schema.fields] == [
        ("a", StringType()),
        ("b", LongType()),
    ]
    assert [tuple(r) for r in again.collect()] == [("x", 3)]


def test_nanos_as_long_flip_is_seen(spark, tmp_path):
    ts = pa.array([1_700_000_000_123_456_789], pa.timestamp("ns"))
    pq.write_table(pa.table({"ts": ts}), str(tmp_path / "ev.parquet"))
    prev = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "true")
        for _ in range(2):  # cold, then warm
            df = readers.load_table(spark, str(tmp_path), "ev")
            assert df.schema["ts"].dataType == LongType()
        assert df.first().ts == 1_700_000_000_123_456_789
        spark.conf.set(NANOS, "false")
        with pytest.raises(Exception, match="TIMESTAMP\\(NANOS"):
            readers.load_table(spark, str(tmp_path), "ev")
        spark.conf.set(NANOS, "true")
        assert readers.load_table(spark, str(tmp_path), "ev").schema["ts"].dataType == LongType()
    finally:
        spark.conf.set(NANOS, prev)

    us = pa.array([1_700_000_000_123_456], pa.timestamp("us"))
    pq.write_table(pa.table({"ts": us}), str(tmp_path / "ev.parquet"))
    df = readers.load_table(spark, str(tmp_path), "ev")
    assert df.schema["ts"].dataType in (TimestampNTZType(), TimestampType())


def test_directory_path_reads_as_before(spark, tmp_path):
    d = tmp_path / "dir.parquet"
    spark.range(0, 10).selectExpr("id", "id * 2 AS twice").write.parquet(str(d))
    assert os.path.isdir(d)
    for _ in range(2):
        df = readers.load_table(spark, str(tmp_path), "dir")
        assert df.columns == ["id", "twice"]
        assert sorted(r.twice for r in df.collect()) == [2 * i for i in range(10)]
