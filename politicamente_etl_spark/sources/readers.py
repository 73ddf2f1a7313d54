"""Source readers.

Spark-first equivalents of the reference's extract stage
(`/root/reference/src/politicamente_etl/etl/extract.py`):

- S3 CSV scan (`extract.py:46`): `read_tse_csv` — `;`-separated latin-1 CSV
  with an explicit StructType (never inferSchema at scale: inference is a
  full extra pass over 100 TB).
- S4 multi-file UNION ALL (`extract.py:48`): a multi-path `spark.read.csv`
  — one distributed scan instead of a driver-side concat.
- S2 file pruning (`extract.py:43-44`): `prune_consolidated` — prefer a
  consolidated file over per-state shards, done as path-list pruning before
  the scan so Spark never lists the discarded files.
- S1 HTTP ZIP fetch (`extract.py:11-36`) is a driver-side landing utility,
  kept out of the executor path: ZIPs are not splittable, so ingest unzips
  to a landing dir and the distributed scan reads the extracted CSVs.
- Per-table reads (`extract.py:46-50` reads every table afresh):
  `load_table` resolves each parquet file's Spark schema once and reads
  with it explicitly afterwards. A schema-less `spark.read.parquet` runs
  a one-task footer-inference job on every call; an explicit schema runs
  none. The cache key is the absolute path, a digest of the parquet
  footer bytes and the session confs that change inference, so a
  rewrite at the same path, or a flipped conf, resolves afresh.
  Directories, non-local paths and files without a parquet trailer read
  schema-less, exactly as Spark would.
"""

from __future__ import annotations

import hashlib
import os
import threading
from collections import OrderedDict
from fnmatch import fnmatch

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StringType, StructField, StructType

from politicamente_etl_spark.schemas import TESTDATA_TABLES


# Session confs that change the schema Spark infers from a parquet footer
# (part of the schema cache key). `load_events` flips the last one.
_INFERENCE_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)
_SCHEMA_CACHE_SIZE = 256
_schemas: OrderedDict[tuple, StructType] = OrderedDict()
_schemas_lock = threading.Lock()


def _footer_digest(path: str) -> str | None:
    """Digest of a local parquet file's footer (the metadata block plus
    its 8-byte trailer: 4-byte little-endian length, then ``PAR1``), or
    None when the file has no parquet trailer. Every type Spark infers
    comes from this block, so equal digests mean equal inferred schemas
    under equal confs."""
    with open(path, "rb") as fh:
        size = fh.seek(0, os.SEEK_END)
        if size < 12:
            return None
        fh.seek(size - 8)
        trailer = fh.read(8)
        footer_len = int.from_bytes(trailer[:4], "little")
        if trailer[4:] != b"PAR1" or footer_len > size - 12:
            return None
        fh.seek(size - 8 - footer_len)
        footer = fh.read(footer_len)
    return hashlib.blake2b(footer + trailer, digest_size=16).hexdigest()


def _schema_key(spark: SparkSession, path: str) -> tuple | None:
    """Cache key of `path`'s inferred schema, or None for a path the cache
    does not serve (directory, non-local, missing, not parquet)."""
    if not os.path.isfile(path):
        return None
    digest = _footer_digest(path)
    if digest is None:
        return None
    confs = tuple(spark.conf.get(k) for k in _INFERENCE_CONFS)
    return (os.path.abspath(path), digest, confs)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one driver parquet table. Types come from the parquet footer
    (authoritative); Catalyst handles column pruning + predicate pushdown.

    Schema once: the first call for a file lets Spark infer the schema
    (one footer-reading job) and caches it; every later call reads with
    ``spark.read.schema(cached)``, which runs no job. The cache key is
    (absolute path, digest of the footer bytes, the `_INFERENCE_CONFS`
    values), so a rewrite at the same path or a flipped inference conf
    (e.g. `load_events`' nanosAsLong) misses and infers afresh; the
    cache holds the `_SCHEMA_CACHE_SIZE` most recently used keys.
    Directories, non-local paths and files without a parquet trailer
    fall back to a schema-less `spark.read.parquet`, as before.

    Pins the session timezone to UTC: the driver's own SparkSession may
    inherit a non-UTC JVM zone, which would shift `year()`/`date_format()`
    on timestamps relative to the UTC-naive DuckDB oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _schema_key(spark, path)
    if key is None:
        return spark.read.parquet(path)
    with _schemas_lock:
        schema = _schemas.get(key)
        if schema is not None:
            _schemas.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _schemas_lock:
        _schemas[key] = df.schema
        while len(_schemas) > _SCHEMA_CACHE_SIZE:
            _schemas.popitem(last=False)
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: tuple[str, ...] = TESTDATA_TABLES
) -> dict[str, DataFrame]:
    """Scan the star schema and register each table as a temp view so both
    the DataFrame API and spark.sql() address the same relations."""
    out: dict[str, DataFrame] = {}
    for name in names:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_tse_csv(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType,
    corrupt_col: str | None = None,
) -> DataFrame:
    """TSE CSV scan with the reference's file conventions
    (`extract.py:46`: sep=';', latin-1, header row) but an explicit schema.

    Passing a list of paths is the distributed UNION ALL (S4): one scan, one
    stage, no driver-side concat. Unknown columns in the file are simply not
    read (column pruning at the parser level).

    ``corrupt_col``: capture rows the parser cannot fit to the schema
    (wrong field count, unparseable numerics) — the raw line lands in this
    extra string column and every schema column is NULL for that row,
    letting the caller quarantine instead of silently nulling (PERMISSIVE
    default) or killing the job (FAILFAST). The reference's pandas read
    would raise on these lines; a 100 TB ingest must not die on one bad
    line, so quarantine-and-report is the production semantics. Split the
    result with ``quarantine_malformed``."""
    reader = spark.read
    if corrupt_col is not None:
        schema = StructType(
            [*schema.fields, StructField(corrupt_col, StringType(), True)]
        )
        reader = reader.option("columnNameOfCorruptRecord", corrupt_col)
    return (
        reader.schema(schema)
        .options(sep=";", encoding="ISO-8859-1", header=True, mode="PERMISSIVE")
        .csv(paths)
    )


def quarantine_malformed(
    df: DataFrame, corrupt_col: str
) -> tuple[DataFrame, DataFrame]:
    """Split a ``read_tse_csv(corrupt_col=...)`` scan into (clean rows
    without the capture column, quarantined rows). Both halves are
    projections of the one scan — no second read, no shuffle.

    The quarantine half keeps the schema columns (all NULL for a corrupt
    row) alongside ``raw_line`` — partly for triage context, partly
    because Spark's CSV source refuses a query whose only required column
    is the corrupt-record capture (QUERY_ONLY_CORRUPT_RECORD_COLUMN): the
    parser must be forced to actually parse, or the capture would be
    trivially empty."""
    from pyspark.sql import functions as F

    clean = df.filter(F.col(corrupt_col).isNull()).drop(corrupt_col)
    bad = df.filter(F.col(corrupt_col).isNotNull()).withColumnRenamed(
        corrupt_col, "raw_line"
    )
    return clean, bad


def read_jsonl(
    spark: SparkSession,
    paths: str | list[str],
    schema: StructType | None = None,
) -> DataFrame:
    """JSON-lines scan. An explicit schema skips the inference pass (at
    100 TB inference reads everything twice); when omitted Spark samples —
    dev only. Multi-path lists scan as one distributed job (S4 analogue)."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(paths)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """JDBC table scan — the direct analogue of the reference's Postgres
    read-back (S5, `load.py:56,57,66`), distributed instead of a driver
    round-trip. Always pass the partition_column/bounds quad for any
    non-tiny table: without it the whole table streams through ONE task.
    Tested end-to-end against embedded Apache Derby (Spark's bundled
    metastore jars) in tests/test_jdbc_roundtrip.py, including the
    partitioned 4-way range scan."""
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def prune_consolidated(
    csv_names: list[str], prefix: str, year: int
) -> list[str]:
    """S2 file pruning (`extract.py:39-44`): if the consolidated
    `{prefix}_{year}_BRASIL.csv` is present, read ONLY it; otherwise read all
    per-state CSVs. Pure path logic — runs on the driver before the scan, so
    the discarded ~27 shards are never listed, opened, or scheduled."""
    consolidated = f"{prefix}_{year}_BRASIL.csv"
    csvs = [n for n in csv_names if fnmatch(os.path.basename(n), "*.csv")]
    only = [n for n in csvs if os.path.basename(n) == consolidated]
    return only if only else csvs
