"""Core relational operators (SURVEY.md §2.2, §2.4-2.5).

Each maps a reference behavior to a declarative Spark plan. Nothing here
shuffles more than the semantics require: projections/casts are free,
distinct/dedup shuffle once on their keys with partial aggregation map-side.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def project_rename(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    """P1-P4 — projection with rename (`load.py:13,16,33,36,59`).

    One `select` so Catalyst prunes the scan to exactly these columns
    (check `.explain()` → ReadSchema lists only the mapped inputs)."""
    return df.select(*[F.col(src).alias(dst) for src, dst in mapping.items()])


def distinct_rows(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """A2/A3 — DISTINCT over a projection (`load.py:33,59`). Spark plans a
    hash aggregate with a map-side partial, so the shuffle carries only the
    already-deduplicated keys — this is what survives a 100x scale-up."""
    return (df.select(*cols) if cols else df).distinct()


def dedup_keep_first(
    df: DataFrame, keys: list[str], order_by: list[Column | str]
) -> DataFrame:
    """A4 — dedup by key keeping the FIRST row (`load.py:13`,
    `drop_duplicates(subset=...)`).

    pandas keep-first depends on file order; `dropDuplicates` keeps an
    arbitrary row under shuffle. The deterministic equivalent (SURVEY.md
    §2.9.2) ranks within each key by an explicit tiebreak: one shuffle on
    `keys`, per-partition sort, no global sort."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def union_all(*dfs: DataFrame, allow_missing: bool = False) -> DataFrame:
    """S4 — multi-DataFrame UNION ALL (`extract.py:48` `pd.concat`).

    `unionByName` resolves by column name (pandas concat aligns on labels).
    Union is a no-shuffle narrow op in Spark — partitions are appended, not
    repartitioned.

    ``allow_missing=True`` tolerates schema drift across vintages (a
    source added or dropped a column mid-history — routine over a 100 TB
    multi-year landing zone): columns absent on one side fill with NULL,
    exactly pandas concat's outer-align behavior."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=allow_missing), dfs
    )


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Fan a narrow scan out to the session's default parallelism before
    CPU-heavy per-row expression work (shingling, hashing, vector math).

    A small parquet scan yields fewer splits than cores (one file → one
    partition at bench SF), which serializes expression-bound operators onto
    a single thread. At production scale the scan already carries >= cores
    partitions and this is a no-op — the check keeps the shuffle out of the
    plan exactly when it would matter (100 TB inputs)."""
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    if _estimated_scan_splits(df, spark) >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def _parse_bytes_conf(spark, key: str, default: int) -> int:
    raw = spark.conf.get(key, str(default))
    digits = "".join(ch for ch in raw if ch.isdigit())
    n = int(digits) if digits else default
    low = raw.lower()
    if low.endswith(("k", "kb")):
        n *= 1024
    elif low.endswith(("m", "mb")):
        n *= 1024**2
    elif low.endswith(("g", "gb")):
        n *= 1024**3
    return n


def _estimated_scan_splits(df: DataFrame, spark) -> int:
    """Estimate the scan's partition count with FilePartition's own
    arithmetic. Spark sizes splits dynamically:

        bytesPerCore = (totalBytes + nFiles·openCost) / defaultParallelism
        maxSplitBytes = min(maxPartitionBytes, max(openCost, bytesPerCore))

    then bin-packs splits into partitions of ≤ maxSplitBytes (each file
    padded by openCost). We return the PACKED estimate
    ceil(paddedTotal / maxSplitBytes) — a lower-ish bound — rather than the
    per-file ceil sum, which is an UPPER bound: openCost packing merges
    many small files into few partitions, and an upper bound here would
    make spread() skip the repartition exactly on the tiny-file inputs
    that need it. Erring low only costs a redundant repartition of an
    already-parallel input at bench scale; at production scale paddedTotal
    dominates and the estimate is asymptotically exact. Plan-free: avoids
    `df.rdd.getNumPartitions()`, which compiles the plan to an RDD on
    every call. Falls back to the RDD probe when file sizes aren't locally
    readable (non-file scheme, in-memory relation)."""
    import math
    import os

    try:
        files = df.inputFiles()
        if not files:
            return df.rdd.getNumPartitions()
        max_bytes = _parse_bytes_conf(
            spark, "spark.sql.files.maxPartitionBytes", 134_217_728
        )
        open_cost = _parse_bytes_conf(
            spark, "spark.sql.files.openCostInBytes", 4_194_304
        )
        total = 0
        for uri in files:
            path = uri.split("://", 1)[-1] if "://" in uri else uri
            path = path[5:] if path.startswith("file:") else path
            total += os.path.getsize(path)
        padded = total + len(files) * open_cost
        bytes_per_core = padded / max(1, spark.sparkContext.defaultParallelism)
        max_split = min(max_bytes, max(open_cost, bytes_per_core))
        return max(1, math.ceil(padded / max_split))
    except Exception:  # noqa: BLE001 — heuristic; fall back to exact probe
        return df.rdd.getNumPartitions()


def top_k_per_group(
    df: DataFrame, keys: list[str], order_by: list[Column], k: int
) -> DataFrame:
    """Extended surface — top-k per group via rank-window. Spark pushes the
    `row_number <= k` filter into a per-partition top-k sort (WindowGroupLimit
    in the physical plan), so each shuffle partition keeps only k rows."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("rank_in_group", F.row_number().over(w))
        .filter(F.col("rank_in_group") <= k)
    )
