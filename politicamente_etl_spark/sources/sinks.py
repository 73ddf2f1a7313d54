"""Sink semantics as DataFrame algebra over managed parquet (SURVEY.md §2.7).

The reference's sinks are Postgres statements with conflict handling
(`load.py:17-22,37-42,60-65,84-92,113-127`). Parquet has no ON CONFLICT, so
each sink op is expressed as join algebra and an atomic overwrite/append
(Spark's output committer makes a write job all-or-nothing — replacing the
reference's per-1000-row commit batching, which was an artifact of the
row-at-a-time design, SURVEY.md §2.7 K6).

Delta Lake would give MERGE + real ACID; it is not in this environment, so
these helpers are the portable core and a Delta backend can be slotted in
behind the same signatures later.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from politicamente_etl_spark.operators.joins import anti_join_absent


def upsert(existing: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """K1 — UPSERT (`INSERT … ON CONFLICT DO UPDATE`, `load.py:17-22`):
    rows of `new` win on key conflict, unmatched `existing` rows survive.
    Implemented as (existing ANTI new) UNION ALL new — one broadcastable
    anti join, no full-table shuffle when `new` is small."""
    kept = anti_join_absent(existing, new.select(*keys), keys)
    return kept.unionByName(new.select(*existing.columns))


def insert_if_absent(existing: DataFrame, new: DataFrame, keys: list[str]) -> DataFrame:
    """K2-K4 — `INSERT … ON CONFLICT DO NOTHING` (`load.py:37-42,60-65,
    84-92`): append only the rows whose key is not already present. Dedups
    `new` on the key first (deterministically, min-ranked) — the reference
    achieves the same through sequential per-row conflict checks."""
    from politicamente_etl_spark.operators.core import dedup_keep_first

    fresh = anti_join_absent(new, existing, keys)
    fresh = dedup_keep_first(fresh, keys, [F.col(c) for c in fresh.columns])
    return existing.unionByName(fresh.select(*existing.columns))


def merge_upsert(
    spark,
    target_path: str,
    new: DataFrame,
    keys: list[str],
    backend: str = "auto",
) -> None:
    """Table-level UPSERT against a storage path, with a transactional
    MERGE backend slotted in when one is available (VERDICT r2 item 8).

    backend="delta": requires the delta-spark package + a Delta table at
    `target_path`; compiles to `DeltaTable.merge(...).whenMatchedUpdateAll()
    .whenNotMatchedInsertAll()` — a metadata-commit-atomic MERGE with
    file-level pruning on the join keys, the right call on a real lake.
    backend="parquet": the portable path — read the managed parquet, run
    the same `upsert` join algebra, stage-write, and swap (job-atomic via
    the output committer; the swap window is the documented divergence
    from a metastore pointer flip). backend="auto" probes for delta and
    falls back. The sandbox has no delta-spark, so the delta arm is
    import-gated and exercised by tests only where available; the algebra
    arm is tested end-to-end either way.
    backend="txlog" (auto-detected via a `_txlog/` log dir): the in-repo
    commit-log format (sources/txlog.py) — atomic manifest commit, file-
    pruned rewrite, snapshot isolation and time travel, no extra deps."""
    if backend not in ("auto", "delta", "parquet", "txlog"):
        raise ValueError(f"unknown backend {backend!r}")
    if backend == "txlog" or (
        backend == "auto" and os.path.isdir(os.path.join(target_path, "_txlog"))
    ):
        from politicamente_etl_spark.sources.txlog import TxLogTable

        TxLogTable(spark, target_path).merge(new, keys)
        return
    if backend in ("auto", "delta"):
        try:
            from delta.tables import DeltaTable  # type: ignore[import-not-found]

            cond = " AND ".join(f"t.{k} = s.{k}" for k in keys)
            (
                DeltaTable.forPath(spark, target_path)
                .alias("t")
                .merge(new.alias("s"), cond)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        except ImportError:
            if backend == "delta":
                raise RuntimeError(
                    "backend='delta' requested but delta-spark is not installed"
                )
    import uuid as _uuid

    existing = spark.read.parquet(target_path)
    resolved = upsert(existing, new, keys)
    staging = f"{target_path}__merge_{_uuid.uuid4().hex[:8]}"
    resolved.write.mode("overwrite").parquet(staging)
    import shutil

    shutil.rmtree(target_path)
    shutil.move(staging, target_path)


def write_jsonl(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines sink (one object per line, splittable on read)."""
    df.write.mode(mode).json(path)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 1000,
    **options: str,
) -> None:
    """JDBC sink — the reference's Postgres INSERT path (K1-K5 transport,
    `load.py:18,38,85,115`) without the per-row loop: each partition writes
    through one connection with `batchsize` statements (default mirrors the
    reference's BATCH_SIZE=1000, `config.py:22`). Conflict semantics are NOT
    expressible through plain JDBC inserts — run the upsert/insert_if_absent
    algebra first and write the resolved table. Tested end-to-end against
    embedded Apache Derby in tests/test_jdbc_roundtrip.py (overwrite,
    append, and read-back paths)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()


def compact(spark, path: str, target_files: int = 8) -> None:
    """Small-file compaction: rewrite a managed parquet directory into
    `target_files` files. Streaming sinks and frequent incremental appends
    accrete many tiny files; at scale that turns every scan into a
    file-listing storm and starves the scheduler with sub-split tasks.
    Uses coalesce (no shuffle — merges existing partitions) and a
    rename-pair swap so the data is never unrecoverable: old table →
    `__old`, staging → live, then delete `__old`. Each rename is atomic
    (same-filesystem directory rename); the only failure window is the
    instant between the two renames, where the live path is briefly
    absent but BOTH copies still exist on disk — a crash there is
    repaired by renaming `__old` back. (Delta/Iceberg turn this dance
    into a metastore pointer flip; this is the plain-parquet analogue.)"""
    import shutil
    import uuid as _uuid

    staging = f"{path}__compact_{_uuid.uuid4().hex[:8]}"
    old = f"{path}__old_{_uuid.uuid4().hex[:8]}"
    df = spark.read.parquet(path)
    df.coalesce(target_files).write.mode("overwrite").parquet(staging)
    os.rename(path, old)
    try:
        os.rename(staging, path)
    except OSError:
        os.rename(old, path)  # roll back — the table was never lost
        raise
    shutil.rmtree(old)


def write_training_shards(
    df: DataFrame,
    path: str,
    split_col: str = "split",
    shard_rows: int = 100_000,
    shuffle_key: str | None = None,
) -> None:
    """Write a training dataset as split-partitioned, bounded-size parquet
    shards — the layout a data-loader fleet consumes (`path/split=train/
    part-*.parquet`, each ≤ shard_rows rows via maxRecordsPerFile, so
    loader workers get uniform units regardless of upstream partitioning).

    `shuffle_key`: optional column to cluster rows by a deterministic hash
    BEFORE sharding (repartitionByRange over md5 buckets) — a static
    global shuffle baked into the layout, so epoch-order randomization
    doesn't depend on loader-side buffer sizes. Deterministic: same key,
    same layout."""
    w = df
    if shuffle_key is not None:
        from politicamente_etl_spark.operators.sampling import hash_bucket

        w = (
            w.withColumn("__shard_bucket", hash_bucket(shuffle_key, seed="shard-v1"))
            .repartitionByRange("__shard_bucket")
            .sortWithinPartitions("__shard_bucket")
            .drop("__shard_bucket")
        )
    (
        w.write.mode("overwrite")
        .option("maxRecordsPerFile", shard_rows)
        .partitionBy(split_col)
        .parquet(path)
    )


def write_managed(df: DataFrame, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
    """Atomic managed-parquet write. `partition_by` mirrors the reference's
    one real optimization — file-level pruning (`extract.py:43-44`) — as
    partition pruning: partition facts by a coarse key (election year in the
    reference's domain) so year-scoped queries touch only their files."""
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    keys: list[str],
    buckets: int = 64,
    sort_by: list[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed (hash-clustered) managed table: rows are pre-shuffled into
    `buckets` files by hash(keys) at WRITE time, so every later
    join/aggregate on those keys skips its Exchange entirely — the
    pay-once-join-free layout for fact tables that are joined on the same
    key daily (the 100 TB complement of broadcast joins, which only cover
    small dims). Two tables bucketed on the same key with the same bucket
    count sort-merge-join with ZERO shuffles (pinned by
    tests/test_round3c_ops.py::test_bucketed_join_no_exchange).

    `sort_by` additionally sorts within each bucket file, which lets the
    join skip its Sort too and gives parquet min/max pruning on the sort
    key. `path` makes it an external table (object-storage layout);
    default is a managed table in the session warehouse. Bucket count is
    a layout contract: pick it for the TARGET scale (buckets ≈ total
    bytes / 1 GiB) — changing it rewrites the table."""
    w = df.write.mode(mode).bucketBy(buckets, *keys)
    if sort_by:
        w = w.sortBy(*sort_by)
    if path is not None:
        w = w.option("path", path)
    w.format("parquet").saveAsTable(table)


def write_zordered(
    df: DataFrame,
    path: str,
    cols: list[str],
    n_files: int = 16,
    bits: int = 8,
    bucketize: str = "linear",
) -> None:
    """Multi-dimensional clustered layout (Z-order / Morton curve): rows
    close in ANY of `cols` land in the same files, so a selective filter
    on any clustered column prunes most files via parquet min/max stats —
    the data-skipping layout Delta's OPTIMIZE ZORDER BY produces,
    expressed as plain DataFrame algebra.

    Mechanics: each column linearly bucketizes to `bits` bits against its
    global min/max (one tiny agg, broadcast back); the per-column bucket
    bits interleave into one Morton key (shiftleft/OR expression chain,
    codegen'd); repartitionByRange on the key range-partitions the curve
    into `n_files` contiguous segments and rows sort by key within each.

    A single-column sort gives perfect locality on one column and none on
    the others; the Morton curve trades a little per-column locality for
    locality on ALL clustered columns at once.

    ``bucketize="linear"`` scales each column against its global min/max —
    right for roughly uniform columns. ``bucketize="quantile"`` assigns
    bucket = count of approx-percentile edges at or below the value, so a
    heavy-tailed column still spreads across all 2^bits codes instead of
    collapsing its mass into one (a single outlier under linear scaling
    squeezes 99% of rows into bucket 0 and the curve degenerates to a
    sort on the OTHER columns). Same interleave either way; both are one
    tiny agg broadcast back + pure expressions."""
    top = (1 << bits) - 1
    if bucketize == "quantile":
        fracs = ", ".join(str(i / (1 << bits)) for i in range(1, 1 << bits))
        bounds = df.agg(
            *[
                F.expr(
                    f"percentile_approx({c}, array({fracs}), 10000)"
                ).alias(f"__edges_{c}")
                for c in cols
            ]
        )
        w = df.crossJoin(F.broadcast(bounds))
        for c in cols:
            val = F.col(c).cast("double")
            w = w.withColumn(
                f"__b_{c}",
                F.least(
                    F.lit(top),
                    F.size(F.filter(f"__edges_{c}", lambda e: e <= val)),
                ),
            )
        w = w.drop(*[f"__edges_{c}" for c in cols])
    elif bucketize == "linear":
        aggs = []
        for c in cols:
            aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
        bounds = df.agg(*aggs)
        w = df.crossJoin(F.broadcast(bounds))
        for c in cols:
            span = F.col(f"__max_{c}").cast("double") - F.col(f"__min_{c}").cast("double")
            frac = F.when(span > 0, (F.col(c).cast("double") - F.col(f"__min_{c}").cast("double")) / span).otherwise(F.lit(0.0))
            w = w.withColumn(
                f"__b_{c}", F.least(F.lit(top), F.floor(frac * (1 << bits)).cast("int"))
            )
        w = w.drop(
            *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols]
        )
    else:
        raise ValueError(f"bucketize must be linear|quantile, got {bucketize!r}")
    # Column.bitwiseOR/bitwiseAND — the Python &/| operators on Columns
    # resolve to BOOLEAN and/or and fail analysis on integers
    one = F.lit(1).cast("bigint")
    z = F.lit(0).cast("bigint")
    for bit in range(bits - 1, -1, -1):
        for c in cols:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(F.col(f"__b_{c}"), bit).cast("bigint").bitwiseAND(one)
            )
    w = w.withColumn("__z", z).drop(*[f"__b_{c}" for c in cols])
    (
        w.repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )

def write_zordered_txlog(
    spark,
    path: str,
    df: DataFrame,
    cols: list[str],
    bits: int = 4,
    n_files: int = 16,
    bloom_cols: tuple[str, ...] = (),
    bloom_bits: int = 2048,
):
    """Z-order-clustered COMMIT-LOG table: the write_zordered layout
    committed through sources/txlog.py, so every data file carries a
    manifest zonemap over ALL clustered columns and `scan()`/
    `scan_files()` prune multi-dimensional box predicates — the
    storage half of the `zorder_skipping_model` planner (Delta's
    OPTIMIZE ZORDER BY, as plain DataFrame algebra + the OCC log).

    Unlike write_zordered's repartitionByRange (whose sampled range
    boundaries are not run-reproducible), clustering here is EXACT
    integer bucket math so the resulting file set is deterministic and
    SQL-mirrorable: each cluster column (must be integral) bucketizes
    to `bits` bits against its global min/max via
    ``(c - min) * 2^bits DIV (max - min + 1)``, buckets interleave
    into a Morton code, and the code range splits into `n_files`
    contiguous Z-buckets — one data file per non-empty bucket, staged
    in ONE write job and linked by ONE commit (create's
    cluster_file_col path: repartition(bucket) + partitionBy(bucket)
    puts each bucket in exactly one task and splits that task's output
    per bucket — the OPTIMIZE-style all-buckets-one-commit rewrite).

    Scale shape: one tiny min/max agg broadcast back, one map-side
    Morton expression, one bucket-keyed shuffle, one write job.
    Returns the TxLogTable.
    """
    from politicamente_etl_spark.sources.txlog import TxLogTable

    top = (1 << bits) - 1
    aggs = []
    for c in cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    bounds = df.agg(*aggs)
    w = df.crossJoin(F.broadcast(bounds))
    for c in cols:
        w = w.withColumn(
            f"__b_{c}",
            F.least(
                F.lit(top).cast("bigint"),
                F.expr(
                    f"(CAST({c} AS BIGINT) - __min_{c}) * {1 << bits}"
                    f" DIV (CAST(__max_{c} AS BIGINT) - __min_{c} + 1)"
                ),
            ),
        )
    w = w.drop(*[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols])
    one = F.lit(1).cast("bigint")
    z = F.lit(0).cast("bigint")
    for bit in range(bits - 1, -1, -1):
        for c in cols:
            z = F.shiftleft(z, 1).bitwiseOR(
                F.shiftright(F.col(f"__b_{c}"), bit)
                .cast("bigint")
                .bitwiseAND(one)
            )
    codes = 1 << (bits * len(cols))
    if codes % n_files:
        raise ValueError(
            f"n_files={n_files} must divide 2^(bits*len(cols))={codes}"
        )
    w = (
        w.withColumn("__z", z)
        .withColumn(
            "__zfile", F.expr(f"__z DIV {codes // n_files}").cast("bigint")
        )
        .drop("__z", *[f"__b_{c}" for c in cols])
    )
    # bloom_cols compose with the Z layout: zonemaps answer range
    # predicates on the clustered dimensions, blooms answer point
    # lookups on everything else — one create, both metadata layers
    return TxLogTable.create(
        spark,
        path,
        w,
        cluster_file_col="__zfile",
        bloom_cols=bloom_cols,
        bloom_bits=bloom_bits,
    )
