"""Structured Streaming surface over the events table (SURVEY.md §2.10).

The reference has no streams (its closest analogue is chunked HTTP download,
`extract.py:28`); this is the north-star extension: the same event-rollup
logic as the batch queries, expressed as an incremental streaming plan —
tumbling/sliding/session windows, watermarked late-data handling, and
stateful dedup.

Local testing drives a finite parquet file through the micro-batch engine
and asserts batch equivalence: a streaming window aggregate over a
replayed file must equal the batch `F.window` aggregate — that
equivalence is what makes these oracle-checkable. Two functions carry
every query here:

- `run_stream(writer)` is the package's only `start()`: it starts the
  query, drains it with processAllAvailable and stops it;
- `stage_batches(spark, df, batch_col, prefix)` replays a frame as a file
  stream with one micro-batch per `batch_col` value, in value order.

Scale notes: state-store size is bounded by the watermark horizon
(`withWatermark` lets Spark evict window/dedup state); without it, complete
mode state grows with key cardinality. A stateful query fixes its
state-store partition count from spark.sql.shuffle.partitions when it
first starts, and AQE never coalesces state partitions. A plain session
keeps the default 200, so every micro-batch would run 200-task stages
over a few thousand rows. `run_stream` therefore sets the conf to
min(session value, defaultParallelism) just before `start()` and
restores it right after: `start()` clones the session the stream runs
on, and the first batch pins the clone's count in the offset log, so
the caller's session is left as it was and a restart from the same
checkpoint keeps the first count whatever the conf says then.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from politicamente_etl_spark.schemas import EVENTS
from politicamente_etl_spark.sources import readers
from pyspark.sql.types import (
    IntegralType,
    LongType,
    StructField,
    StructType,
    TimestampNTZType,
)

# Explicit schema for the legacy TIMESTAMP(NANOS) vintage, where the
# vectorized reader surfaces ts as a raw nanosecond long (nanosAsLong).
# Kept for the ns-fixture unit tests; driver data is timestamp[us].
EVENTS_NANOS = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", LongType()),
        *[f for f in EVENTS.fields if f.name not in ("event_id", "ts")],
    ]
)


def normalize_ts(events: DataFrame) -> DataFrame:
    """Normalize the ``ts`` column to a UTC TimestampType instant,
    whatever vintage the source schema carries — the streaming twin of the
    batch ``load_events`` branching (plans/catalog.py):

    - LongType nanos → exact integer floor to micros;
    - TIMESTAMP_NTZ → cast (wall-clock == UTC instant under the UTC
      session tz; `unix_micros`/`F.window` reject NTZ);
    - TimestampType → pass through.
    """
    dt = events.schema["ts"].dataType
    if isinstance(dt, LongType):
        return events.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(dt, TimestampNTZType):
        return events.withColumn("ts", F.col("ts").cast("timestamp"))
    return events


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet (file-source; a directory/glob in
    production — here the single driver file).

    Streaming sources need an explicit schema; derive it from the batch
    parquet footer instead of hardcoding a vintage, then normalize ts
    through the same branch as the batch loader. The footer schema comes
    from `load_table`'s cache, which is keyed on the nanosAsLong conf set
    just before, so only the first call for a file runs an inference job."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    schema = readers.load_table(spark, sf_dir, "events").schema  # pins UTC too
    raw = (
        spark.readStream.schema(schema)
        .format("parquet")
        # basePath must be a directory; the glob selects just the events file
        .option("basePath", sf_dir)
        .load(f"{sf_dir}/events.parque*")
    )
    return normalize_ts(raw)


def tumbling_agg(events: DataFrame, width: str = "10 minutes") -> DataFrame:
    """Tumbling-window rollup — the streaming twin of the batch
    events_tumbling_window catalog query (identical F.window call and
    decimal-snap, so the finite-stream result hash-matches the oracle)."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(27,4)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.unix_timestamp("w.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(
    events: DataFrame, width: str = "10 minutes", slide: str = "5 minutes"
) -> DataFrame:
    """Sliding-window rollup: each event lands in width/slide windows."""
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )


def session_agg(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-window rollup per user: a session extends while events are
    < gap apart — the streaming twin of the batch lag+cumsum
    sessionization."""
    return (
        events.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("session_start_epoch"),
            "user_id",
            "n_events",
        )
    )


def watermarked_tumbling_agg(
    events: DataFrame, width: str = "10 minutes", late: str = "10 minutes"
) -> DataFrame:
    """Tumbling agg with a watermark: state for windows older than the
    watermark is evicted (bounded state at 100 TB/day rates); events later
    than `late` are dropped by policy."""
    return (
        events.withWatermark("ts", late)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.unix_timestamp("w.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )


def stateful_dedup(events: DataFrame, within: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id with watermark-bounded state
    (`dropDuplicatesWithinWatermark`): duplicates arriving within the
    horizon are suppressed, state is evicted beyond it."""
    return events.withWatermark("ts", within).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stateful_user_counts(events: DataFrame) -> DataFrame:
    """Custom stateful operator via `applyInPandasWithState` (SURVEY.md
    §2.10): per-user running event count held in explicit group state.

    Each micro-batch updates the user's state tuple and emits the running
    total; counts are monotone, so the max over emitted rows equals the
    final count regardless of how the file source splits micro-batches —
    that reduction is what makes the operator deterministic and
    oracle-checkable. State is one small tuple per user (bounded by key
    cardinality, the knob that matters at 100 TB/day is the shuffle
    partition count of the state store)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def count_fn(key, pdfs, state: GroupState):
        n = state.get[0] if state.exists else 0
        for pdf in pdfs:
            n += len(pdf)
        state.update((n,))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [n]})

    return events.groupBy("user_id").applyInPandasWithState(
        count_fn,
        outputStructType="user_id long, n_events long",
        stateStructType="n long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def interval_join(
    events: DataFrame,
    left_type: str = "click",
    right_type: str = "purchase",
    within: str = "30 minutes",
    watermark: str = "2 hours",
    events_right: DataFrame | None = None,
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join with a time-range condition: every
    `right_type` event joined to the same user's `left_type` events from
    the preceding `within` interval. Both sides carry watermarks and the
    range condition bounds the buffered state on BOTH sides — Spark can
    evict a click once the purchase-side watermark passes click_ts +
    within, so state stays O(watermark-window of events), not O(stream).

    `events` must be a fresh streaming DataFrame; the two sides are
    derived from it by filter (a supported streaming self-join). Output
    is the exact pair set — append-mode, emitted as matches arrive
    (inner joins need no watermark to EMIT, only to clean state).

    `how="left_outer"` keeps unmatched left events (NULL right columns).
    Outer rows are emitted only when the watermark passes `left_ts +
    within` — the state-eviction point — so on a FINITE replay the
    trailing `watermark + within` of clicks never surfaces unless
    something pushes the watermark past the end of real data. That is
    exactly what `stream_events_with_sentinel` is for: it stages a
    far-future sentinel event into a second file/micro-batch, the engine
    runs its no-data batch (SPARK-24156) with the advanced watermark, and
    every real unmatched click flushes. Callers filter the sentinel rows
    (user_id < 0) out of the result."""
    clicks = (
        events.filter(F.col("event_type") == left_type)
        .select(
            "user_id",
            F.col("event_id").alias("left_id"),
            F.col("ts").alias("left_ts"),
        )
        .withWatermark("left_ts", watermark)
    )
    purchases = (
        (events_right if events_right is not None else events)
        .filter(F.col("event_type") == right_type)
        .select(
            F.col("user_id").alias("r_user_id"),
            F.col("event_id").alias("right_id"),
            F.col("ts").alias("right_ts"),
        )
        .withWatermark("right_ts", watermark)
    )
    pairs = clicks.join(
        purchases,
        F.expr(
            "user_id = r_user_id"
            " AND right_ts >= left_ts"
            f" AND right_ts <= left_ts + interval {within}"
        ),
        how,
    )
    return pairs.select(
        "user_id",
        "left_id",
        "right_id",
        F.unix_micros("left_ts").alias("left_ts_us"),
        F.unix_micros("right_ts").alias("right_ts_us"),
    )


def stream_events_with_sentinel(
    spark: SparkSession,
    sf_dir: str,
    sentinel_types: tuple[str, ...] = ("click", "purchase"),
    horizon_days: int = 365,
) -> DataFrame:
    """readStream over a staged copy of the events parquet PLUS a second
    file holding far-future sentinel rows (user_id = -1, one per type in
    `sentinel_types`, ts = max real ts + `horizon_days`).

    Purpose: finite-replay equivalence for operators that emit on
    WATERMARK ADVANCEMENT (outer joins, append-mode windows). The file
    source reads the files in mtime order under maxFilesPerTrigger=1, so
    the sentinel lands in a second micro-batch; the watermark computed
    from it exceeds every real event's eviction point, and the engine's
    no-data batch then flushes all remaining state. This mirrors what a
    production stream gets for free from continuously-arriving data —
    the sentinel is a test-harness construct, not a scale workaround.

    Both batches are staged through `normalize_ts`, so the staging dir is
    uniform TimestampType whatever vintage the source carries (copying
    the raw ns-vintage file next to a µs sentinel would crash the scan
    with a footer-type mismatch)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    src = f"{sf_dir}/events.parquet"
    batch = normalize_ts(spark.read.parquet(src))
    max_ts = batch.agg(F.max("ts").alias("m")).collect()[0]["m"]
    sentinel = spark.createDataFrame(
        [
            (-(i + 1), max_ts, -1, t, 0.0, "{}")
            for i, t in enumerate(sentinel_types)
        ],
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    ).withColumn("ts", F.col("ts") + F.expr(f"interval {horizon_days} days"))
    staged = batch.withColumn("__batch", F.lit(0)).unionByName(
        sentinel.withColumn("__batch", F.lit(1))
    )
    return stage_batches(spark, staged, "__batch", "events_sentinel_")


def enrich_join(events: DataFrame, dim: DataFrame, on: str = "event_type") -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream joins
    the static dimension (broadcast per batch — the dimension is re-read
    each trigger, so slowly-changing dims stay fresh). The streaming twin
    of the reference's broadcast dim joins (J1-J3)."""
    return events.join(F.broadcast(dim), on)


def stream_quality_audit(
    streaming_df: DataFrame,
    checks: list,
    audit_path: str,
    checkpoint_dir: str,
) -> DataFrame:
    """Per-micro-batch data-quality gate: every batch runs the SAME
    single-pass constraint compilation as the batch engine
    (`operators/quality.row_level_report`) and appends its report —
    stamped with batch_id and row count — to a parquet audit table. The
    streaming twin of `data_quality_orders`: admission decisions (alert,
    quarantine, halt) key off the audit rows, and the report cost per
    batch is one aggregate pass over that batch, nothing cumulative.

    Returns the materialized audit table; one row per (batch, constraint).
    A stream that produced zero micro-batches (cold start on an empty
    source) yields an EMPTY audit table, not a read error."""
    from politicamente_etl_spark.operators.quality import row_level_report

    spark = streaming_df.sparkSession
    seen_batches: list[int] = []

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        seen_batches.append(int(batch_id))
        # rows_col rides the same aggregate as the violation counters —
        # one pass per batch, honoring the quality module's single-scan
        # contract (a separate count() would double the audit cost).
        report = row_level_report(
            batch_df, checks, rows_col="batch_rows"
        ).withColumn("batch_id", F.lit(batch_id).cast("long"))
        # foreachBatch is at-least-once: a retry after a partial append
        # would duplicate this batch's audit rows. Partitioning by
        # batch_id and overwriting ONLY that partition (dynamic mode)
        # makes the replay idempotent — the retry replaces its own
        # partition and touches nothing else.
        (
            report.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(audit_path)
        )

    run_stream(
        streaming_df.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", checkpoint_dir
        )
    )
    try:
        # batch_id is now a partition column; directory-value inference
        # types it int — pin back to long for a stable contract schema.
        # Restrict to THIS run's batches: dynamic overwrite only replaces
        # partitions this run produced, so a reused audit_path would
        # otherwise leak a previous stream's trailing batches into the
        # returned table (code-review finding).
        return (
            spark.read.parquet(audit_path)
            .withColumn("batch_id", F.col("batch_id").cast("long"))
            .filter(F.col("batch_id").isin(seen_batches or [-1]))
        )
    except Exception:
        return spark.createDataFrame(
            [],
            "check_name string, metric long, threshold long, passed boolean,"
            " batch_rows long, batch_id long",
        )


def stream_upsert_sink(
    streaming_df: DataFrame,
    target_path: str,
    keys: list[str],
    checkpoint_dir: str,
) -> DataFrame:
    """foreachBatch sink: upsert each micro-batch into a managed parquet
    table with the same algebra as the batch sinks (sources/sinks.py K1) —
    the standard streaming→warehouse pattern. Each batch is one atomic
    rewrite; exactly-once comes from the checkpoint + idempotent upsert
    (re-applying a replayed batch is a no-op on key conflict).

    At scale the full-table rewrite becomes Delta MERGE; the algebra and
    call sites stay identical."""
    from politicamente_etl_spark.sources.sinks import upsert, write_managed

    spark = streaming_df.sparkSession

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        try:
            existing = spark.read.parquet(target_path)
        except Exception:
            existing = batch_df.limit(0)
        merged = upsert(existing, batch_df.dropDuplicates(keys), keys)
        # localCheckpoint: materialize BEFORE overwriting the files we read
        write_managed(merged.localCheckpoint(), target_path)

    run_stream(
        streaming_df.writeStream.foreachBatch(apply_batch).option(
            "checkpointLocation", checkpoint_dir
        )
    )
    return spark.read.parquet(target_path)


def run_stream(writer: DataStreamWriter) -> StreamingQuery:
    """Start `writer`'s query, drain everything its sources hold and stop
    it; returns the stopped query (its progress stays readable).

    The state-store partition count is taken from
    min(spark.sql.shuffle.partitions, defaultParallelism), set only
    around `start()` (module docstring: the stream runs on a session
    cloned at start and pins the count in its offset log)."""
    spark = writer._spark
    key = "spark.sql.shuffle.partitions"
    old = spark.conf.get(key)
    spark.conf.set(
        key, str(min(int(old), spark.sparkContext.defaultParallelism))
    )
    try:
        q = writer.start()
    finally:
        spark.conf.set(key, old)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return q


def run_stream_to_table(
    streaming_df: DataFrame, mode: str = "complete"
) -> DataFrame:
    """Drive a finite streaming plan to completion through the micro-batch
    engine and return the materialized memory-sink table."""
    name = f"stream_out_{uuid.uuid4().hex[:12]}"
    run_stream(
        streaming_df.writeStream.outputMode(mode).format("memory").queryName(name)
    )
    return streaming_df.sparkSession.table(name)


def _temp_dir(prefix: str) -> str:
    """A fresh temp dir, removed at process exit."""
    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return d


def stage_batches(
    spark: SparkSession, df: DataFrame, batch_col: str, prefix: str
) -> DataFrame:
    """Replay `df` as a file stream with one micro-batch per distinct
    `batch_col` value, in sorted value order; the stream's schema is
    `df`'s without `batch_col`.

    One write job stages the rows into a temp dir (prefix `prefix`,
    removed at exit): coalesce(1) hands every row to one writer task and
    partitionBy(batch_col) splits its output into one file per value.
    (repartition(batch_col) would spread the writers, but AQE runs its
    shuffle as a job of its own.) The file source reads files in mtime
    order under maxFilesPerTrigger=1, so the files' mtimes are pinned in
    value order. A value with no rows stages no file, and so no
    micro-batch. recursiveFileLookup turns partition inference off, so
    the value lives only in the directory names."""
    stage = _temp_dir(prefix)
    df.coalesce(1).write.mode("overwrite").partitionBy(batch_col).parquet(stage)
    typed = int if isinstance(df.schema[batch_col].dataType, IntegralType) else str
    dirs = {}
    for name in os.listdir(stage):
        col, _, value = name.partition("=")
        if col == batch_col:
            dirs[typed(value)] = os.path.join(stage, name)
    for i, value in enumerate(sorted(dirs)):
        t = 1_700_000_000 + 1000 * i
        for name in os.listdir(dirs[value]):
            os.utime(os.path.join(dirs[value], name), (t, t))
    return (
        spark.readStream.schema(df.drop(batch_col).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", "1")
        .option("recursiveFileLookup", "true")
        .load(stage)
    )


def _parity(ev: DataFrame) -> DataFrame:
    """`ev` with `__batch` = event_id parity: even ids stream first."""
    return ev.withColumn("__batch", F.pmod("event_id", F.lit(2)))


def tws_available() -> bool:
    """transformWithStateInPandas needs a working google.protobuf in the
    Python workers (its state-server protocol is protobuf-based); probe it
    so callers/tests can fall back to the GroupState op where the
    dependency is absent (this sandbox ships a broken protobuf install —
    the ImportError surfaces as an opaque 'driver worker crashed')."""
    try:
        from google.protobuf import descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def stateful_user_totals_tws(events: DataFrame) -> DataFrame:
    """Per-user running (count, value-total) via `transformWithStateInPandas`
    (Spark 4's StatefulProcessor API — the successor to
    applyInPandasWithState used by `stateful_user_counts`): explicit named
    state handles (ValueState here; the API also offers List/MapState and
    per-key timers, which the GroupState API could not express), Arrow
    batch transfer, state evolution across query restarts. Requires the
    RocksDB state-store provider and protobuf in the Python workers —
    check `tws_available()` first; `stateful_user_counts` is the
    dependency-free GroupState twin.

    Semantics twin of stateful_user_counts plus a value total: each
    micro-batch folds its rows into the user's ValueState and emits the
    running pair. Totals are monotone under non-negative values, so the
    per-user max over emissions equals the final answer regardless of
    micro-batch splits — the same determinism argument as the GroupState
    op, which is what the batch-equivalence test asserts."""
    if not tws_available():
        raise RuntimeError(
            "transformWithStateInPandas requires google.protobuf in the "
            "Python workers; use stateful_user_counts (GroupState) instead"
        )
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState("totals", "n LONG, v DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, v = self._state.get()
            else:
                n, v = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                v += float(pdf["value"].sum())
            self._state.update((n, v))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [v]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningTotals(),
        outputStructType="user_id long, n_events long, total_value double",
        outputMode="Update",
        timeMode="None",
    )


def stream_cdc_changelog(
    spark: SparkSession,
    sf_dir: str,
    group_col: str = "event_type",
) -> DataFrame:
    """Incremental view maintenance through the streaming engine: the
    events feed arrives in TWO deterministic micro-batches (split by
    event_id parity, batch order pinned via file mtimes), and each batch
    updates a running per-group count table via `cdc.snapshot_diff` —
    emitting the CHANGELOG (old value → new value per key per batch) that
    a downstream incremental consumer (cache, OLAP cube, alerting) would
    subscribe to instead of re-reading the view.

    This is the foreachBatch + snapshot_diff composition: the SAME batch
    CDC operator maintains the streaming view, so its semantics (NULL-safe
    compare, insert/update/delete) are already verified batch-side.

    State lives in TWO commit-log tables, never in driver memory
    (VERDICT r4 #3 — the earlier form collect()ed the view per batch,
    valid only for bounded group domains):

    - the VIEW table holds the per-batch count DELTAS, appended with
      ``txn_id=batch_id`` so a foreachBatch redelivery is a no-op
      (exactly-once, the streaming_lakehouse_roundtrip mechanism). The
      view "old" snapshot is a distributed aggregate over the table's
      parquet — works for per-user/per-doc key domains, not just
      event_type, and compacts via checkpoint()/optimize().
    - the CHANGELOG table receives each batch's snapshot_diff rows,
      also txn-idempotent; the operator's return value is simply this
      table's snapshot. Downstream consumers tail it with
      ``table_changes`` instead of re-reading the view.

    Returns the changelog: (batch_id, group, old_n, new_n, change_type).
    Deterministic end-to-end — every row is oracle-checkable."""
    from politicamente_etl_spark.operators import cdc
    from politicamente_etl_spark.sources.txlog import TxLogTable

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", group_col
    )
    raw = stage_batches(spark, _parity(ev), "__batch", "events_cdc_")
    stage = _temp_dir("events_cdc_state_")

    empty_view = spark.createDataFrame([], f"{group_col} string, n long")
    view = TxLogTable.create(spark, os.path.join(stage, "_view"), empty_view)
    clog = TxLogTable.create(
        spark,
        os.path.join(stage, "_changelog"),
        spark.createDataFrame(
            [],
            f"{group_col} string, batch_id long, old_n long, new_n long,"
            " change_type string",
        ),
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        delta = batch_df.groupBy(group_col).agg(
            F.count("*").cast("long").alias("n")
        )
        # distributed view read: aggregate the appended deltas — no
        # driver-side state, scales to unbounded key domains
        old = (
            view.snapshot()
            .groupBy(group_col)
            .agg(F.sum("n").cast("long").alias("n"))
        )
        new = (
            old.unionByName(delta)
            .groupBy(group_col)
            .agg(F.sum("n").cast("long").alias("n"))
        )
        changes = (
            cdc.snapshot_diff(old, new, [group_col], ["n"])
            .withColumn("batch_id", F.lit(batch_id).cast("long"))
            .select(
                group_col,
                "batch_id",
                F.col("old_n").cast("long").alias("old_n"),
                F.col("new_n").cast("long").alias("new_n"),
                "change_type",
            )
        )
        # changelog first (append stages the read of the CURRENT view
        # files), then the view delta — both txn-idempotent, so a
        # foreachBatch redelivery replays as two no-ops (exactly-once)
        clog.append(changes, txn_id=f"cdc-changes-{batch_id}")
        view.append(delta, txn_id=f"cdc-delta-{batch_id}")

    run_stream(
        raw.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(stage, "_ckpt"))
    )
    # lazy read of the changelog table (tempdir lives until process
    # exit); unlike the view-in-memory form there is NO collect anywhere
    return clog.snapshot().select(
        group_col,
        "batch_id",
        F.col("old_n").cast("long").alias("old_n"),
        F.col("new_n").cast("long").alias("new_n"),
        "change_type",
    )


def stream_txlog_exactly_once(spark, sf_dir: str) -> DataFrame:
    """Structured Streaming → commit-log table with EXACTLY-ONCE table
    contents on top of foreachBatch's at-least-once delivery.

    foreachBatch may re-deliver a micro-batch after a partial failure
    (the round-3 advice flagged precisely this for the quality audit's
    plain append). The fix here is structural, not read-time dedup: each
    micro-batch appends through `TxLogTable.append(txn_id=batch_id)`,
    and the commit log refuses a txn_id it has already committed — the
    same appId/version mechanism Delta uses for streaming sinks. To
    PROVE it, this pipeline appends every batch TWICE (a simulated
    retry); the second offer must be a no-op, and the final table must
    hold each input row exactly once, which the driver's oracle checks
    against the raw events table.

    Two deterministic micro-batches (events split by parity — same
    staging as stream_cdc_changelog). Returns the final snapshot rolled
    up by event_type with integer checksums, plus the commit count so a
    silent duplicate commit would flip the row even if the rollup
    happened to agree."""
    from politicamente_etl_spark.sources.txlog import TxLogTable

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "event_type"
    )
    raw = stage_batches(spark, _parity(ev), "__batch", "events_txlog_")
    stage = _temp_dir("events_txlog_state_")
    table_path = os.path.join(stage, "table")
    state: dict[str, TxLogTable] = {}

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.select("event_id", "event_type")
        if "t" not in state:
            state["t"] = TxLogTable.create(spark, table_path, rows)
            # create() has no txn slot; a retry of batch 0 lands below
            # and is refused by the same txn gate
            state["t"].append(rows.limit(0), txn_id=f"batch-{batch_id}")
        else:
            state["t"].append(rows, txn_id=f"batch-{batch_id}")
        # simulated at-least-once redelivery: MUST be a no-op
        state["t"].append(rows, txn_id=f"batch-{batch_id}")

    run_stream(
        raw.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", os.path.join(stage, "_ckpt"))
    )
    t = state["t"]
    n_commits = len(t.history())
    return (
        t.snapshot()
        .groupBy("event_type")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum("event_id").cast("long").alias("id_sum"),
        )
        .withColumn("n_commits", F.lit(n_commits).cast("int"))
    )


def stream_hll_register_merge(
    spark: SparkSession,
    sf_dir: str,
    value_col: str = "user_id",
    b: int = 6,
) -> DataFrame:
    """Incremental sketch maintenance through the streaming engine: the
    events feed arrives in two deterministic micro-batches (same
    parity-split, mtime-pinned staging as stream_cdc_changelog) and each
    batch MAX-merges its HyperLogLog registers (operators/agg.py:
    hll_registers — engine-exact md5 arithmetic) into a running register
    table. Because register merge is max() — idempotent AND commutative —
    a replayed or reordered batch cannot corrupt the sketch: this sink
    is exactly-once WITHOUT txn ids or idempotent writes, the property
    that makes sketch state the cheapest kind of streaming state to
    operate at 100 TB (contrast stream_upsert_sink's keyed rewrite).

    State is 2^b rows, constant in the stream length. Returns the final
    register table (bucket, max_rho): provably equal to the batch
    registers over the whole feed — which is exactly what the driver
    oracle checks."""
    from politicamente_etl_spark.operators.agg import hll_registers

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", value_col
    )
    raw = stage_batches(spark, _parity(ev), "__batch", "events_hll_")
    state: dict[str, DataFrame] = {
        "regs": spark.createDataFrame([], "bucket long, max_rho int")
    }

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        regs = hll_registers(batch_df, value_col, b=b)
        state["regs"] = (
            state["regs"]
            .unionByName(regs)
            .groupBy("bucket")
            .agg(F.max("max_rho").cast("int").alias("max_rho"))
            .localCheckpoint()
        )

    run_stream(
        raw.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", _temp_dir("events_hll_ckpt_"))
        .trigger(availableNow=True)
    )
    return state["regs"]


def stream_events_time_halves(
    spark: SparkSession,
    sf_dir: str,
    predicate=None,
) -> DataFrame:
    """Events as TWO time-ordered micro-batches (first/second half by the
    median event ts, one file per half, mtime-pinned order — the same
    deterministic staging as stream_cdc_changelog but split on TIME, for
    stateful operators whose recurrence is order-sensitive: the ingest
    contract 'files arrive in event-time order' made literal.

    ``predicate`` (r9 opt, guide §2.3 "shuffle fewer bytes" applied to the
    staging write): when the downstream stateful operator provably ignores
    rows failing a filter it re-applies itself (stateful_alert_ttl drops
    value < threshold before the state op), staging only the qualifying
    rows writes/reads/streams a fraction of the bytes with an identical
    emission set — the rows never reached the operator's state fold either
    way. Time-ordering across batches is preserved for any subset: the
    median split point moves, but every batch-a row still precedes every
    batch-b row in event time."""
    ev = normalize_ts(
        spark.read.parquet(f"{sf_dir}/events.parquet")
    ).select("event_id", "user_id", "ts", "value")
    if predicate is not None:
        # One scan instead of two: the median job and the staging write
        # would each re-run scan+filter; pin the (small) qualifying set
        # once. Unfiltered callers keep the plain scan — re-reading a
        # single parquet file twice is cheaper than holding it on-heap.
        ev = ev.filter(predicate).localCheckpoint()
    mid = ev.agg(
        F.expr("percentile(unix_micros(ts), 0.5)").cast("long").alias("m")
    ).collect()[0]["m"]
    # An all-ties edge (empty second half) stages no file for it; a
    # missing and an empty micro-batch are both no-op state folds, so
    # emissions are identical.
    half = F.when(F.expr("unix_micros(ts)") <= F.lit(mid), 0).otherwise(1)
    return stage_batches(
        spark, ev.withColumn("__half", half), "__half", "events_halves_"
    )


def stateful_holt_user_value(events: DataFrame) -> DataFrame:
    """Streaming Holt level+trend per user over the event value series —
    the order-sensitive stateful operator: explicit GroupState carries
    (n, level, trend), each micro-batch folds its rows in (ts, event_id)
    order with the SAME integer recurrence as the batch
    `stats.holt_winters_level_trend` (α=0.2, β=0.1 in tenths, python //
    floor division == the engines' pmod trick), and emits the running
    state. n is monotone, so max-by-n per user reduces the update-mode
    emissions to the final state — which must equal the batch fold over
    the whole ordered series, PROVING the state hand-off across
    micro-batch boundaries (the staging guarantees batches arrive in
    event-time order; that ingest contract is what makes any streaming
    recurrence well-defined).

    State is one 3-tuple per user; at 100 TB/day the knob is the state
    store's shuffle partitioning, same as stateful_user_counts."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def holt_fn(key, pdfs, state: GroupState):
        n, l, b = state.get if state.exists else (0, 0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        for v in rows["vm"]:
            v = int(v)
            if n == 0:
                l, b = v, 0
            else:
                lnew = (2 * v + 8 * (l + b)) // 10
                b = ((lnew - l) + 9 * b) // 10
                l = lnew
            n += 1
        state.update((n, l, b))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_obs": [n],
                "level": [l],
                "trend": [b],
            }
        )

    prepped = events.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value").cast("double") * 1000).cast("long").alias("vm"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        holt_fn,
        outputStructType="user_id long, n_obs long, level long, trend long",
        stateStructType="n long, l long, b long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_cusum_user_value(
    events: DataFrame,
    slack: int = 50_000,
    threshold: int = 400_000,
) -> DataFrame:
    """Streaming two-sided CUSUM detector per user (Page 1954) — the
    ONLINE sibling of the batch `stats.cusum_changepoint` (which needs
    the whole series for its argmax; the online form needs only O(1)
    state). Per user, with the FIRST observation as the reference
    baseline and integer milli values:

        s_hi ← max(0, s_hi + v − (base + slack))    upward drift
        s_lo ← max(0, s_lo + (base − slack) − v)    downward drift

    crossing `threshold` raises an alarm and resets that accumulator
    (the standard restart-after-signal convention). State is one
    5-tuple per user in explicit GroupState; each micro-batch folds its
    rows in (ts, event_id) order, so across the time-ordered staging
    the final state must equal the batch fold — the same
    state-hand-off proof contract as stateful_holt_user_value.

    At scale the state store shards by user hash like every stateful
    op here; alarms-so-far is monotone in n, so max-by-n per user
    collapses update-mode emissions to the final state."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def cusum_fn(key, pdfs, state: GroupState):
        n, base, s_hi, s_lo, alarms = (
            state.get if state.exists else (0, 0, 0, 0, 0)
        )
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
        for v in rows["vm"]:
            v = int(v)
            if n == 0:
                base = v
            else:
                nh = max(0, s_hi + v - base - slack)
                nl = max(0, s_lo + base - slack - v)
                alarms += (1 if nh > threshold else 0) + (
                    1 if nl > threshold else 0
                )
                s_hi = 0 if nh > threshold else nh
                s_lo = 0 if nl > threshold else nl
            n += 1
        state.update((n, base, s_hi, s_lo, alarms))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_obs": [n],
                "base": [base],
                "s_hi": [s_hi],
                "s_lo": [s_lo],
                "n_alarms": [alarms],
            }
        )

    prepped = events.select(
        "user_id",
        "ts",
        "event_id",
        F.floor(F.col("value").cast("double") * 1000).cast("long").alias("vm"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        cusum_fn,
        outputStructType=(
            "user_id long, n_obs long, base long, s_hi long,"
            " s_lo long, n_alarms long"
        ),
        stateStructType="n long, base long, s_hi long, s_lo long, a long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_custom_sessions(
    events: DataFrame,
    gap_us: int = 21_600_000_000,
) -> DataFrame:
    """Custom stateful sessionizer: per user, consecutive events closer
    than `gap_us` belong to one session; a larger gap CLOSES the
    running session and emits it (start, end, n_events). The running
    session rides explicit GroupState across micro-batches — the proof
    obligation is that a session spanning the batch boundary must NOT
    split, which the built-in `session_window` (streaming_session_window)
    gets from engine state and this operator gets from ours. Each
    user's final session stays open in state and is never emitted, so
    the output is exactly the set of GAP-CLOSED sessions — a
    deterministic relation whatever the trigger cadence.

    State per user is one (start, last, n) triple; the state store
    shards by user hash like every stateful op here.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def session_fn(key, pdfs, state: GroupState):
        start, last, n = state.get if state.exists else (0, 0, 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["t_us", "event_id"], kind="mergesort")
        out_start, out_end, out_n = [], [], []
        for t in rows["t_us"]:
            t = int(t)
            if n == 0:
                start, last, n = t, t, 1
            elif t - last > gap_us:
                out_start.append(start)
                out_end.append(last)
                out_n.append(n)
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        state.update((start, last, n))
        yield pd.DataFrame(
            {
                "user_id": [key[0]] * len(out_start),
                "start_us": out_start,
                "end_us": out_end,
                "n_events": out_n,
            }
        )

    prepped = events.select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").cast("long").alias("t_us"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        session_fn,
        outputStructType=(
            "user_id long, start_us long, end_us long, n_events long"
        ),
        stateStructType="s long, l long, n long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stateful_alert_ttl(
    events: DataFrame,
    threshold: float = 100.0,
    ttl_us: int = 3_600_000_000,
) -> DataFrame:
    """Streaming twin of the batch `alert_ttl_suppression` rule: an
    event with value ≥ threshold fires only if the user's PREVIOUS
    qualifying event is ≥ ttl older; otherwise it is suppressed. State
    is ONE long per user — the last qualifying event's timestamp —
    exactly what the batch lag() reads, so the streaming emission set
    must equal the batch window's (the batch-equivalence proof pattern
    of stateful_holt_user_value; requires the event-time-ordered
    ingest staging, stream_events_time_halves).

    Emits one row per qualifying event: (event_id, fired 0/1), append
    mode. Enrichment (event_type rollup) happens batch-side on the
    event-grain output — state stays a single timestamp per user, the
    minimal footprint for a TTL rule at 100 TB/day."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def ttl_fn(key, pdfs, state: GroupState):
        (prev,) = state.get if state.exists else (-(1 << 62),)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["t_us", "event_id"], kind="mergesort")
        ids, fired = [], []
        for eid, t in zip(rows["event_id"], rows["t_us"]):
            t = int(t)
            ids.append(int(eid))
            fired.append(1 if t - prev >= ttl_us else 0)
            prev = t
        state.update((prev,))
        yield pd.DataFrame({"event_id": ids, "fired": fired})

    prepped = events.filter(F.col("value") >= threshold).select(
        "user_id",
        "event_id",
        F.expr("unix_micros(ts)").cast("long").alias("t_us"),
    )
    return prepped.groupBy("user_id").applyInPandasWithState(
        ttl_fn,
        outputStructType="event_id long, fired long",
        stateStructType="p long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
