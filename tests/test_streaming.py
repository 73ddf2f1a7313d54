"""Streaming semantics tests beyond the oracle suite: batch equivalence
and genuine multi-batch watermark behavior (late-data eviction), which a
single-file replay can't show.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from politicamente_etl_spark.plans.catalog import CATALOG
from politicamente_etl_spark.streaming import windows as W
from politicamente_etl_spark.testing import spark_jobs


def test_stream_equals_batch_tumbling(spark, sf_dir):
    stream_out = (
        W.run_stream_to_table(W.tumbling_agg(W.stream_events(spark, sf_dir)))
        .toPandas()
        .sort_values(["window_start_epoch", "event_type"])
        .reset_index(drop=True)
    )
    batch_out = (
        CATALOG["events_tumbling_window"]
        .fn(spark, sf_dir)
        .toPandas()
        .sort_values(["window_start_epoch", "event_type"])
        .reset_index(drop=True)
    )
    assert stream_out.equals(batch_out)


def test_stream_events_warm_call_runs_no_job(spark, sf_dir):
    """The stream's schema comes from load_table's footer-schema cache: a
    warm stream_events runs no Spark job (an uncached footer read runs an
    inference job on every call)."""
    W.stream_events(spark, sf_dir)  # warm
    _, jobs = spark_jobs(spark, "probe:stream_events", lambda: W.stream_events(spark, sf_dir))
    assert jobs == 0


def test_watermark_two_batches(spark, tmp_path):
    """Drive two micro-batches (maxFilesPerTrigger=1) so the watermark
    actually advances: batch 2 carries an event 2 hours late — beyond the
    10-minute watermark — whose window was already finalized in append mode,
    so it must be dropped, while batch 2's on-time event appears."""
    import pandas as pd

    d = tmp_path / "stream_src"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 10:00:00")

    def ns(ts):
        return int(ts.value)

    b1 = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": [ns(base), ns(base + pd.Timedelta("5min")), ns(base + pd.Timedelta("2h"))],
            "user_id": [1, 1, 1],
            "event_type": ["click"] * 3,
            "value": [1.0, 1.0, 1.0],
            "props": ["{}"] * 3,
        }
    )
    b2 = pd.DataFrame(
        {
            "event_id": [4, 5],
            # event 4 is ON TIME (near the stream's max); event 5 is 2h LATE
            "ts": [ns(base + pd.Timedelta("2h5min")), ns(base + pd.Timedelta("1min"))],
            "user_id": [1, 1],
            "event_type": ["click", "late"],
            "value": [1.0, 1.0],
            "props": ["{}"] * 2,
        }
    )
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(
        pa.Table.from_pandas(b1.assign(ts=pd.to_datetime(b1.ts)), schema=schema),
        d / "batch1.parquet",
    )
    pq.write_table(
        pa.Table.from_pandas(b2.assign(ts=pd.to_datetime(b2.ts)), schema=schema),
        d / "batch2.parquet",
    )
    # Batch order follows file modification time — pin it explicitly.
    import os
    import time

    now = time.time()
    os.utime(d / "batch1.parquet", (now - 60, now - 60))
    os.utime(d / "batch2.parquet", (now, now))

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(W.EVENTS_NANOS)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    agg = W.watermarked_tumbling_agg(ev, width="10 minutes", late="10 minutes")
    name = "wm_test_out"
    q = (
        agg.writeStream.outputMode("append").format("memory").queryName(name).start()
    )
    q.processAllAvailable()
    progress = [
        (p["batchId"], p["eventTime"].get("watermark")) for p in q.recentProgress
    ]
    q.stop()
    out = spark.table(name).toPandas()

    # Guaranteed watermark semantics (observed: late-data *dropping* for
    # aggregations is best-effort in Spark, so we don't assert it):
    # 1. the watermark advanced across batches (10-min delay behind max ts)
    watermarks = [w for _, w in progress if w and not w.startswith("1970")]
    assert "2024-01-01T11:50:00.000Z" in watermarks  # after batch 1
    # 2. append mode emitted the finalized 10:00-10:10 window...
    emitted = set(zip(out.window_start_epoch, out.event_type, out.n_events))
    epoch_1000 = int(pd.Timestamp("2024-01-01 10:00:00").timestamp())
    assert (epoch_1000, "click", 2) in emitted  # events 1+2, finalized
    # 3. ...and did NOT emit the still-open 12:00-12:10 window (its end is
    # beyond the final watermark → state retained, nothing emitted)
    epoch_1200 = int(pd.Timestamp("2024-01-01 12:00:00").timestamp())
    assert not any(e == epoch_1200 for e, _, _ in emitted)


def test_session_merge_semantics(spark, tmp_path):
    """Two events 29 min apart share a session; 31 min apart split."""
    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "sess_src"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 10:00:00")
    rows = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                [base, base + pd.Timedelta("29min"), base + pd.Timedelta("65min")]
            ),
            "user_id": [7, 7, 7],
            "event_type": ["click"] * 3,
            "value": [1.0] * 3,
            "props": ["{}"] * 3,
        }
    )
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("ns")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    pq.write_table(pa.Table.from_pandas(rows, schema=schema), d / "a.parquet")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = spark.readStream.schema(W.EVENTS_NANOS).format("parquet").load(str(d))
    ev = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    out = W.run_stream_to_table(W.session_agg(ev, gap="30 minutes")).toPandas()
    sessions = sorted(out.n_events.tolist())
    assert sessions == [1, 2]  # events 1+2 merged, event 3 alone


def test_stream_upsert_sink_foreachbatch(spark, sf_dir, tmp_path):
    """foreachBatch upsert sink: after a finite replay, the managed table
    holds exactly one row per key — same result as batch dedup."""
    from pyspark.sql import functions as F

    from politicamente_etl_spark.plans.catalog import load_events
    from politicamente_etl_spark.streaming import windows as W

    stream = W.stream_events(spark, sf_dir).select("event_id", "user_id", "value")
    out = W.stream_upsert_sink(
        stream,
        str(tmp_path / "events_table"),
        keys=["event_id"],
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    batch = load_events(spark, sf_dir)
    assert out.count() == batch.select("event_id").distinct().count()
    assert out.groupBy("event_id").count().filter(F.col("count") > 1).count() == 0


def test_stateful_counts_persist_across_batches(spark, tmp_path):
    """applyInPandasWithState must CARRY state between micro-batches: user
    7 sends 2 events in batch 1 and 3 in batch 2 — the update-mode output
    of batch 2 must show the running total 5, not a fresh count of 3.
    Fixtures are timestamp[us] (the driver's vintage), exercising the
    NTZ branch of normalize_ts."""
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path / "state_src"
    d.mkdir()
    base = pd.Timestamp("2024-01-01 10:00:00")
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )

    def write(name, rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [base + pd.Timedelta(minutes=r[1]) for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), d / name)

    write("b1.parquet", [(1, 0, 7), (2, 1, 7), (3, 2, 9)])
    write("b2.parquet", [(4, 10, 7), (5, 11, 7), (6, 12, 7)])
    now = time.time()
    os.utime(d / "b1.parquet", (now - 60, now - 60))
    os.utime(d / "b2.parquet", (now, now))

    raw = (
        spark.readStream.schema(
            spark.read.parquet(str(d / "b1.parquet")).schema
        )
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    ev = W.normalize_ts(raw)
    out_name = "stateful_counts_out"
    q = (
        W.stateful_user_counts(ev)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(out_name)
        .start()
    )
    q.processAllAvailable()
    n_batches = len([p for p in q.recentProgress if p["numInputRows"] > 0])
    q.stop()
    rows = spark.table(out_name).collect()

    assert n_batches >= 2  # the file source really split the replay
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append(r.n_events)
    # running totals are monotone; final max is the all-time count
    assert max(per_user[7]) == 5  # 2 (batch 1) + 3 (batch 2) — state carried
    assert max(per_user[9]) == 1
    # batch-1 emission for user 7 must be the partial count, proving the
    # final 5 came from state + batch-2 rows, not a re-read of everything
    assert 2 in per_user[7]


def test_transform_with_state_running_totals(spark, tmp_path):
    """The StatefulProcessor (transformWithStateInPandas) twin of the
    GroupState op: state carries across micro-batches, emitting monotone
    running (count, value-total) pairs per user. Skipped where the
    sandbox's protobuf install is broken (the API's state-server protocol
    needs it); the guard itself is tested either way."""
    if not W.tws_available():
        with pytest.raises(RuntimeError, match="protobuf"):
            W.stateful_user_totals_tws(spark.range(1).toDF("user_id"))
        pytest.skip("google.protobuf unavailable: transformWithState needs it")
    import os
    import time

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path
    schema = pa.schema(
        [
            ("event_id", pa.int64()),
            ("ts", pa.timestamp("us")),
            ("user_id", pa.int64()),
            ("event_type", pa.string()),
            ("value", pa.float64()),
            ("props", pa.string()),
        ]
    )
    base = pd.Timestamp("2024-01-01")

    def write(name, rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [base + pd.Timedelta(minutes=r[1]) for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": ["click"] * len(rows),
                "value": [float(r[3]) for r in rows],
                "props": ["{}"] * len(rows),
            }
        )
        pq.write_table(pa.Table.from_pandas(pdf, schema=schema), d / name)

    write("b1.parquet", [(1, 0, 7, 2.0), (2, 1, 7, 3.0), (3, 2, 9, 1.0)])
    write("b2.parquet", [(4, 10, 7, 5.0)])
    now = time.time()
    os.utime(d / "b1.parquet", (now - 60, now - 60))
    os.utime(d / "b2.parquet", (now, now))

    raw = (
        spark.readStream.schema(spark.read.parquet(str(d / "b1.parquet")).schema)
        .format("parquet")
        .option("maxFilesPerTrigger", 1)
        .load(str(d))
    )
    ev = W.normalize_ts(raw)
    out_name = "tws_totals_out"
    q = (
        W.stateful_user_totals_tws(ev)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName(out_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = spark.table(out_name).collect()
    per_user = {}
    for r in rows:
        per_user.setdefault(r.user_id, []).append((r.n_events, r.total_value))
    assert max(per_user[7]) == (3, 10.0)  # 2+3 (batch 1) + 5 (batch 2)
    assert max(per_user[9]) == (1, 1.0)
    # batch-1 emission proves state carry, not an all-data re-read
    assert (2, 5.0) in per_user[7]


# ---------------------------------------------------------------------------
# run_stream / stage_batches: the one runner and the one micro-batch stager
# ---------------------------------------------------------------------------


def _label(what: str) -> str:
    import uuid

    return f"{what}-{uuid.uuid4().hex[:8]}"


def test_spark_jobs_counts_micro_batch_jobs(spark, sf_dir):
    """The job group does not reach a stream's micro-batch thread, the
    job tag does: spark_jobs around a stateful stream counts its jobs."""
    from politicamente_etl_spark.testing import spark_jobs

    ev = W.stream_events(spark, sf_dir)
    _, jobs = spark_jobs(
        spark,
        _label("stream-jobs"),
        lambda: W.run_stream_to_table(W.stateful_user_counts(ev), "update"),
    )
    assert jobs >= 1


def test_run_stream_sizes_state_partitions_to_parallelism(
    spark, sf_dir, tmp_path
):
    """Under a 200-partition session a stateful query started through
    run_stream gets defaultParallelism state partitions, the session conf
    is left as it was, and a restart from the same checkpoint keeps the
    first count whatever the conf says then."""
    key = "spark.sql.shuffle.partitions"
    par = spark.sparkContext.defaultParallelism
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_id", "user_id"
    )
    src = tmp_path / "src"
    ev.filter("event_id % 2 = 0").write.parquet(str(src / "a"))
    stream = (
        spark.readStream.schema(ev.schema)
        .option("recursiveFileLookup", "true")
        .parquet(str(src))
    )

    def state_partitions(conf: str) -> int:
        spark.conf.set(key, conf)
        q = W.run_stream(
            W.stateful_user_counts(stream)
            .writeStream.format("noop")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
        )
        return q.lastProgress["stateOperators"][0]["numShufflePartitions"]

    old = spark.conf.get(key)
    try:
        assert state_partitions("200") == par
        assert spark.conf.get(key) == "200"
        ev.filter("event_id % 2 = 1").write.parquet(str(src / "b"))
        assert state_partitions(str(max(1, par // 2))) == par
    finally:
        spark.conf.set(key, old)


def test_stage_batches_one_write_job_in_value_order(spark, sf_dir, tmp_path):
    """Staging is one write job (the parity stagers ran two), and the
    batches arrive in batch-value order: integral values sort as numbers,
    so 2 streams before 10."""
    from politicamente_etl_spark.testing import spark_jobs

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    df = ev.withColumn(
        "b", F.when(F.col("event_id") % 2 == 0, 10).otherwise(2)
    )
    stream, jobs = spark_jobs(
        spark,
        _label("stage-batches"),
        lambda: W.stage_batches(spark, df, "b", "stage_order_"),
    )
    assert jobs == 1
    assert stream.columns == ["event_id"]

    seen: list[set[int]] = []
    W.run_stream(
        stream.writeStream.foreachBatch(
            lambda b, _: seen.append({r.event_id % 2 for r in b.collect()})
        ).option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    assert seen == [{1}, {0}]


def test_stage_batches_skips_values_without_rows(spark, sf_dir, tmp_path):
    """A batch value with no rows stages no file, so no micro-batch."""
    import glob
    import os
    import tempfile

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select("event_id")
    prefix = _label("stage_empty") + "_"
    df = ev.withColumn("half", F.when(F.col("event_id") >= 0, 0).otherwise(1))
    stream = W.stage_batches(spark, df, "half", prefix)
    [stage] = glob.glob(os.path.join(tempfile.gettempdir(), prefix + "*"))
    files = [
        os.path.relpath(os.path.join(d, f), stage)
        for d, _, fs in os.walk(stage)
        for f in fs
        if f.endswith(".parquet")
    ]
    assert [os.path.dirname(f) for f in files] == ["half=0"]

    sizes: list[int] = []
    W.run_stream(
        stream.writeStream.foreachBatch(
            lambda b, _: sizes.append(b.count())
        ).option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    assert sizes == [ev.count()]


def test_time_halves_stage_only_predicate_rows(spark, sf_dir):
    """With a predicate, the time-halves stager streams only the rows
    that pass it."""
    keep = F.col("value") >= 100.0
    out = W.run_stream_to_table(
        W.stream_events_time_halves(spark, sf_dir, predicate=keep), "append"
    )
    n_batch = (
        spark.read.parquet(f"{sf_dir}/events.parquet").filter(keep).count()
    )
    assert out.count() == n_batch
    assert out.filter(~keep).count() == 0
