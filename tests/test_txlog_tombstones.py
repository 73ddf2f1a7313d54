"""Merge-on-read logical deletes (key tombstones) on the commit-log
table: delete-without-rewrite, time travel, re-insert-after-delete,
materialization through optimize, checkpoint and shallow-clone carry,
restore-undo, and interplay with scan predicates."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from politicamente_etl_spark.sources.txlog import TxLogTable


def _mk(spark, path, n=100):
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return TxLogTable.create(spark, str(path), df)


def test_logical_delete_rewrites_nothing_and_filters_reads(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    files_before = set(t._state().files)
    m = t.delete_where_logical("k", [3, 7, 50])
    assert m["delete_stats"]["files_rewritten"] == 0
    assert set(t._state().files) == files_before  # zero data movement
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [k for k in range(1, 101) if k not in (3, 7, 50)]
    # physically still on disk (merge-on-read, not copy-on-write)
    raw = spark.read.parquet(
        *[os.path.join(t.path, f) for f in t._state().files]
    )
    assert raw.count() == 100
    # time travel to v1 sees everything
    assert t.snapshot(version=1).count() == 100
    # scan applies tombstones after pruning
    assert sorted(r.k for r in t.scan({"k": (1, 10)}).collect()) == [
        1, 2, 4, 5, 6, 8, 9, 10,
    ]


def test_reinsert_after_logical_delete_survives(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", [5, 6])
    batch = spark.createDataFrame([(5, 555)], "k long, v long")
    t.merge(batch, ["k"])
    rows = {r.k: r.v for r in t.snapshot().collect()}
    assert rows[5] == 555  # re-inserted row postdates the tombstone
    assert 6 not in rows  # untouched tombstoned key stays deleted
    assert len(rows) == 99


def test_optimize_materializes_tombstones(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", [10, 20])
    t.optimize(target_file_bytes=1 << 30)  # everything is "small"
    # rewritten files physically lack the tombstoned rows
    raw = spark.read.parquet(
        *[os.path.join(t.path, f) for f in t._state().files]
    )
    ks = sorted(r.k for r in raw.collect())
    assert 10 not in ks and 20 not in ks and len(ks) == 98
    assert t.snapshot().count() == 98


def test_checkpoint_carries_tombstones(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", [1])
    t.checkpoint()
    t2 = TxLogTable(spark, t.path)
    assert t2.snapshot().count() == 99
    ts = t2._state().tombstones
    assert ts and ts[0][1] == "k" and 1 in ts[0][2]


def test_clone_carries_tombstones_and_reinsert_ordering(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", [5, 6])
    t.merge(spark.createDataFrame([(5, 555)], "k long, v long"), ["k"])
    c = t.clone_shallow(str(tmp_path / "c"))
    rows = {r.k: r.v for r in c.snapshot().collect()}
    # the clone must reproduce the source head EXACTLY: 6 deleted,
    # re-inserted 5 alive (ordering survived the re-rooting)
    assert rows[5] == 555 and 6 not in rows and len(rows) == 99


def test_restore_to_pre_delete_version_undoes_logical_delete(
    spark, tmp_path
):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", [42])
    assert t.snapshot().count() == 99
    t.restore(1)
    assert t.snapshot().count() == 100  # re-added files postdate the
    assert t.snapshot(version=2).count() == 99  # tombstone; history intact


def test_cdf_sees_logical_delete_as_row_deletes(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", [2, 4])
    ch = t.table_changes(1, 2, ["k"], ["v"])
    ops = {r.k: r["change_type"] for r in ch.collect()}
    assert set(ops.items()) >= {(2, "delete"), (4, "delete")}


def test_random_interleavings_match_dict_model(spark, tmp_path):
    """Deterministic pseudo-random interleaving of logical deletes,
    merges, and optimize against a plain dict model: the snapshot must
    equal the model after every step (the whole merge-on-read contract
    in one sweep)."""
    import hashlib

    t = _mk(spark, tmp_path / "t", n=60)
    model = {k: k * 10 for k in range(1, 61)}
    for step in range(8):
        h = int(hashlib.md5(f"ts-ops:{step}".encode()).hexdigest()[:8], 16)
        op = h % 3
        ks = sorted({(h >> (4 * i)) % 60 + 1 for i in range(3)})
        if op == 0:
            live = [k for k in ks if k in model]
            if live:
                t.delete_where_logical("k", live)
                for k in live:
                    del model[k]
        elif op == 1:
            batch = [(k, k * 100 + step) for k in ks]
            t.merge(
                spark.createDataFrame(batch, "k long, v long"), ["k"]
            )
            model.update({k: v for k, v in batch})
        else:
            t.optimize(target_file_bytes=1 << 30)
        got = {r.k: r.v for r in t.snapshot().collect()}
        assert got == model, f"diverged at step {step} (op {op})"


def test_check_constraints_gate_appends_and_merges(spark, tmp_path):
    """CHECK constraints reject the WHOLE violating batch atomically,
    pass clean batches, time-travel with the log, and drop cleanly."""
    import pytest as _pytest

    from politicamente_etl_spark.sources.txlog import ConstraintViolation

    t = _mk(spark, tmp_path / "t", n=10)
    t.set_constraint("v_nonneg", "v >= 0 AND v IS NOT NULL")
    bad = spark.createDataFrame(
        [(11, -1), (12, 5), (13, None)], "k long, v long"
    )
    with _pytest.raises(ConstraintViolation) as ei:
        t.append(bad)
    assert ei.value.counts == {"v_nonneg": 2}
    assert t.snapshot().count() == 10  # nothing committed
    with _pytest.raises(ConstraintViolation):
        t.merge(bad, ["k"])
    assert t.snapshot().count() == 10
    t.append(bad.filter("v >= 0"))
    assert t.snapshot().count() == 11
    # drop the constraint -> the same batch now lands
    t.set_constraint("v_nonneg", None)
    t.append(bad)
    assert t.snapshot().count() == 14


def test_constraints_survive_checkpoint(spark, tmp_path):
    import pytest as _pytest

    from politicamente_etl_spark.sources.txlog import ConstraintViolation

    t = _mk(spark, tmp_path / "t", n=5)
    t.set_constraint("pos", "k > 0")
    t.checkpoint()
    t2 = TxLogTable(spark, t.path)
    with _pytest.raises(ConstraintViolation):
        t2.append(spark.createDataFrame([(0, 1)], "k long, v long"))
