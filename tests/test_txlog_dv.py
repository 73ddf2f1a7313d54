"""Row-index DELETION VECTORS (VERDICT r7 item 3) and the vacuum
sidecar LEASE (item 4).

DVs address (data-root-relative file path, row ordinal) — predicate
deletes on KEYLESS tables, broadcast row addresses instead of wide key
sets; the path (not basename) keys the address because clustered
writes duplicate basenames across partition dirs (ADVICE r8, covered
in test_advice_r9.py). The
lease (`.inflight` marker created with the sidecar dir, dropped after
the manifest commits) makes vacuum reference+lease-based instead of
clock-based: a writer stalled past any grace window can no longer lose
its staged sidecar.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from politicamente_etl_spark.sources.txlog import (
    CommitConflict,
    TxLogTable,
    _DELETES_DIR,
)

# sim-covered: DV semantics ride the driver queries
# (txlog_rowindex_delete_proof / dv_vs_cow / dv_cdf_feed /
# dv_restore_proof) and the r13 property suite; full tier only, keeping
# the fast tier under its 20-minute budget (VERDICT r7 item 7)
pytestmark = pytest.mark.slow


def _mk(spark, n=1000):
    path = os.path.join(tempfile.mkdtemp(prefix="dv_"), "t")
    df = spark.range(0, n).selectExpr("id as v", "id % 7 as grp")
    return TxLogTable.create(spark, path, df), path


def test_dv_predicate_delete_keyless_counts(spark):
    t, _ = _mk(spark)
    m = t.delete_where_rowindex("grp = 3")
    assert m["op"] == "delete_rowindex"
    assert m["delete_stats"]["files_rewritten"] == 0
    assert m["delete_stats"]["n_rows"] == 143
    assert t.snapshot().count() == 1000 - 143
    assert t.snapshot().filter("grp = 3").count() == 0
    # time travel: pre-DV version sees every row
    assert t.snapshot(version=1).count() == 1000


def test_dv_append_postdates_and_stacks(spark):
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")
    t.append(
        spark.range(5000, 5010).selectExpr("id as v", "cast(3 as bigint) as grp")
    )
    # appended grp=3 rows postdate the DV and survive
    assert t.snapshot().filter("grp = 3").count() == 10
    t.delete_where_rowindex("v < 10")
    # 1000 - 143 (grp=3) + 10 appended - 9 (v<10 minus v=3, dead already)
    assert t.snapshot().count() == 1000 - 143 + 10 - 9


def test_dv_stacking_exact(spark):
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")
    t.delete_where_rowindex("v < 10")
    expect = (
        spark.range(0, 1000)
        .selectExpr("id as v", "id % 7 as grp")
        .filter("grp != 3 and v >= 10")
        .count()
    )
    assert t.snapshot().count() == expect


def test_dv_empty_predicate_is_noop(spark):
    t, path = _mk(spark)
    m = t.delete_where_rowindex("v < 0")
    assert m["n_rows"] == 0 and m["version"] is None
    assert t.latest_version() == 1
    # no sidecar dir leaked
    del_root = os.path.join(path, _DELETES_DIR)
    assert not os.path.isdir(del_root) or os.listdir(del_root) == []


def test_dv_optimize_materializes_then_checkpoint_drops(spark):
    t, path = _mk(spark)
    t.delete_where_rowindex("grp = 3")
    n = t.snapshot().count()
    t.optimize(target_file_bytes=1 << 30)
    assert t.snapshot().count() == n
    # after the rewrite every live file postdates the DV → checkpoint
    # drops it, and a retention vacuum reclaims the sidecar
    t.checkpoint()
    t.vacuum(retain_versions=1, sidecar_grace_sec=0.0)
    assert t.snapshot().count() == n
    ck = t.history()[-1]
    assert not ck.get("dvs"), "materialized DV must not survive checkpoint"
    del_root = os.path.join(path, _DELETES_DIR)
    leftover = os.listdir(del_root) if os.path.isdir(del_root) else []
    assert leftover == [], f"sidecar not reclaimed: {leftover}"


def test_dv_restore_resurrects(spark):
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")
    assert t.snapshot().count() == 857
    t.restore(1)
    assert t.snapshot().count() == 1000


def test_dv_parity_with_key_tombstone_path(spark):
    """The keyed-table cross-check VERDICT r7 asks for: the same logical
    delete via row-index DV and via key tombstone produce identical
    tables."""
    t1, _ = _mk(spark)
    t2, _ = _mk(spark)
    t1.delete_where_rowindex("grp = 5")
    keys = (
        spark.range(0, 1000)
        .selectExpr("id as v")
        .filter("id % 7 = 5")
    )
    t2.delete_where_logical("v", keys_df=keys)
    a = sorted(r["v"] for r in t1.snapshot().select("v").collect())
    b = sorted(r["v"] for r in t2.snapshot().select("v").collect())
    assert a == b


def test_dv_cdf_reports_deletes(spark):
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")
    ch = t.table_changes(1, 2, keys=["v"], compare_cols=["grp"])
    rows = ch.collect()
    assert all(r["change_type"] == "delete" for r in rows)
    assert len(rows) == 143
    # delete + re-insert coalesces (the unique-key contract): append the
    # same keys back with a changed value and diff across the interval
    t.append(
        spark.range(0, 1000)
        .selectExpr("id as v", "id % 7 as grp")
        .filter("grp = 3")
        .withColumn("grp", F.lit(99).cast("bigint"))
    )
    ch2 = t.table_changes(1, 3, keys=["v"], compare_cols=["grp"])
    by = {r["change_type"] for r in ch2.collect()}
    assert by == {"update"}
    assert ch2.count() == 143


def test_dv_clone_shallow_carries(spark):
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")
    dest = os.path.join(tempfile.mkdtemp(prefix="dv_clone_"), "c")
    c = t.clone_shallow(dest)
    assert c.snapshot().count() == 857
    assert c.snapshot().filter("grp = 3").count() == 0


def test_dv_conflicts_with_concurrent_rewrite(spark, monkeypatch):
    """A rewrite committed between the DV's base read and its claim
    moves rows to new basenames — the DV must refuse to commit, not
    silently no-op."""
    t, path = _mk(spark)
    orig = TxLogTable._mark_sidecar_inflight
    fired = []

    def interleave(abs_dir):
        # second handle compacts the table after our base was captured
        # (once: the compaction's own staged data dir is leased here too)
        if not fired:
            fired.append(True)
            TxLogTable(spark, path).optimize(target_file_bytes=1 << 30)
        orig(abs_dir)

    monkeypatch.setattr(
        TxLogTable, "_mark_sidecar_inflight", staticmethod(interleave)
    )
    with pytest.raises(CommitConflict):
        t.delete_where_rowindex("grp = 3")
    monkeypatch.undo()
    # table unharmed and retry on the new head succeeds
    assert t.snapshot().count() == 1000
    m = TxLogTable(spark, path).delete_where_rowindex("grp = 3")
    assert m["delete_stats"]["n_rows"] == 143


# -- vacuum lease --------------------------------------------------------


def test_vacuum_lease_protects_stalled_writer(spark):
    """The deterministic race today's grace window cannot pass: a
    sidecar staged LONGER AGO than any grace clock, writer still alive
    (marker present). Clock-based vacuum would reclaim it; lease-based
    must not."""
    t, path = _mk(spark)
    keys = spark.range(0, 50).selectExpr("id as v")
    tomb = t._stage_tombstone_sidecar(keys, "v")  # staged, NOT committed
    abs_dir = os.path.join(path, tomb["path"])
    marker = os.path.join(abs_dir, ".inflight")
    assert os.path.exists(marker), "staging must create the lease"
    # age the dir and marker far past any grace window
    old = 10_000.0
    for p in (abs_dir, marker):
        st = os.stat(p)
        os.utime(p, (st.st_atime - old, st.st_mtime - old))
    gone = t.vacuum(sidecar_grace_sec=600.0)
    assert tomb["path"] not in gone
    assert os.path.isdir(abs_dir), "leased sidecar must survive vacuum"
    # the stalled writer now commits — the tombstone still resolves
    m = None
    while m is None:
        version = t.latest_version() + 1
        manifest = {
            "version": version,
            "op": "delete_logical",
            "added": [],
            "removed": [],
            "tombstones": [tomb],
        }
        if t._try_commit(version, manifest):
            t._release_sidecar_lease(tomb["path"])
            m = manifest
    assert t.snapshot().count() == 1000 - 50
    assert not os.path.exists(marker)


def test_vacuum_reclaims_crashed_writer_only_on_override(spark):
    t, path = _mk(spark)
    keys = spark.range(0, 5).selectExpr("id as v")
    tomb = t._stage_tombstone_sidecar(keys, "v")
    abs_dir = os.path.join(path, tomb["path"])
    marker = os.path.join(abs_dir, ".inflight")
    old = 7200.0
    for p in (abs_dir, marker):
        st = os.stat(p)
        os.utime(p, (st.st_atime - old, st.st_mtime - old))
    # default sweep: never touches leased dirs
    t.vacuum(sidecar_grace_sec=0.0)
    assert os.path.isdir(abs_dir)
    # young threshold: still protected
    t.vacuum(sidecar_grace_sec=0.0, reclaim_inflight_after_sec=100_000)
    assert os.path.isdir(abs_dir)
    # explicit override older than the marker: reclaimed
    gone = t.vacuum(sidecar_grace_sec=0.0, reclaim_inflight_after_sec=3600)
    assert tomb["path"] in gone
    assert not os.path.isdir(abs_dir)


def test_committed_sidecars_drop_their_lease(spark, sf_dir):
    t, path = _mk(spark)
    keys = spark.range(0, 10).selectExpr("id as v")
    t.delete_where_logical("v", keys_df=keys)
    t.delete_where_rowindex("grp = 6")
    del_root = os.path.join(path, _DELETES_DIR)
    for d in os.listdir(del_root):
        assert not os.path.exists(
            os.path.join(del_root, d, ".inflight")
        ), "commit must release the lease"


# -- round-8 review fixes --------------------------------------------------


def test_restore_to_post_delete_version_keeps_deletes(spark):
    """Review r8 finding: restore(v) where v POSTDATES a DV/tombstone
    must reproduce snapshot(v) exactly — the re-add previously voided
    every filter and resurrected the deleted rows."""
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")  # v2: 857 visible
    assert t.snapshot(version=2).count() == 857
    t.restore(2)  # v3 — restoring to the CURRENT state must be a no-op
    assert t.snapshot().count() == 857
    assert t.snapshot().filter("grp = 3").count() == 0
    # and restore-to-pre-delete still resurrects (the old contract)
    t.restore(1)
    assert t.snapshot().count() == 1000


def test_restore_post_delete_keeps_key_tombstones_too(spark):
    t, _ = _mk(spark)
    t.delete_where_logical(
        "v", keys_df=t.spark.range(0, 100).selectExpr("id as v")
    )
    assert t.snapshot().count() == 900
    t.restore(2)
    assert t.snapshot().count() == 900
    # a pre-restore re-insert of a tombstoned key stays visible after a
    # restore to the version that contained it (per-file applicability
    # preserved via original add versions)
    t.append(spark.range(0, 10).selectExpr("id as v", "id % 7 as grp"))
    n = t.snapshot().count()
    assert n == 910
    t.restore(4)  # v4 = the append commit
    assert t.snapshot().count() == 910


def test_restore_cdf_reports_resurrections(spark):
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")  # v2
    t.restore(1)  # v3: 143 rows come back
    ch = t.table_changes(2, 3, keys=["v"], compare_cols=["grp"])
    rows = ch.collect()
    assert all(r["change_type"] == "insert" for r in rows)
    assert len(rows) == 143


def test_aborted_dv_stage_does_not_leak_leased_dir(spark):
    t, path = _mk(spark)
    with pytest.raises(Exception):
        t.delete_where_rowindex("no_such_column = 1")
    del_root = os.path.join(path, _DELETES_DIR)
    leftover = os.listdir(del_root) if os.path.isdir(del_root) else []
    assert leftover == [], f"aborted stage leaked leased dir: {leftover}"
    assert t.latest_version() == 1


def test_needs_optimize_counts_dv_debt(spark):
    t, _ = _mk(spark)
    rep0 = t.needs_optimize(tombstone_ratio=0.05)
    assert rep0["dv_rows"] == 0 and not rep0["needs_optimize"]
    t.delete_where_rowindex("grp = 3")  # 143/1000 = 14.3% dead
    rep = t.needs_optimize(tombstone_ratio=0.05)
    assert rep["dv_rows"] == 143
    assert rep["needs_optimize"]
    t.optimize(target_file_bytes=1 << 30)
    rep2 = t.needs_optimize(tombstone_ratio=0.05)
    assert rep2["dv_rows"] == 0 and not rep2["needs_optimize"]


def test_double_restore_reestablishes_filters(spark):
    """Review r8 second pass: the filter barrier is one-way (it can
    only drop), so restore(1) followed by restore(2) lost v2's delete —
    restore manifests now CARRY the target's visible filters, making
    restore(v) == snapshot(v) under any restore chain."""
    t, _ = _mk(spark)
    t.delete_where_rowindex("grp = 3")  # v2: 857 visible
    t.restore(1)  # v3: 1000 visible (barrier drops the DV)
    assert t.snapshot().count() == 1000
    t.restore(2)  # v4: must RE-ESTABLISH the DV, not lose it
    assert t.snapshot().count() == 857
    assert t.snapshot().filter("grp = 3").count() == 0
    # and the same chain over key tombstones
    t2, _ = _mk(spark)
    t2.delete_where_logical(
        "v", keys_df=spark.range(0, 100).selectExpr("id as v")
    )  # v2: 900
    t2.restore(1)  # v3: 1000
    t2.restore(2)  # v4: 900 again
    assert t2.snapshot().count() == 900


def test_sync_from_reclaims_source_staging(spark, sf_dir):
    """Review r8 second pass: each sync_from materialization must be
    reclaimed when the call returns, not held until process exit."""
    import glob

    from politicamente_etl_spark.plans.catalog import T

    before = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_sync_src_*")))
    base_df = (
        T(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey")
        .limit(500)
    )
    path = os.path.join(tempfile.mkdtemp(prefix="sync_tmp_"), "t")
    t = TxLogTable.create(spark, path, base_df)
    t.sync_from(base_df, keys=["o_orderkey"])
    after = set(glob.glob(os.path.join(tempfile.gettempdir(), "txlog_sync_src_*")))
    assert after <= before, f"sync_from leaked staging dirs: {after - before}"
