"""Delete-file sidecars (parquet key-set tombstones), the vacuum
checkpoint's tombstone/constraint/add-version carriage, NULL-key
uniformity, clustered-commit vacuum reachability, staged-file
constraint validation, and the needs_optimize policy — the round-7
txlog surface (VERDICT r6 item 2 + every ADVICE r6 item)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from politicamente_etl_spark.sources.txlog import (
    ConstraintViolation,
    TxLogTable,
    _DELETES_DIR,
)


def _mk(spark, path, n=100):
    df = spark.range(1, n + 1).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    return TxLogTable.create(spark, str(path), df)


def _keys(spark, ks):
    return spark.createDataFrame([(k,) for k in ks], "k long")


def test_sidecar_delete_filters_reads_without_rewrite_or_driver_keys(
    spark, tmp_path
):
    t = _mk(spark, tmp_path / "t")
    files_before = set(t._state().files)
    m = t.delete_where_logical("k", keys_df=_keys(spark, [3, 7, 50]))
    assert m["delete_stats"] == {"files_rewritten": 0, "n_keys": 3}
    assert set(t._state().files) == files_before
    # the manifest carries a path + count, never the key values
    tomb = m["tombstones"][0]
    assert "values" not in tomb and tomb["n_keys"] == 3
    assert tomb["path"].startswith(_DELETES_DIR)
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [k for k in range(1, 101) if k not in (3, 7, 50)]
    assert t.snapshot(version=1).count() == 100  # time travel intact
    # scan() applies sidecar tombstones after pruning too
    assert sorted(r.k for r in t.scan({"k": (1, 10)}).collect()) == [
        1, 2, 4, 5, 6, 8, 9, 10,
    ]


def test_sidecar_manifest_size_independent_of_key_count(spark, tmp_path):
    """The scale contract: tombstoning 10× more keys must not grow the
    manifest — only the parquet sidecar grows (distributed, off the
    driver)."""
    t1 = _mk(spark, tmp_path / "a", n=400)
    m1 = t1.delete_where_logical(
        "k", keys_df=_keys(spark, range(1, 21))
    )
    t2 = _mk(spark, tmp_path / "b", n=400)
    m2 = t2.delete_where_logical(
        "k", keys_df=_keys(spark, range(1, 201))
    )
    s1 = len(json.dumps({k: v for k, v in m1.items() if k != "tombstones"})
             ) + len(json.dumps(
                 [{k: v for k, v in t.items() if k != "path"}
                  for t in m1["tombstones"]]))
    s2 = len(json.dumps({k: v for k, v in m2.items() if k != "tombstones"})
             ) + len(json.dumps(
                 [{k: v for k, v in t.items() if k != "path"}
                  for t in m2["tombstones"]]))
    # identical up to the n_keys digits (20 vs 200)
    assert abs(s2 - s1) <= 2
    assert t2.snapshot().count() == 200


def test_reinsert_after_sidecar_delete_survives(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", keys_df=_keys(spark, [5, 6]))
    t.merge(spark.createDataFrame([(5, 555)], "k long, v long"), ["k"])
    rows = {r.k: r.v for r in t.snapshot().collect()}
    assert rows[5] == 555 and 6 not in rows and len(rows) == 99


def test_null_keys_uniformly_retained_inline_and_sidecar(spark, tmp_path):
    """ADVICE r6 (medium): NOT-IN tri-valued logic silently deleted
    NULL-keyed rows on the small-inline branch while the anti-join
    branch kept them. Both branches must keep them."""
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (None, 30), (None, 40)], "k long, v long"
    )
    t_inline = TxLogTable.create(spark, str(tmp_path / "i"), df)
    t_inline.delete_where_logical("k", [1])  # inline (< 64 values)
    got = sorted(r.v for r in t_inline.snapshot().collect())
    assert got == [20, 30, 40]
    t_side = TxLogTable.create(spark, str(tmp_path / "s"), df)
    t_side.delete_where_logical("k", keys_df=_keys(spark, [1]))
    got = sorted(r.v for r in t_side.snapshot().collect())
    assert got == [20, 30, 40]
    # large inline set (> 64 → anti-join branch) — same answer
    t_big = TxLogTable.create(spark, str(tmp_path / "b"), df)
    t_big.delete_where_logical("k", [1, *range(100, 200)])
    got = sorted(r.v for r in t_big.snapshot().collect())
    assert got == [20, 30, 40]


def test_checkpoint_and_clone_carry_sidecar_tombstones(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", keys_df=_keys(spark, [5, 6]))
    t.merge(spark.createDataFrame([(5, 555)], "k long, v long"), ["k"])
    t.checkpoint()
    t2 = TxLogTable(spark, t.path)
    rows = {r.k: r.v for r in t2.snapshot().collect()}
    assert rows[5] == 555 and 6 not in rows and len(rows) == 99
    c = t.clone_shallow(str(tmp_path / "c"))
    rows = {r.k: r.v for r in c.snapshot().collect()}
    assert rows[5] == 555 and 6 not in rows and len(rows) == 99


def test_vacuum_checkpoint_preserves_tombstones_and_constraints(
    spark, tmp_path
):
    """ADVICE r6 (high): vacuum's retained-version checkpoint used to
    omit live tombstones and constraints — logically deleted rows
    resurrected and CHECKs silently stopped. Both must survive
    manifest expiry, for inline AND sidecar forms."""
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", [1, 2])                       # v2 inline
    t.delete_where_logical("k", keys_df=_keys(spark, [3]))    # v3 sidecar
    t.set_constraint("pos", "v >= 0")                         # v4
    t.append(spark.createDataFrame([(200, 1)], "k long, v long"))  # v5
    assert t.snapshot().count() == 98
    t.vacuum(retain_versions=2)  # expire v1-v3 incl. both tombstones
    t2 = TxLogTable(spark, t.path)
    got = sorted(r.k for r in t2.snapshot().collect())
    assert 1 not in got and 2 not in got and 3 not in got
    assert len(got) == 98
    with pytest.raises(ConstraintViolation):
        t2.append(spark.createDataFrame([(201, -5)], "k long, v long"))


def test_vacuum_keeps_referenced_sidecars_reclaims_expired(spark, tmp_path):
    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", keys_df=_keys(spark, [7, 8]))
    del_root = os.path.join(t.path, _DELETES_DIR)
    assert len(os.listdir(del_root)) == 1
    # referenced: vacuum must not touch it
    t.vacuum()
    assert len(os.listdir(del_root)) == 1
    assert t.snapshot().count() == 98
    # materialize + checkpoint drops the now-dead tombstone, then
    # vacuum(retain) expires the referencing manifests → sidecar goes
    t.optimize(target_file_bytes=1 << 30)
    t.checkpoint()
    # default grace protects in-flight writers; this test IS the only
    # writer, and also asserts the guard: a graced vacuum must keep
    # the (unreferenced, fresh) sidecar...
    t.vacuum(retain_versions=1)
    assert len(os.listdir(del_root)) == 1
    # ...and a zero-grace vacuum reclaims it
    t.vacuum(sidecar_grace_sec=0.0)
    assert os.listdir(del_root) == []
    assert t.snapshot().count() == 98  # physically materialized


def test_vacuum_reclaims_clustered_commit_dirs(spark, tmp_path):
    """ADVICE r6 (medium): clustered commits nest files under
    <col>=<val>/ subdirs; top-level-only listing read them as empty and
    leaked them forever. After overwrite de-references the clustered
    create, vacuum(retain=1) must physically delete it."""
    df = spark.range(1, 41).select(
        F.col("id").alias("k"),
        (F.col("id") * 10).alias("v"),
        (F.col("id") % 4).alias("bucket"),
    )
    t = TxLogTable.create(
        spark, str(tmp_path / "t"), df, cluster_file_col="bucket"
    )
    clustered_dirs = {
        os.path.dirname(os.path.dirname(f)) for f in t._state().files
    }
    assert len(clustered_dirs) == 1
    (old_commit,) = clustered_dirs
    t.overwrite(spark.range(1, 6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    ))
    t.vacuum(retain_versions=1)
    assert not os.path.isdir(os.path.join(t.path, old_commit))
    assert t.snapshot().count() == 5


def test_add_versions_exact_across_vacuum_reinsert_ordering(spark, tmp_path):
    """ADVICE r6 (low): a file added AFTER a tombstone (merge re-insert)
    whose adding manifest is vacuumed used to fall back to add-version
    0, so the tombstone wrongly filtered its rows — data loss. The
    checkpoint's added_versions map must keep the fold exact."""
    t = _mk(spark, tmp_path / "t", n=20)
    t.delete_where_logical("k", keys_df=_keys(spark, [5]))       # v2
    t.merge(spark.createDataFrame([(5, 555)], "k long, v long"),
            ["k"])                                               # v3 re-add
    t.append(spark.createDataFrame([(100, 1)], "k long, v long"))  # v4
    t.append(spark.createDataFrame([(101, 1)], "k long, v long"))  # v5
    t.vacuum(retain_versions=2)  # expires v1-v3: re-add manifest gone
    t2 = TxLogTable(spark, t.path)
    rows = {r.k: r.v for r in t2.snapshot().collect()}
    assert rows[5] == 555, "re-inserted row lost its add version"
    assert len(rows) == 22


def test_append_constraint_checks_staged_rows_and_unstages(spark, tmp_path):
    """ADVICE r6 (low): constraints validate the STAGED files (the
    exact committed rows); a violating batch leaves no commit AND no
    orphan data directory."""
    t = _mk(spark, tmp_path / "t", n=5)
    t.set_constraint("v_nonneg", "v >= 0")
    data_root = os.path.join(t.path, "data")
    dirs_before = set(os.listdir(data_root))
    with pytest.raises(ConstraintViolation) as ei:
        t.append(spark.createDataFrame([(9, -1), (10, 2)], "k long, v long"))
    assert ei.value.counts == {"v_nonneg": 1}
    assert t.snapshot().count() == 5
    assert set(os.listdir(data_root)) == dirs_before  # unstaged
    t.append(spark.createDataFrame([(9, 1)], "k long, v long"))
    assert t.snapshot().count() == 6


def test_needs_optimize_fires_exactly_at_threshold(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=100)
    t.delete_where_logical("k", keys_df=_keys(spark, range(1, 11)))
    rep = t.needs_optimize(tombstone_ratio=0.10)
    assert rep["live_rows"] == 100 and rep["tombstoned_keys"] == 10
    assert rep["tombstone_ratio"] == pytest.approx(0.10)
    assert rep["needs_optimize"] is True  # >= threshold fires
    assert t.needs_optimize(tombstone_ratio=0.101)["needs_optimize"] is False
    # optimize materializes → debt reads 0, policy stops firing
    t.optimize(target_file_bytes=1 << 30)
    rep2 = t.needs_optimize(tombstone_ratio=0.10)
    assert rep2 == {
        "live_rows": 90,
        "tombstoned_keys": 0,
        "dv_rows": 0,
        "tombstone_ratio": 0.0,
        "threshold": 0.10,
        "needs_optimize": False,
    }


def test_delete_where_logical_arg_validation(spark, tmp_path):
    t = _mk(spark, tmp_path / "t", n=5)
    with pytest.raises(ValueError):
        t.delete_where_logical("k")
    with pytest.raises(ValueError):
        t.delete_where_logical("k", [1], keys_df=_keys(spark, [1]))
    with pytest.raises(ValueError):
        t.delete_where_logical("k", keys_df=_keys(spark, []))
    # a rejected empty key set must not leak a staged sidecar
    del_root = os.path.join(t.path, _DELETES_DIR)
    assert not os.path.isdir(del_root) or os.listdir(del_root) == []


def test_manifest_cache_sees_vacuum_rewrite_and_new_commits(spark, tmp_path):
    """The parsed-manifest cache must never serve stale state: a new
    commit (new version) appears, and vacuum's same-version checkpoint
    rewrite (the ONE mutation of an existing manifest file) invalidates
    its entry via mtime/size."""
    t = _mk(spark, tmp_path / "t", n=20)
    assert t.history()[-1]["op"] == "create"
    t.delete_where_logical("k", keys_df=_keys(spark, [5]))  # v2
    assert [m["version"] for m in t.history()] == [1, 2]  # new commit seen
    t.append(spark.createDataFrame([(100, 1)], "k long, v long"))  # v3
    t.append(spark.createDataFrame([(101, 1)], "k long, v long"))  # v4
    # prime the cache on v3, then vacuum rewrites v3 as a checkpoint
    assert t.history()[2].get("checkpoint") is None
    t.vacuum(retain_versions=2)
    assert t._read_manifest(3)["checkpoint"] is True  # rewrite visible
    assert sorted(r.k for r in t.snapshot().collect()) == [
        *[k for k in range(1, 21) if k != 5], 100, 101,
    ]


def test_concurrent_sidecar_deletes_both_land(spark, tmp_path):
    """OCC rebase for sidecar tombstones: two writers race
    delete_where_logical(keys_df=...); appends commute, so BOTH must
    commit (versions 2 and 3, either order), each reusing its staged
    sidecar across EEXIST retries, and the final snapshot excludes both
    key sets."""
    import threading

    t = _mk(spark, tmp_path / "t")
    barrier = threading.Barrier(2)
    errs = []

    def worker(ks):
        try:
            barrier.wait(timeout=30)
            TxLogTable(spark, t.path).delete_where_logical(
                "k", keys_df=_keys(spark, ks)
            )
        except Exception as exc:  # noqa: BLE001
            errs.append(exc)

    th1 = threading.Thread(target=worker, args=([1, 2, 3],))
    th2 = threading.Thread(target=worker, args=([50, 51],))
    th1.start(); th2.start(); th1.join(60); th2.join(60)
    assert not errs
    assert t.latest_version() == 3
    got = sorted(r.k for r in t.snapshot().collect())
    assert got == [k for k in range(1, 101) if k not in (1, 2, 3, 50, 51)]
    assert sum(
        len(m.get("tombstones", [])) for m in t.history()
    ) == 2


def test_cdf_changed_files_only_matches_full_diff(spark, tmp_path):
    """table_changes (round 7) diffs only the files that DIFFER between
    versions. Every change class in one log: a merge update+insert
    (changed files), a sidecar tombstone on an untouched file (stable
    shared file → delete records), and a restore that re-adds a shared
    file (resurrection → insert records)."""
    df = spark.range(1, 41).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("v")
    )
    t = TxLogTable.create(spark, str(tmp_path / "t"), df.repartition(4))
    # v2: merge updates k=1, inserts k=100
    t.merge(
        spark.createDataFrame([(1, 111), (100, 1000)], "k long, v long"),
        ["k"],
    )
    ch = t.table_changes(1, 2, ["k"], ["v"])
    got = {(r.k, r.change_type, r.old_v, r.new_v) for r in ch.collect()}
    assert got == {(1, "update", 10, 111), (100, "insert", None, 1000)}
    # v3: sidecar tombstone — no file changes at all
    t.delete_where_logical("k", keys_df=_keys(spark, [2, 3]))
    ch = t.table_changes(2, 3, ["k"], ["v"])
    got = {(r.k, r.change_type, r.old_v, r.new_v) for r in ch.collect()}
    assert got == {(2, "delete", 20, None), (3, "delete", 30, None)}
    # v4: restore to v2 — tombstoned rows resurrect as inserts
    t.restore(2)
    ch = t.table_changes(3, 4, ["k"], ["v"])
    got = {(r.k, r.change_type, r.old_v, r.new_v) for r in ch.collect()}
    assert got == {(2, "insert", None, 20), (3, "insert", None, 30)}
    # cross-interval feed equals the end-to-end diff
    ch = t.table_changes(1, 4, ["k"], ["v"])
    got = {(r.k, r.change_type, r.old_v, r.new_v) for r in ch.collect()}
    assert got == {(1, "update", 10, 111), (100, "insert", None, 1000)}


def test_cdf_delete_then_reinsert_coalesces_to_update(spark, tmp_path):
    """Code-review r7: a tombstone delete of k in a stable file plus a
    re-insert of k in a new file used to emit TWO feed rows (delete +
    insert) where the full-snapshot diff emitted one 'update' — a
    consumer applying deletes after inserts dropped the live row."""
    t = _mk(spark, tmp_path / "t", n=20)
    t.delete_where_logical("k", keys_df=_keys(spark, [5]))        # v2
    t.append(spark.createDataFrame([(5, 555)], "k long, v long"))  # v3
    ch = t.table_changes(1, 3, ["k"], ["v"])
    got = {(r.k, r.change_type, r.old_v, r.new_v) for r in ch.collect()}
    assert got == {(5, "update", 50, 555)}


def test_cdf_delete_then_identical_reinsert_emits_nothing(spark, tmp_path):
    """The value-preserving twin: delete + re-insert of the SAME value
    is no net change, so the feed (like the full-snapshot diff) must
    not mention the key at all."""
    t = _mk(spark, tmp_path / "t", n=20)
    t.delete_where_logical("k", keys_df=_keys(spark, [5]))        # v2
    t.append(spark.createDataFrame([(5, 50)], "k long, v long"))   # v3
    ch = t.table_changes(1, 3, ["k"], ["v"])
    assert not [r for r in ch.collect() if r.k == 5]


def test_cdf_null_key_rows_never_reported_deleted(spark, tmp_path):
    """Code-review r7: the stable-file delete detection used an
    anti-join against survivors, and NULL keys never equi-match — so a
    retained NULL-keyed row was reported 'delete' while still alive.
    The semi-join against the tombstone key set cannot misfire."""
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (None, 99)], "k long, v long"
    )
    t = TxLogTable.create(spark, str(tmp_path / "t"), df)
    t.delete_where_logical("k", keys_df=_keys(spark, [2]))         # v2
    assert t.snapshot().count() == 2  # NULL row retained
    ch = t.table_changes(1, 2, ["k"], ["v"])
    got = {(r.k, r.change_type) for r in ch.collect()}
    assert got == {(2, "delete")}


def test_cdf_tombstone_only_interval_plan_is_shuffle_free(spark, tmp_path):
    """Code-review r7: the stable-branch delete detection must be one
    scan + a BROADCAST semi-join (no second scan of the stable files,
    no SortMergeJoin shuffling the table on the CDC keys)."""
    import contextlib
    import io

    t = _mk(spark, tmp_path / "t")
    t.delete_where_logical("k", keys_df=_keys(spark, [7, 8]))
    ch = t.table_changes(1, 2, ["k"], ["v"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ch.explain("formatted")
    plan = buf.getvalue()
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan


def test_vacuum_grace_window_protects_staged_sidecar(spark, tmp_path):
    """Code-review r7: vacuum must not reclaim a fresh unreferenced
    sidecar dir — an in-flight delete_where_logical stages its parquet
    BEFORE committing the manifest that references it. Back-dated dirs
    (true orphans) still reclaim."""
    t = _mk(spark, tmp_path / "t")
    staged = os.path.join(t.path, _DELETES_DIR, "in-flight-uuid")
    os.makedirs(staged)
    _keys(spark, [1]).write.mode("overwrite").parquet(staged)
    t.vacuum()  # fresh → protected by the default grace window
    assert os.path.isdir(staged)
    old = os.path.getmtime(staged) - 3600
    os.utime(staged, (old, old))
    t.vacuum()  # an hour old and unreferenced → a real orphan
    assert not os.path.isdir(staged)


def test_timestamp_as_of_monotonic_and_survives_vacuum(spark, tmp_path):
    """Commit times are strictly monotonic even for back-to-back
    commits; version_as_of orders exactly like versions; vacuum's
    in-place checkpoint rewrite preserves the version's ORIGINAL commit
    time while checkpoint() (a new commit) gets a fresh later one."""
    import pytest as _pytest

    t = _mk(spark, tmp_path / "t", n=20)                               # v1
    t.append(spark.createDataFrame([(100, 1)], "k long, v long"))      # v2
    t.append(spark.createDataFrame([(101, 1)], "k long, v long"))      # v3
    ts = {m["version"]: m["commit_ts_ms"] for m in t.history()}
    assert ts[1] < ts[2] < ts[3]
    assert t.version_as_of(ts[1]) == 1
    assert t.version_as_of(ts[2] - 1) == 1
    assert t.version_as_of(ts[2]) == 2
    assert t.version_as_of(ts[3] + 10_000) == 3
    with _pytest.raises(ValueError):
        t.version_as_of(ts[1] - 1)
    assert t.snapshot_as_of(ts[2]).count() == 21
    v_ck = t.checkpoint()                                              # v4
    ts2 = {m["version"]: m["commit_ts_ms"] for m in t.history()}
    assert ts2[v_ck] > ts[3]
    t.vacuum(retain_versions=2)  # rewrites v3 in place as a checkpoint
    t2 = TxLogTable(spark, t.path)
    ts3 = {m["version"]: m["commit_ts_ms"] for m in t2.history()}
    assert ts3[3] == ts[3]  # original commit time preserved
    assert t2.version_as_of(ts[3]) == 3


def test_sync_from_three_clause_merge_one_commit(spark, tmp_path):
    """sync_from: matched update, not-matched insert, not-matched-by-
    source DELETE — one commit, key set equals the source afterwards,
    including vanished keys that cohabit REWRITTEN files (which must
    drop explicitly: fresh files postdate the tombstone)."""
    t = _mk(spark, tmp_path / "t", n=10)  # keys 1..10, v=k*10, ONE file
    src = spark.createDataFrame(
        # 2 vanishes; 3 updates; 11 inserts; rest unchanged
        [(k, k * 10) for k in (1, 4, 5, 6, 7, 8, 9, 10)]
        + [(3, 333), (11, 110)],
        "k long, v long",
    )
    m = t.sync_from(src, ["k"])
    assert m["op"] == "sync" and m["version"] == 2
    assert m["sync_stats"]["deleted_keys"] == 1
    got = {r.k: r.v for r in t.snapshot().collect()}
    want = {r.k: r.v for r in src.collect()}
    assert got == want  # key set EQUALS the source, values synced
    # single-file table → key 2 lived in the rewritten file and must
    # not survive through the rewrite path
    assert 2 not in got
    # time travel: pre-sync version intact
    assert t.snapshot(version=1).count() == 10
    # timestamp travel across the sync
    ts = {mm["version"]: mm["commit_ts_ms"] for mm in t.history()}
    assert t.version_as_of(ts[1]) == 1 and t.version_as_of(ts[2]) == 2


def test_sync_from_deletes_in_untouched_files_via_tombstone(spark, tmp_path):
    """A vanished key living in a file the rewrite never touches must
    die via the manifest tombstone (merge-on-read), not a rewrite."""
    lo = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    hi = spark.createDataFrame([(100, 1000), (101, 1010)], "k long, v long")
    t = TxLogTable.create(spark, str(tmp_path / "t"), lo)
    t.append(hi)
    # source touches only the low file; key 101 vanishes from the high
    src = spark.createDataFrame([(1, 11), (2, 20), (100, 1000)], "k long, v long")
    m = t.sync_from(src, ["k"])
    assert m["sync_stats"]["deleted_keys"] == 1
    assert m["sync_stats"]["files_preserved"] >= 1
    got = {r.k: r.v for r in t.snapshot().collect()}
    assert got == {1: 11, 2: 20, 100: 1000}
    # the preserved file still physically holds 101; the tombstone
    # carries the delete (merge-on-read), and optimize materializes it
    t.optimize(target_file_bytes=1 << 30)
    assert {r.k for r in t.snapshot().collect()} == {1, 2, 100}
