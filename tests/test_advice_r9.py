"""Regression tests for the four ADVICE r8 findings fixed in round 9.

1. (high) Deletion vectors address rows by (data-root-relative path,
   row ordinal), not (basename, ordinal): a clustered append has one
   task write the SAME part-file name into every partition directory
   it receives, so basenames collide across sibling files and a
   basename-keyed DV silently deleted same-ordinal rows in every
   sibling (reference: Delta DVs / Iceberg positional deletes key on
   the full path for exactly this reason).
2. (medium) rename_column's non-commutation guard was one-sided: if
   the rename committed FIRST, an in-flight append (staged with the
   old physical column name) or delete_where_logical (tombstone keyed
   on the old name) blindly rebased past it — appended files postdate
   the rename so reads never alias them, and the tombstone key matches
   nothing. Both rebase loops now raise CommitConflict on intervening
   rename/generated/constraint/restore commits.
3. (low) The stream reader relabeled arrow batches POSITIONALLY
   whenever name lists differed and lengths matched — a file with a
   different physical column ORDER was silently mislabeled. Now maps
   names explicitly via the rename chain and raises on unknowns.
4. (low) A writer crashing after _try_commit but before
   _release_sidecar_lease left a committed, manifest-referenced
   sidecar with a stale .inflight marker that the default vacuum sweep
   skipped forever. vacuum now unlinks the marker for sidecars
   referenced by a committed manifest (reference-reachability makes
   the lease obsolete).
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from politicamente_etl_spark.sources.txlog import (
    CommitConflict,
    TxLogTable,
    _DATA_DIR,
    _DELETES_DIR,
)

pytestmark = pytest.mark.slow


def _mk_clustered(spark, n_clusters=40, rows_per=1):
    """Table whose files are clustered one-per-value with MORE distinct
    values than shuffle tasks, forcing at least one task to write the
    same part-file basename into several partition directories — the
    exact collision ADVICE r8 describes."""
    path = os.path.join(tempfile.mkdtemp(prefix="dvpath_"), "t")
    df = spark.range(0, n_clusters * rows_per).selectExpr(
        "id as v", f"cast(id % {n_clusters} as bigint) as grp"
    ).withColumn("cl", F.col("grp"))
    t = TxLogTable.create(spark, path, df, cluster_file_col="cl")
    return t, path


# -- 1. DV path addressing ------------------------------------------------


def test_clustered_layout_has_basename_collisions(spark):
    """Precondition proof: the clustered write DOES produce duplicate
    basenames across partition dirs (otherwise the regression tests
    below are vacuous)."""
    t, _ = _mk_clustered(spark)
    rels = t._state().files
    basenames = [os.path.basename(r) for r in rels]
    assert len(rels) == 40
    assert len(set(basenames)) < len(basenames), (
        "expected part-file basename collisions across partition dirs; "
        "raise n_clusters if the shuffle task count grew"
    )


def test_dv_on_clustered_table_deletes_only_matching_rows(spark):
    """The ADVICE r8 failure: with one row per file, every row sits at
    ordinal 0, so a basename-keyed DV for one row also killed the
    same-ordinal row in every sibling file sharing the basename."""
    t, _ = _mk_clustered(spark)
    m = t.delete_where_rowindex("v = 5")
    assert m["delete_stats"]["n_rows"] == 1
    snap = t.snapshot()
    assert snap.count() == 39
    assert snap.filter("v = 5").count() == 0
    surviving = {r["v"] for r in snap.collect()}
    assert surviving == set(range(40)) - {5}


def test_dv_addresses_are_data_root_relative_paths(spark):
    t, _ = _mk_clustered(spark)
    t.delete_where_rowindex("v < 3")
    dvs = t._state().dvs
    assert dvs, "expected a committed deletion vector"
    addr = t._dv_rows_df([p for _v, p, _n in dvs]).collect()
    assert len(addr) == 3
    for r in addr:
        assert "/" in r["__fb"], "address must be a path, not a basename"
        assert not r["__fb"].startswith(_DATA_DIR), (
            "address is relative to the data root (no data/ prefix)"
        )
        assert r["__fb"].endswith(".parquet")
    # every address resolves to exactly one live file
    rels = {r.split(f"{_DATA_DIR}/", 1)[-1] for r in t._state().files}
    for r in addr:
        assert r["__fb"] in rels


def test_dv_survives_shallow_clone_rerooting(spark):
    """Addresses are the path BELOW the data root, so a clone (which
    re-roots file references with ../ prefixes) keeps matching."""
    t, path = _mk_clustered(spark)
    t.delete_where_rowindex("v = 7")
    clone = t.clone_shallow(os.path.join(os.path.dirname(path), "c"))
    snap = clone.snapshot()
    assert snap.count() == 39
    assert snap.filter("v = 7").count() == 0
    # a DV created IN the clone addresses the source-rooted files
    clone.delete_where_rowindex("v = 11")
    assert clone.snapshot().count() == 38
    assert t.snapshot().count() == 39, "source unaffected by clone's DV"


# -- 2. two-sided rename/metadata rebase guard ----------------------------


def _mk_plain(spark, n=100):
    path = os.path.join(tempfile.mkdtemp(prefix="rebase_"), "t")
    df = spark.range(0, n).selectExpr("id as v", "id % 7 as grp")
    return TxLogTable.create(spark, path, df), path


def test_append_refuses_to_rebase_past_rename(spark, monkeypatch):
    """Interleave: rename_column commits BETWEEN append's staging and
    its version claim. The append must raise CommitConflict (its staged
    files carry the old physical name but would postdate the rename)
    and unstage its files."""
    t, path = _mk_plain(spark)
    orig = TxLogTable._stage_write
    fired = []

    def hooked(self, df, partition_col=None):
        res = orig(self, df, partition_col)
        if not fired:
            fired.append(True)
            TxLogTable(self.spark, self.path).rename_column("v", "val")
        return res

    monkeypatch.setattr(TxLogTable, "_stage_write", hooked)
    before = set(os.listdir(os.path.join(path, _DATA_DIR)))
    with pytest.raises(CommitConflict, match="rename_column"):
        t.append(spark.range(100, 110).selectExpr("id as v", "id % 7 as grp"))
    after = set(os.listdir(os.path.join(path, _DATA_DIR)))
    assert after == before, "conflicted append must unstage its files"
    # table is intact under the NEW logical name
    snap = TxLogTable(spark, path).snapshot()
    assert "val" in snap.columns and snap.count() == 100


def test_append_still_rebases_past_plain_appends(spark, monkeypatch):
    """Commuting commits must still rebase (the guard is not a blanket
    single-writer lock)."""
    t, path = _mk_plain(spark)
    orig = TxLogTable._stage_write
    fired = []

    def hooked(self, df, partition_col=None):
        res = orig(self, df, partition_col)
        if not fired:
            fired.append(True)
            TxLogTable(self.spark, self.path).append(
                self.spark.range(500, 510).selectExpr(
                    "id as v", "id % 7 as grp"
                )
            )
        return res

    monkeypatch.setattr(TxLogTable, "_stage_write", hooked)
    v = t.append(spark.range(100, 110).selectExpr("id as v", "id % 7 as grp"))
    assert v == 3, "append rebases onto the interleaved append's head"
    assert TxLogTable(spark, path).snapshot().count() == 120


def test_tombstone_refuses_to_rebase_past_rename(spark, monkeypatch):
    """Same interleave for delete_where_logical: the tombstone is keyed
    on the OLD logical name; rebasing past the rename would commit a
    key that matches nothing (pre-rename files alias to the new name),
    silently voiding the delete."""
    t, path = _mk_plain(spark)
    orig = TxLogTable._stage_tombstone_sidecar
    fired = []

    def hooked(self, keys_df, key_col):
        res = orig(self, keys_df, key_col)
        if not fired:
            fired.append(True)
            TxLogTable(self.spark, self.path).rename_column("grp", "g")
        return res

    monkeypatch.setattr(TxLogTable, "_stage_tombstone_sidecar", hooked)
    with pytest.raises(CommitConflict, match="rename_column"):
        t.delete_where_logical(
            "grp", keys_df=spark.range(3, 4).selectExpr("id as grp")
        )
    fresh = TxLogTable(spark, path)
    assert fresh.snapshot().count() == 100, "void delete must not commit"
    # conflicted sidecar is unstaged
    del_root = os.path.join(path, _DELETES_DIR)
    assert not os.path.isdir(del_root) or os.listdir(del_root) == []
    # re-run against the new head works under the new name
    fresh.delete_where_logical(
        "g", keys_df=spark.range(3, 4).selectExpr("id as g")
    )
    assert fresh.snapshot().filter("g = 3").count() == 0


def test_rebase_conflict_since_classifies_ops(spark):
    t, _ = _mk_plain(spark)
    base = t.latest_version()
    assert t._rebase_conflict_since(base) is None
    t.append(spark.range(100, 101).selectExpr("id as v", "id % 7 as grp"))
    assert t._rebase_conflict_since(base) is None, "appends commute"
    t.set_constraint("v_nonneg", "v >= 0")
    got = t._rebase_conflict_since(base)
    assert got is not None and "set_constraint" in got
    assert t._rebase_conflict_since(t.latest_version()) is None


# -- 3. stream reader explicit rename mapping ------------------------------


def test_stream_read_reorders_by_name_not_position(spark, tmp_path):
    """A file whose physical column ORDER differs from the declared
    schema (same names) was silently mislabeled by the positional
    rename; it must now come back correctly labeled."""
    import pyarrow.parquet as pq

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamReader,
        _FilePartition,
    )

    from politicamente_etl_spark.sources.txlogstream import (
        _alias_resolution,
    )

    f = str(tmp_path / "swapped.parquet")
    spark.range(0, 5).selectExpr("id * 10 as b", "id as a").toPandas().to_parquet(
        f, index=False
    )
    assert pq.ParquetFile(f).schema_arrow.names == ["b", "a"]
    reader = TxLogStreamReader(
        str(tmp_path), False, field_names=["a", "b"]
    )
    resolve = _alias_resolution([], ["a", "b"], 1, 1)
    batches = list(reader.read(_FilePartition(f, resolve=resolve)))
    assert batches and batches[0].schema.names == ["a", "b"]
    col_a = [v.as_py() for b in batches for v in b.column(0)]
    col_b = [v.as_py() for b in batches for v in b.column(1)]
    assert col_a == [0, 1, 2, 3, 4]
    assert col_b == [0, 10, 20, 30, 40]


def test_stream_read_maps_pre_rename_vintage_by_chain(spark, tmp_path):
    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamReader,
        _FilePartition,
        _alias_resolution,
    )

    f = str(tmp_path / "old.parquet")
    spark.range(0, 3).selectExpr("id as v_old", "id * 2 as w").toPandas().to_parquet(
        f, index=False
    )
    resolve = _alias_resolution([(5, 5, "v_old", "v")], ["v", "w"], 1, 6)
    assert resolve == {"v_old": "v", "v": "v", "w": "w"}
    reader = TxLogStreamReader(str(tmp_path), True, field_names=["v", "w"])
    batches = list(reader.read(_FilePartition(f, resolve=resolve)))
    assert batches[0].schema.names == ["v", "w"]


def test_stream_read_raises_on_unknown_names(spark, tmp_path):
    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamReader,
        _FilePartition,
    )

    f = str(tmp_path / "alien.parquet")
    spark.range(0, 3).selectExpr("id as x", "id as y").toPandas().to_parquet(
        f, index=False
    )
    reader = TxLogStreamReader(str(tmp_path), True, field_names=["a", "b"])
    with pytest.raises(RuntimeError, match="refusing to relabel"):
        list(reader.read(_FilePartition(f, resolve={})))


def test_alias_resolution_post_rename_vintage_maps_backward(spark):
    """ignore_changes skips a mid-stream rename: the declared schema is
    the PRE-rename vintage, and files written after carry the new name
    — the backward walk maps them."""
    from politicamente_etl_spark.sources.txlogstream import _alias_resolution

    resolve = _alias_resolution([(5, 5, "v", "val")], ["v", "w"], 6, 4)
    assert resolve["val"] == "v"


def test_alias_resolution_reuse_chain_is_vintage_exact(spark):
    """Review r9: rename a→x (v2) then b→a (v3), stream declares
    [x, a]. A pre-v2 file's physical `a` must map to `x` (its vintage),
    never short-circuit to the redeclared `a`; physical `b` maps to
    `a`. The name-global two-direction walk could not disambiguate
    this; the version-bounded walk can."""
    from politicamente_etl_spark.sources.txlogstream import _alias_resolution

    chain = [(2, 2, "a", "x"), (3, 3, "b", "a")]
    resolve = _alias_resolution(chain, ["x", "a"], 1, 3)
    assert resolve["a"] == "x"
    assert resolve["b"] == "a"
    assert resolve["x"] == "x"
    # a post-rename file (vintage 4) carries [x, a] natively: identity
    resolve4 = _alias_resolution(chain, ["x", "a"], 4, 3)
    assert resolve4["x"] == "x" and resolve4["a"] == "a"


def test_alias_resolution_clone_carried_renames(spark):
    """Review r9, second pass: a clone's v1 manifest carries source
    renames whose ORIGIN versions exceed every local version. The
    carrier (local v1) bounds declared-visibility, so pre-rename source
    files referenced by the clone still map old→new."""
    from politicamente_etl_spark.sources.txlogstream import _alias_resolution

    resolve = _alias_resolution([(2, 1, "a", "b")], ["b"], 1, 1)
    assert resolve["a"] == "b"


def test_stream_over_clone_of_renamed_source(spark):
    """End-to-end: stream a shallow clone whose SOURCE renamed a column
    — the clone's pre-rename source files must flow relabeled to the
    clone's declared schema (review r9, second pass: the origin-only
    bound raised on every such file)."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    base = _tf.mkdtemp(prefix="stream_clone_ren_")
    src = os.path.join(base, "src")
    t = TxLogTable.create(
        spark, src, spark.range(0, 8).selectExpr("id as a", "id % 2 as g")
    )
    t.rename_column("a", "b")
    clone = t.clone_shallow(os.path.join(base, "c"))
    assert "b" in clone.snapshot().columns
    name = "clone_ren_" + os.path.basename(base)
    q = (
        spark.readStream.format("txlogstream")
        .option("path", os.path.join(base, "c"))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    assert out.columns == ["b", "g"]
    assert sorted(r["b"] for r in out.collect()) == list(range(8))


def test_stream_end_to_end_reads_through_rename(spark):
    """Full stream over a table that renames mid-history: with
    ignore_changes the pre-rename files flow relabeled to the declared
    (post-rename) schema via the chain — by NAME, not position."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    path = os.path.join(_tf.mkdtemp(prefix="stream_ren_"), "t")
    t = TxLogTable.create(
        spark, path, spark.range(0, 10).selectExpr("id as v", "id % 3 as g")
    )
    t.rename_column("v", "val")
    t.append(spark.range(10, 15).selectExpr("id as val", "id % 3 as g"))
    name = "advice_r9_stream_" + os.path.basename(os.path.dirname(path))
    q = (
        spark.readStream.format("txlogstream")
        .option("path", path)
        .option("ignore_changes", "true")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    assert out.columns == ["val", "g"]
    rows = sorted((r["val"], r["g"]) for r in out.collect())
    assert rows == [(i, i % 3) for i in range(15)]


# -- 4. vacuum reclaims obsolete leases on committed sidecars --------------


def test_vacuum_unlinks_stale_lease_on_committed_sidecar(spark):
    """Crash window: _try_commit succeeded, _release_sidecar_lease did
    not run. The sidecar is manifest-referenced, so vacuum must treat
    the lease as obsolete (unlink it) instead of skipping forever."""
    t, path = _mk_plain(spark)
    tomb = t._stage_tombstone_sidecar(
        spark.range(0, 5).selectExpr("id as v"), "v"
    )
    version = t.latest_version() + 1
    assert t._try_commit(
        version,
        {
            "version": version,
            "op": "delete_logical",
            "added": [],
            "removed": [],
            "tombstones": [tomb],
        },
    )
    # crash here: lease never released
    abs_dir = os.path.join(path, tomb["path"])
    marker = os.path.join(abs_dir, ".inflight")
    assert os.path.exists(marker)
    t.vacuum()
    assert os.path.isdir(abs_dir), "referenced sidecar stays alive"
    assert not os.path.exists(marker), (
        "vacuum must unlink the obsolete lease of a committed sidecar"
    )
    assert t.snapshot().count() == 95
    # once the reference expires (optimize materializes the tombstone,
    # retention drops the referencing manifests), the DEFAULT sweep can
    # reclaim the sidecar — previously impossible without the manual
    # reclaim_inflight_after_sec override
    t.optimize()
    t.checkpoint()
    t.vacuum(retain_versions=1, sidecar_grace_sec=0.0)
    assert not os.path.isdir(abs_dir), "expired sidecar reclaimed"


def test_vacuum_keeps_lease_of_uncommitted_sidecar(spark):
    """The fix must not weaken the stalled-writer guarantee: an
    UNreferenced leased dir keeps its marker and survives."""
    t, path = _mk_plain(spark)
    tomb = t._stage_tombstone_sidecar(
        spark.range(0, 5).selectExpr("id as v"), "v"
    )
    abs_dir = os.path.join(path, tomb["path"])
    marker = os.path.join(abs_dir, ".inflight")
    t.vacuum(sidecar_grace_sec=0.0)
    assert os.path.isdir(abs_dir) and os.path.exists(marker)


def test_metadata_setters_refuse_to_rebase_past_rename(spark, monkeypatch):
    """Symmetry guard: set_constraint / set_generated_column bind their
    expression identifiers to the snapshot observed at call time;
    rebasing past a winning rename would commit a dangling expression
    (every later write fails analysis). They must conflict instead."""
    t, path = _mk_plain(spark)
    # interleave: a rename wins the version the setter is about to claim
    orig = TxLogTable.latest_version
    state = {"armed": False, "fired": False}

    def hooked(self):
        v = orig(self)
        if state["armed"] and not state["fired"]:
            state["fired"] = True
            tt = TxLogTable(self.spark, self.path)
            state["armed"] = False
            tt.rename_column("v", "val")
            state["armed"] = True
        return v

    monkeypatch.setattr(TxLogTable, "latest_version", hooked)
    state["armed"] = True
    with pytest.raises(CommitConflict, match="rename_column"):
        t.set_constraint("v_nonneg", "v >= 0")
    state["armed"] = False
    state["fired"] = False
    fresh = TxLogTable(spark, path)
    fresh.set_constraint("val_nonneg", "val >= 0")
    assert "val_nonneg" in fresh._state().constraints


# -- review r9 second pass: fence/checkpoint/expiry refinements ------------


def test_legacy_dv_fence_raises_and_restore_clears_it(spark):
    """A basename-era DV manifest (no addr field) must fail reads
    loudly — and following the error's own remediation (restore to the
    pre-DV version) must actually clear the fence, not leave the table
    bricked by the dead manifest."""
    t, path = _mk_plain(spark)
    pre_dv = t.latest_version()
    # forge a legacy-era DV manifest: sidecar + entry WITHOUT addr
    st = t._state()
    matched = (
        t._read_with_tombstones(st.files, st, keep_row_address=True)
        .filter("v < 3")
        .select("__fb", "__ri")
    )
    rel_dir = os.path.join(_DELETES_DIR, "legacyforge")
    abs_dir = os.path.join(path, rel_dir)
    matched.write.parquet(abs_dir)
    version = t.latest_version() + 1
    assert t._try_commit(
        version,
        {
            "version": version,
            "op": "delete_rowindex",
            "added": [],
            "removed": [],
            "dvs": [{"path": rel_dir, "n_rows": 3}],  # no addr: legacy
        },
    )
    fresh = TxLogTable(spark, path)
    with pytest.raises(RuntimeError, match="predates path addressing"):
        fresh.snapshot().count()
    with pytest.raises(RuntimeError, match="predates path addressing"):
        fresh.checkpoint()
    # the remediation: restore to the pre-DV version → barrier drops
    # the legacy entry → table readable again
    fresh.restore(pre_dv)
    assert fresh.snapshot().count() == 100
    fresh.checkpoint()
    assert TxLogTable(spark, path).snapshot().count() == 100


def test_routine_checkpoint_does_not_conflict_append(spark, monkeypatch):
    """Review r9, second pass: a maintenance checkpoint() that expired
    nothing commutes with an in-flight append — the blanket rule
    aborted fully staged writes on every concurrent checkpoint."""
    t, path = _mk_plain(spark)
    orig = TxLogTable._stage_write
    fired = []

    def hooked(self, df, partition_col=None):
        res = orig(self, df, partition_col)
        if not fired:
            fired.append(True)
            TxLogTable(self.spark, self.path).checkpoint()
        return res

    monkeypatch.setattr(TxLogTable, "_stage_write", hooked)
    v = t.append(spark.range(100, 110).selectExpr("id as v", "id % 7 as grp"))
    assert v == 3, "append rebases past the routine checkpoint"
    assert TxLogTable(spark, path).snapshot().count() == 110


def test_append_conflicts_when_history_expired_past_base(spark, monkeypatch):
    """But an expiring vacuum DOES conflict: with manifests below the
    keep_from checkpoint gone, an absorbed metadata commit can no
    longer be ruled out."""
    t, path = _mk_plain(spark)
    t.append(spark.range(100, 110).selectExpr("id as v", "id % 7 as grp"))
    orig = TxLogTable._stage_write
    fired = []

    def hooked(self, df, partition_col=None):
        res = orig(self, df, partition_col)
        if not fired:
            fired.append(True)
            other = TxLogTable(self.spark, self.path)
            other.append(
                self.spark.range(200, 201).selectExpr(
                    "id as v", "id % 7 as grp"
                )
            )
            other.vacuum(retain_versions=1)
        return res

    monkeypatch.setattr(TxLogTable, "_stage_write", hooked)
    with pytest.raises(CommitConflict, match="unprovable"):
        t.append(spark.range(300, 310).selectExpr("id as v", "id % 7 as grp"))


def test_dv_commit_conflicts_when_history_expired_past_base(
    spark, monkeypatch
):
    """delete_where_rowindex's no-rewrite proof relies on scanning
    surviving manifests; once an expiring vacuum absorbs history past
    its base, the proof is gone and the commit must conflict (review
    r9, second pass) — a rewrite hidden inside the checkpoint would
    otherwise silently void the addressed deletes."""
    t, path = _mk_plain(spark)
    t.append(spark.range(100, 110).selectExpr("id as v", "id % 7 as grp"))
    orig = TxLogTable._try_commit
    fired = []

    def hooked(self, version, manifest):
        # race exactly at the DV writer's first claim (its sidecar is
        # fully staged): an optimize rewrites the addressed files and a
        # retention vacuum absorbs the rewrite into a checkpoint,
        # expiring the manifests that could prove it happened
        if not fired and manifest.get("op") == "delete_rowindex":
            fired.append(True)
            other = TxLogTable(self.spark, self.path)
            other.optimize()
            other.vacuum(retain_versions=1)
        return orig(self, version, manifest)

    monkeypatch.setattr(TxLogTable, "_try_commit", hooked)
    with pytest.raises(CommitConflict):
        t.delete_where_rowindex("v < 5")


def test_append_schema_merge_widens_nullability(spark):
    """Review r9, second pass: spark.range stamps nullable:false; an
    append of null-bearing data must widen the declared nullability,
    never freeze non-nullable over files containing nulls."""
    import tempfile as _tf

    path = os.path.join(_tf.mkdtemp(prefix="nullable_"), "t")
    t = TxLogTable.create(
        spark, path, spark.range(0, 5).selectExpr("id as v")
    )
    sch0 = t._state().schema
    assert sch0["fields"][0]["nullable"] is False
    t.append(
        spark.range(5, 8).selectExpr(
            "CASE WHEN id = 6 THEN NULL ELSE id END as v"
        )
    )
    sch1 = t._state().schema
    assert sch1["fields"][0]["nullable"] is True
    assert t.snapshot().filter("v IS NULL").count() == 1


def test_append_schema_merge_widens_numeric_types(spark):
    """int-literal appends into a bigint column keep the manifest at
    bigint (Spark mergeSchema's widening rule) instead of flip-flopping
    per writer or raising; a non-widenable mismatch raises."""
    import tempfile as _tf

    path = os.path.join(_tf.mkdtemp(prefix="widen_"), "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.range(0, 5).selectExpr("id as k", "cast(1 as bigint) as w"),
    )
    t.append(spark.range(5, 8).selectExpr("id as k", "7 as w"))  # int literal
    sch = t._state().schema
    assert {f["name"]: f["type"] for f in sch["fields"]}["w"] == "long"
    # widening the other direction too: int table column, long append
    t2 = TxLogTable.create(
        spark,
        os.path.join(os.path.dirname(path), "t2"),
        spark.range(0, 5).selectExpr("id as k", "cast(1 as int) as w"),
    )
    t2.append(
        spark.range(5, 8).selectExpr("id as k", "cast(7 as bigint) as w")
    )
    sch2 = t2._state().schema
    assert {f["name"]: f["type"] for f in sch2["fields"]}["w"] == "long"
    with pytest.raises(CommitConflict, match="not widenable"):
        t2.append(
            spark.range(8, 9).selectExpr("id as k", "string(id) as w")
        )


# -- review r9 third pass ---------------------------------------------------


def test_append_schema_merge_handles_complex_types(spark):
    """Array/struct types are dicts in schema JSON — the merge must
    widen their nullability flags recursively, not crash on an
    unhashable dict or conflict on compatible types (review r9, third
    pass)."""
    import tempfile as _tf

    path = os.path.join(_tf.mkdtemp(prefix="complex_"), "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.range(0, 3).selectExpr(
            "id as k", "array(string(id), NULL) as tags"
        ),
    )
    # F.split yields array<string> with containsNull=false — differs
    # from the created containsNull=true; must commit and keep true
    t.append(
        spark.range(3, 5).selectExpr("id as k", "split(string(id), ',') as tags")
    )
    sch = {f["name"]: f for f in t._state().schema["fields"]}
    assert sch["tags"]["type"]["containsNull"] is True
    assert t.snapshot().count() == 5
    # incompatible element type still conflicts (and unstages)
    before = set(os.listdir(os.path.join(path, _DATA_DIR)))
    with pytest.raises(CommitConflict, match="not widenable"):
        t.append(
            spark.range(5, 6).selectExpr("id as k", "array(id) as tags")
        )
    assert set(os.listdir(os.path.join(path, _DATA_DIR))) == before


def test_stream_reads_files_of_restore_retracted_rename(spark):
    """Files appended while a later-rolled-back rename was live carry
    its NEW physical name; after restore the logical schema reverts.
    The fold emits inverse entries at the restore version, so the tail
    relabels those files to the restored names instead of bricking
    (review r9, third pass)."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    base = _tf.mkdtemp(prefix="stream_retract_")
    path = os.path.join(base, "t")
    t = TxLogTable.create(
        spark, path, spark.range(0, 5).selectExpr("id as a", "id % 2 as g")
    )
    t.rename_column("a", "b")
    t.append(spark.range(5, 8).selectExpr("id as b", "id % 2 as g"))
    t.restore(1)
    assert "a" in t.snapshot().columns
    name = "retract_" + os.path.basename(base)
    q = (
        spark.readStream.format("txlogstream")
        .option("path", path)
        .option("ignore_changes", "true")
        .option("ignore_deletes", "true")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    assert out.columns == ["a", "g"]
    # the tail emits create(0..4) + append(5..7); the restore commit
    # itself is a rewrite skipped by ignore_changes (its re-adds do
    # not replay). The append's files carry physical 'b' and MUST
    # surface under the restored logical name 'a'.
    vals = sorted(r["a"] for r in out.collect())
    assert vals == list(range(8))


def test_stream_declared_version_captured_at_schema_read(spark):
    """A rename landing between schema() and streamReader() must count
    as mid-stream: the reader's declared_version is the version the
    schema was actually read at, not a later head (review r9, third
    pass)."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamDataSource,
    )

    path = os.path.join(_tf.mkdtemp(prefix="declared_v_"), "t")
    t = TxLogTable.create(
        spark, path, spark.range(0, 4).selectExpr("id as a", "id % 2 as g")
    )
    ds = TxLogStreamDataSource(options={"path": path})
    sch = ds.schema()
    assert sch.fieldNames() == ["a", "g"]
    t.rename_column("a", "b")  # lands between schema() and reader init
    reader = ds.streamReader(sch)
    assert reader.declared_version == 1, (
        "declared_version must be the schema-read vintage, not the head"
    )
    # vintage math: a post-rename file (carrying 'b') maps back to the
    # declared 'a' via the backward walk
    from politicamente_etl_spark.sources.txlogstream import (
        _alias_resolution,
        _rename_chain,
    )

    resolve = _alias_resolution(
        _rename_chain(path), ["a", "g"], 3, reader.declared_version
    )
    assert resolve["b"] == "a"


def test_vacuum_checkpoint_rewrite_goes_through_commit_store(spark):
    """The retention checkpoint rewrite is the second store seam: it
    must route through CommitStore.replace so object-store deployments
    keep readers tear-free (review r9, third pass)."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlog import PosixLinkCommitStore

    calls = []

    class RecordingReplace(PosixLinkCommitStore):
        def replace(self, path, payload):
            calls.append(path)
            super().replace(path, payload)

    path = os.path.join(_tf.mkdtemp(prefix="store_rw_"), "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.range(0, 10).selectExpr("id as v"),
        commit_store=RecordingReplace(),
    )
    t.append(spark.range(10, 15).selectExpr("id as v"))
    t.append(spark.range(15, 20).selectExpr("id as v"))
    t.vacuum(retain_versions=1)
    assert len(calls) == 1 and calls[0].endswith(".json")
    assert TxLogTable(spark, path).snapshot().count() == 20


# -- review r9 fourth pass: version-space unification ----------------------


def test_clone_local_rename_aliases_carried_files(spark):
    """The clone's log starts at the SOURCE's head version, so a
    clone-local rename postdates every carried file and aliases them
    all (review r9, fourth pass: with the clone at v1, a local rename
    at v2 never aliased carried files whose source add-version was
    >= 2 — the column read NULL under the new logical name)."""
    import tempfile as _tf

    base = _tf.mkdtemp(prefix="clone_ren_local_")
    src = os.path.join(base, "src")
    t = TxLogTable.create(
        spark, src, spark.range(0, 5).selectExpr("id as a", "id % 2 as g")
    )
    t.append(spark.range(5, 9).selectExpr("id as a", "id % 2 as g"))
    t.append(spark.range(9, 12).selectExpr("id as a", "id % 2 as g"))
    assert t.latest_version() == 3
    clone = t.clone_shallow(os.path.join(base, "c"))
    assert clone.latest_version() == 3, "clone claims the source head"
    clone.rename_column("a", "b")
    snap = clone.snapshot()
    assert snap.columns == ["b", "g"]
    assert snap.filter("b IS NULL").count() == 0, (
        "every carried vintage must alias to the new logical name"
    )
    assert sorted(r["b"] for r in snap.collect()) == list(range(12))


def test_routine_checkpoint_on_clone_commutes_with_append(
    spark, monkeypatch
):
    """Clone-inherited renames keep foreign origins; a routine
    checkpoint on the clone re-carries them and must NOT read as
    'absorbed history' for concurrent appends (review r9, fourth
    pass: the origin>base check aborted every such append)."""
    import tempfile as _tf

    base = _tf.mkdtemp(prefix="clone_ckpt_")
    src = os.path.join(base, "src")
    t = TxLogTable.create(
        spark, src, spark.range(0, 5).selectExpr("id as a", "id % 2 as g")
    )
    t.rename_column("a", "b")
    t.append(spark.range(5, 8).selectExpr("id as b", "id % 2 as g"))
    clone = t.clone_shallow(os.path.join(base, "c"))
    orig = TxLogTable._stage_write
    fired = []

    def hooked(self, df, partition_col=None):
        res = orig(self, df, partition_col)
        if not fired:
            fired.append(True)
            TxLogTable(self.spark, self.path).checkpoint()
        return res

    monkeypatch.setattr(TxLogTable, "_stage_write", hooked)
    v = clone.append(
        spark.range(8, 10).selectExpr("id as b", "id % 2 as g")
    )
    assert v == clone.latest_version()
    assert TxLogTable(spark, os.path.join(base, "c")).snapshot().count() == 10


def test_stream_over_clone_with_reuse_chain(spark):
    """Clone carrying a name-REUSE chain (a->x then b->a): carried
    post-rename files physically hold the redeclared 'a' and must map
    identically, while pre-rename files map a->x — per-file vintages
    from added_versions make both resolvable (review r9, fourth pass:
    vintage=clone-version for all carried files collided the maps)."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    base = _tf.mkdtemp(prefix="clone_reuse_")
    src = os.path.join(base, "src")
    t = TxLogTable.create(
        spark, src, spark.range(0, 4).selectExpr("id as a", "id as b")
    )
    t.rename_column("a", "x")
    t.rename_column("b", "a")
    # post-rename append physically carries [x, a]
    t.append(spark.range(4, 7).selectExpr("id as x", "id as a"))
    t.clone_shallow(os.path.join(base, "c"))
    name = "clone_reuse_" + os.path.basename(base)
    q = (
        spark.readStream.format("txlogstream")
        .option("path", os.path.join(base, "c"))
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    assert out.columns == ["x", "a"]
    rows = sorted((r["x"], r["a"]) for r in out.collect())
    assert rows == [(i, i) for i in range(7)]


def test_stream_snapshot_load_relabels_renamed_vintages(spark):
    """Review r9, sixth pass: the checkpoint initial load must keep
    per-file vintages (added_versions) so pre-rename files relabel to
    the declared name — vintage=checkpoint-version would skip the
    rename map for them."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    base = _tf.mkdtemp(prefix="ck_ren_")
    path = os.path.join(base, "t")
    t = TxLogTable.create(
        spark, path, spark.range(0, 3).selectExpr("id as a")
    )
    t.append(spark.range(3, 5).selectExpr("id as a"))
    t.rename_column("a", "b")
    t.append(spark.range(5, 7).selectExpr("id as b"))
    t.vacuum(retain_versions=1)
    name = "ck_ren_" + os.path.basename(base)
    q = (
        spark.readStream.format("txlogstream")
        .option("path", path)
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    assert out.columns == ["b"]
    assert sorted(r["b"] for r in out.collect()) == list(range(7))


def test_restore_rolls_back_constraints(spark):
    """Review r9, sixth pass: restore replaced generated rules with the
    target's set but left CONSTRAINTS at the head's state — Delta
    RESTORE rolls metadata back. Post-target declarations retire;
    post-target drops re-establish the target's expression."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlog import ConstraintViolation

    path = os.path.join(_tf.mkdtemp(prefix="restore_cons_"), "t")
    t = TxLogTable.create(
        spark, path, spark.range(0, 3).selectExpr("id as k")
    )
    t.set_constraint("k_small", "k < 100")  # v2
    t.restore(1)
    assert t._state().constraints == {}, "post-target constraint retired"
    t.append(spark.range(1).selectExpr("500 as k"))  # no longer gated
    t.set_constraint("k_cap", "k < 1000")  # at head
    head = t.latest_version()
    t.set_constraint("k_cap", None)  # dropped
    t.append(spark.range(1).selectExpr("5000 as k"))
    t.restore(head)
    assert t._state().constraints == {"k_cap": "k < 1000"}, (
        "target's constraint re-established after a later drop"
    )
    with pytest.raises(ConstraintViolation):
        t.append(spark.range(1).selectExpr("5000 as k"))


def test_checkpoint_carries_blooms_through_vacuum(spark):
    """Review r9, sixth pass: the retention checkpoint carried stats /
    tombstones / renames / constraints but dropped per-file Bloom
    zonemaps — a routine vacuum silently lost point-lookup pruning."""
    import tempfile as _tf

    path = os.path.join(_tf.mkdtemp(prefix="ck_bloom_"), "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.range(0, 64).selectExpr(
            "id as k", "cast(id % 4 as bigint) as cl"
        ),
        cluster_file_col="cl",
        bloom_cols=("k",),
    )
    t.append(spark.range(64, 96).selectExpr("id as k"))
    st = t._state()
    bits_before, blooms_before = st.bloom_bits, st.blooms
    assert blooms_before
    t.vacuum(retain_versions=1)
    st = t._state()
    bits_after, blooms_after = st.bloom_bits, st.blooms
    assert bits_after == bits_before
    assert blooms_after == blooms_before, (
        "bloom zonemaps must survive manifest expiry via the checkpoint"
    )


def test_stream_tail_through_double_restore_rename_reuse(spark):
    """Review r9, sixth pass: composing restore inverses through the
    barrier-PRUNED chain walked past the cut regime once a second
    restore dropped the first restore's inverse entries — create a /
    rename a->b / restore / rename a->c / restore yielded a->b and
    c->b (wrong, 'b' is not even declared) instead of b->a and c->a.
    The synthesis now walks the full transition history; every
    appended vintage must surface under the declared post-restore
    name."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamDataSource,
    )

    try:
        spark.dataSource.register(TxLogStreamDataSource)
    except Exception:
        pass
    base = _tf.mkdtemp(prefix="dbl_restore_")
    path = os.path.join(base, "t")
    t = TxLogTable.create(
        spark, path, spark.range(0, 3).selectExpr("id as a")
    )
    t.rename_column("a", "b")
    t.append(spark.range(3, 5).selectExpr("id as b"))
    t.restore(1)
    t.rename_column("a", "c")
    t.append(spark.range(5, 7).selectExpr("id as c"))
    t.restore(1)
    name = "dbl_restore_" + os.path.basename(base)
    q = (
        spark.readStream.format("txlogstream")
        .option("path", path)
        .option("ignore_changes", "true")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = spark.table(name)
    assert out.columns == ["a"]
    assert sorted(r["a"] for r in out.collect()) == list(range(7))


# -- review r9 fifth pass ---------------------------------------------------


def test_batch_read_correct_after_rename_reuse_and_restore(spark):
    """Review r9, fifth pass: with restore-inverse entries in the
    BATCH chain, rename-name reuse (b->c, then d->b, then restore)
    remapped ORIGINAL b-files' physical b to d — duplicate column,
    values under the wrong name. Inverses are stream-only now; the
    batch snapshot must read the original columns exactly."""
    import tempfile as _tf

    path = os.path.join(_tf.mkdtemp(prefix="reuse_restore_"), "t")
    t = TxLogTable.create(
        spark,
        path,
        spark.range(0, 5).selectExpr("id as b", "id * 10 as d"),
    )
    t.rename_column("b", "c")
    t.rename_column("d", "b")
    t.append(spark.range(5, 8).selectExpr("id as c", "id * 10 as b"))
    t.restore(1)
    snap = t.snapshot()
    assert sorted(snap.columns) == ["b", "d"]
    rows = sorted((r["b"], r["d"]) for r in snap.collect())
    assert rows == [(i, i * 10) for i in range(5)]
    # time travel to the pre-restore vintage still sees the renamed view
    pre = t.snapshot(version=4)
    assert sorted(pre.columns) == ["b", "c"]


def test_clone_carries_constraints_and_blooms(spark):
    """Review r9, fifth pass: clone_shallow dropped CHECK constraints
    (writes to the clone skipped the source's invariants) and Bloom
    zonemaps (point-lookup pruning lost)."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlog import ConstraintViolation

    base = _tf.mkdtemp(prefix="clone_cons_")
    src = os.path.join(base, "src")
    t = TxLogTable.create(
        spark,
        src,
        spark.range(0, 64).selectExpr(
            "id as k", "cast(id % 8 as bigint) as cl"
        ),
        cluster_file_col="cl",
        bloom_cols=("k",),
    )
    t.set_constraint("k_nonneg", "k >= 0")
    clone = t.clone_shallow(os.path.join(base, "c"))
    assert clone._state().constraints == {"k_nonneg": "k >= 0"}
    with pytest.raises(ConstraintViolation):
        clone.append(spark.range(1).selectExpr("-5 as k"))
    blooms = clone._state().blooms
    assert blooms, "bloom zonemaps must follow the clone"


def test_stream_raises_on_vacuum_expired_offsets(spark):
    """Review r9, fifth pass: silently skipping vacuum-expired
    versions converted a loud failure into silent data loss. A
    RESUMED stream whose offset range spans expired history must
    raise; a FRESH stream (offset 0) instead takes the retained
    checkpoint's fold as its current-snapshot initial load (sixth
    pass — the behavior the resumed-stream error message promises)."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamReader,
    )

    path = os.path.join(_tf.mkdtemp(prefix="expired_"), "t")
    t = TxLogTable.create(spark, path, spark.range(0, 5).selectExpr("id as v"))
    t.append(spark.range(5, 8).selectExpr("id as v"))
    t.append(spark.range(8, 9).selectExpr("id as v"))
    t.vacuum(retain_versions=1)
    reader = TxLogStreamReader(path, False, field_names=["v"])
    # resumed past v1 only: versions 2-3's rows were never emitted and
    # now live only inside the checkpoint fold — loud failure
    with pytest.raises(RuntimeError, match="expired"):
        reader.partitions({"version": 1}, {"version": t.latest_version()})
    # fresh stream: the checkpoint IS the initial load
    parts = reader.partitions(
        {"version": 0}, {"version": t.latest_version()}
    )
    assert {os.path.relpath(p.abs_path, path) for p in parts} == set(
        t._state().files
    )
    # resumed at the retained head: no gap, no raise
    assert (
        reader.partitions(
            {"version": t.latest_version()},
            {"version": t.latest_version()},
        )
        == []
    )


def test_stream_snapshot_load_requires_ignore_deletes_for_folded_deletes(
    spark,
):
    """Review r9, sixth pass: an initial-load checkpoint that carries
    still-applicable tombstones/DVs holds rows an append-only reader
    would wrongly emit — same ignore_deletes contract as a live
    delete commit."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamReader,
    )

    path = os.path.join(_tf.mkdtemp(prefix="ck_ts_"), "t")
    t = TxLogTable.create(spark, path, spark.range(0, 5).selectExpr("id as v"))
    t.append(spark.range(5, 8).selectExpr("id as v"))
    t.delete_where_logical("v", [6])
    t.vacuum(retain_versions=1)
    reader = TxLogStreamReader(path, False, field_names=["v"])
    with pytest.raises(RuntimeError, match="ignore_deletes"):
        reader.partitions({"version": 0}, {"version": t.latest_version()})
    tolerant = TxLogStreamReader(
        path, False, ignore_deletes=True, field_names=["v"]
    )
    parts = tolerant.partitions(
        {"version": 0}, {"version": t.latest_version()}
    )
    assert len(parts) == len(t._state().files)


def test_stream_skips_clone_never_existed_versions(spark):
    """The clone's log starts at the source head; a fresh stream must
    skip the numbers below it without failed opens or errors."""
    import tempfile as _tf

    from politicamente_etl_spark.sources.txlogstream import (
        TxLogStreamReader,
    )

    base = _tf.mkdtemp(prefix="clone_gap_")
    src = os.path.join(base, "src")
    t = TxLogTable.create(spark, src, spark.range(0, 5).selectExpr("id as v"))
    t.append(spark.range(5, 8).selectExpr("id as v"))
    t.append(spark.range(8, 9).selectExpr("id as v"))
    clone = t.clone_shallow(os.path.join(base, "c"))
    reader = TxLogStreamReader(
        os.path.join(base, "c"), False, field_names=["v"]
    )
    parts = reader.partitions(
        {"version": 0}, {"version": clone.latest_version()}
    )
    assert len(parts) == len(clone._state().files), (
        "one partition per carried file, no error for the gap"
    )
