"""Commit-log table format (sources/txlog.py): atomicity, snapshot
isolation, time travel, file-pruned MERGE, conflict detection, crash
orphans, vacuum, checkpoint, schema evolution."""

from __future__ import annotations

import dataclasses
import json
import os

import pytest
from pyspark.sql import functions as F

from politicamente_etl_spark.sources import sinks
from politicamente_etl_spark.sources.txlog import CommitConflict, TxLogTable

from tests.conftest import SF_DIR


def orders(spark):
    return spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))


def nkeys(df):
    return {r.o_orderkey for r in df.select("o_orderkey").collect()}


@pytest.fixture()
def table(spark, tmp_path):
    o = orders(spark)
    t = TxLogTable.create(
        spark, str(tmp_path / "t"), o.filter(F.col("o_orderkey") % 3 == 0)
    )
    return t


def test_create_append_time_travel(spark, tmp_path, table):
    o = orders(spark)
    n1 = table.snapshot().count()
    assert n1 == o.filter(F.col("o_orderkey") % 3 == 0).count()
    v2 = table.append(o.filter(F.col("o_orderkey") % 3 == 1))
    assert v2 == 2
    assert table.snapshot().count() == o.filter(F.col("o_orderkey") % 3 != 2).count()
    # time travel: version 1 still reads the original contents
    assert table.snapshot(version=1).count() == n1
    ops = [m["op"] for m in table.history()]
    assert ops == ["create", "append"]


def test_overwrite_and_history(spark, table):
    o = orders(spark)
    small = o.limit(10)
    v = table.overwrite(small)
    assert table.snapshot().count() == 10
    assert table.snapshot(version=v - 1).count() > 10
    m = table.history()[-1]
    assert m["op"] == "overwrite" and len(m["removed"]) > 0


def test_merge_semantics_match_upsert_algebra(spark, tmp_path):
    o = orders(spark)
    target = o.filter(F.col("o_orderkey") % 4 < 3)  # keys 0,1,2 mod 4
    batch = o.filter(F.col("o_orderkey") % 4 >= 2).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )  # updates (2) + inserts (3)
    t = TxLogTable.create(spark, str(tmp_path / "m"), target)
    t.merge(batch, ["o_orderkey"])
    got = t.snapshot()
    expect = sinks.upsert(target, batch, ["o_orderkey"])
    assert got.count() == expect.count() == o.count()
    # every key from the batch carries the bumped price
    joined = got.join(batch.select("o_orderkey"), "o_orderkey", "semi")
    base = o.join(batch.select("o_orderkey"), "o_orderkey", "semi")
    assert (
        joined.agg(F.sum("o_totalprice")).first()[0]
        == pytest.approx(base.agg(F.sum("o_totalprice")).first()[0] + 1000.0 * base.count())
    )


def test_merge_prunes_untouched_files(spark, tmp_path):
    o = orders(spark)
    t = TxLogTable.create(spark, str(tmp_path / "p"), o.filter(F.col("o_orderkey") % 2 == 0))
    # three more commits so the table holds several independent file sets
    t.append(o.filter(F.col("o_orderkey") % 2 == 1))
    before = set(t._state().files)
    # batch touches only a handful of keys → at most a few files rewritten
    batch = o.filter(F.col("o_orderkey") % 500 == 0).withColumn(
        "o_orderpriority", F.lit("0-MERGED")
    )
    m = t.merge(batch, ["o_orderkey"])
    stats = m["merge_stats"]
    assert stats["files_rewritten"] + stats["files_preserved"] == len(before)
    # untouched files survive the commit verbatim (no rewrite, same paths)
    preserved = set(t._state().files) & before
    assert len(preserved) == stats["files_preserved"]
    # and the merge result is correct
    assert t.snapshot().count() == o.count()
    assert (
        t.snapshot().filter(F.col("o_orderpriority") == "0-MERGED").count()
        == batch.count()
    )


def test_merge_insert_only_when_no_files_match(spark, tmp_path):
    o = orders(spark)
    t = TxLogTable.create(spark, str(tmp_path / "i"), o.filter(F.col("o_orderkey") % 2 == 0))
    inserts = o.filter(F.col("o_orderkey") % 2 == 1)
    m = t.merge(inserts, ["o_orderkey"])
    assert m["merge_stats"]["files_rewritten"] == 0
    assert t.snapshot().count() == o.count()


def test_crash_orphan_invisible_and_vacuumed(spark, tmp_path, table):
    # simulate a crash after the data write but before the manifest link:
    # stage files with no manifest referencing them
    n = table.snapshot().count()
    orders(spark).limit(5).write.parquet(os.path.join(table.path, "data", "deadbeef"))
    assert table.snapshot().count() == n  # readers never see the orphan
    deleted = table.vacuum()
    assert any("deadbeef" in f for f in deleted)
    assert table.snapshot().count() == n


def test_append_rebases_on_conflict(spark, tmp_path, table):
    # claim the next version out from under an append; append must rebase
    o = orders(spark)
    v = table.latest_version() + 1
    log = os.path.join(table.path, "_txlog", f"{v:020d}.json")
    with open(log, "w") as fh:
        json.dump({"version": v, "op": "append", "added": [], "removed": []}, fh)
    got = table.append(o.limit(7))
    assert got == v + 1
    assert table.history()[-1]["version"] == v + 1


def test_overwrite_and_merge_raise_on_conflict(spark, tmp_path, table, monkeypatch):
    # a competing writer lands its commit AFTER this writer reads table
    # state but BEFORE it commits — the read-modify-write ops must refuse
    o = orders(spark)
    real_stage = TxLogTable._stage_write

    def stage_and_race(self, df):
        out = real_stage(self, df)
        v = len(self._versions()) + 1
        log = os.path.join(self.path, "_txlog", f"{v:020d}.json")
        if not os.path.exists(log):
            with open(log, "w") as fh:
                json.dump({"version": v, "op": "append", "added": [], "removed": []}, fh)
        return out

    monkeypatch.setattr(TxLogTable, "_stage_write", stage_and_race)
    with pytest.raises(CommitConflict):
        table.overwrite(o.limit(3))
    monkeypatch.setattr(TxLogTable, "_stage_write", real_stage)
    with pytest.raises(CommitConflict):
        # same race, injected via the commit step for merge
        real_commit = TxLogTable._try_commit

        def race_commit(self, version, manifest):
            log = os.path.join(self.path, "_txlog", f"{version:020d}.json")
            if not os.path.exists(log):
                with open(log, "w") as fh:
                    json.dump({"version": version, "op": "append", "added": [], "removed": []}, fh)
            return real_commit(self, version, manifest)

        monkeypatch.setattr(TxLogTable, "_try_commit", race_commit)
        table.merge(o.limit(3), ["o_orderkey"])


def test_schema_drift_gate_and_evolution(spark, tmp_path, table):
    o = orders(spark)
    widened = o.limit(20).withColumn("o_flag", F.lit(1))
    with pytest.raises(ValueError, match="schema drift"):
        table.append(widened)
    table.append(widened, merge_schema=True)
    snap = table.snapshot()
    assert "o_flag" in snap.columns
    # old commits null-fill the new column; the widened commit carries it
    assert snap.filter(F.col("o_flag").isNotNull()).count() == 20


def test_checkpoint_and_vacuum_bound_history(spark, tmp_path, table):
    o = orders(spark)
    for i in range(3):
        table.append(o.limit(5 + i))
    table.overwrite(o.limit(11))
    ck = table.checkpoint()
    assert table.snapshot().count() == 11
    assert table.snapshot(version=ck).count() == 11
    # bound time travel to the last 2 versions; earlier manifests drop and
    # files referenced only by expired versions are deleted
    table.vacuum(retain_versions=2)
    versions = [m["version"] for m in table.history()]
    assert len(versions) == 2
    assert table.snapshot().count() == 11
    with pytest.raises(ValueError):
        table.snapshot(version=1)


def test_sinks_merge_upsert_autodetects_txlog(spark, tmp_path):
    o = orders(spark)
    path = str(tmp_path / "auto")
    TxLogTable.create(spark, path, o.filter(F.col("o_orderkey") % 2 == 0))
    sinks.merge_upsert(spark, path, o.filter(F.col("o_orderkey") % 2 == 1), ["o_orderkey"])
    t = TxLogTable(spark, path)
    assert t.history()[-1]["op"] == "merge"
    assert t.snapshot().count() == o.count()


def test_txn_id_append_is_idempotent(spark, tmp_path, table):
    o = orders(spark)
    batch = o.limit(25)
    v1 = table.append(batch, txn_id="job-42")
    n = table.snapshot().count()
    v2 = table.append(batch, txn_id="job-42")  # redelivery
    assert v2 == v1
    assert table.snapshot().count() == n
    assert sum(1 for m in table.history() if m.get("txn_id") == "job-42") == 1
    # a different txn still appends
    v3 = table.append(batch, txn_id="job-43")
    assert v3 == v1 + 1
    assert table.snapshot().count() == n + 25


def test_scan_data_skipping_prunes_files_and_preserves_semantics(spark, tmp_path):
    o = orders(spark).repartitionByRange(8, "o_orderkey")
    t = TxLogTable.create(spark, str(tmp_path / "z"), o)
    # range predicate that lands in a couple of range-partitioned files
    lo, hi = 200, 400
    kept, total = t.scan_files({"o_orderkey": (lo, hi)})
    assert total >= 8
    assert 0 < len(kept) < total  # proves real skipping happened
    got = t.scan({"o_orderkey": (lo, hi)})
    expect = t.snapshot().filter(
        (F.col("o_orderkey") >= lo) & (F.col("o_orderkey") <= hi)
    )
    assert got.count() == expect.count()
    assert nkeys(got) == nkeys(expect)


def test_scan_without_stats_reads_everything(spark, tmp_path, table):
    # wipe the stats from every manifest: scan must degrade to full read,
    # never to wrong answers
    for v in table._versions():
        m = table._read_manifest(v)
        m.pop("stats", None)
        with open(os.path.join(table.path, "_txlog", f"{v:020d}.json"), "w") as fh:
            json.dump(m, fh)
    kept, total = table.scan_files({"o_orderkey": (0, 5)})
    assert len(kept) == total
    got = table.scan({"o_orderkey": (0, 5)})
    expect = table.snapshot().filter(F.col("o_orderkey").between(0, 5))
    assert got.count() == expect.count()


def test_scan_after_checkpoint_and_vacuum_keeps_stats(spark, tmp_path):
    o = orders(spark).repartitionByRange(8, "o_orderkey")
    t = TxLogTable.create(spark, str(tmp_path / "ck"), o)
    t.append(orders(spark).limit(0))  # extra version so vacuum has history
    t.checkpoint()
    t.vacuum(retain_versions=1)
    kept, total = t.scan_files({"o_orderkey": (200, 400)})
    assert 0 < len(kept) < total  # stats survived the log rewrite


def test_optimize_compacts_without_changing_data(spark, tmp_path):
    o = orders(spark)
    t = TxLogTable.create(spark, str(tmp_path / "opt"), o.limit(0))
    for i in range(6):  # six tiny single-file commits
        t.append(o.filter(F.col("o_orderkey") % 6 == i).coalesce(1))
    pre_files = len(t._state().files)
    pre_keys = nkeys(t.snapshot())
    pre_version = t.latest_version()
    res = t.optimize(target_file_bytes=1024 * 1024 * 1024)
    assert res["files_compacted"] == pre_files
    assert len(t._state().files) < pre_files
    assert nkeys(t.snapshot()) == pre_keys  # data bit-unchanged
    # time travel to a pre-optimize version still resolves
    assert t.snapshot(version=pre_version).count() == len(pre_keys)
    # zonemap stats were recomputed for the compacted files
    assert all(t._state().stats.values())


def test_table_changes_classifies_merge_delta(spark, tmp_path):
    o = orders(spark)
    t = TxLogTable.create(spark, str(tmp_path / "cdf"), o.filter(F.col("o_orderkey") % 2 == 0))
    batch = o.filter(F.col("o_orderkey") % 3 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 1000.0
    )
    t.merge(batch, ["o_orderkey"])
    ch = t.table_changes(1, 2, ["o_orderkey"], ["o_totalprice"])
    got = {
        r["change_type"]: r["n"]
        for r in ch.groupBy("change_type").agg(F.count("*").alias("n")).collect()
    }
    n_upd = o.filter(F.col("o_orderkey") % 6 == 0).count()
    n_ins = o.filter(F.col("o_orderkey") % 6 == 3).count()
    assert got == {"update": n_upd, "insert": n_ins}


def test_merge_zonemap_preprune_skips_disjoint_files(spark, tmp_path):
    o = orders(spark).repartitionByRange(8, "o_orderkey")
    t = TxLogTable.create(spark, str(tmp_path / "zp"), o)
    # narrow-key batch: only range-overlapping files enter the semi-join
    batch = orders(spark).filter(
        F.col("o_orderkey").between(100, 200)
    ).withColumn("o_orderpriority", F.lit("0-ZP"))
    m = t.merge(batch, ["o_orderkey"])
    st = m["merge_stats"]
    assert st["files_skipped_by_stats"] > 0
    assert (
        st["files_skipped_by_stats"] + st["files_rewritten"]
        <= st["files_rewritten"] + st["files_preserved"]
    )
    # semantics unchanged
    assert t.snapshot().count() == orders(spark).count()
    assert (
        t.snapshot().filter(F.col("o_orderpriority") == "0-ZP").count()
        == batch.count()
    )


def test_concurrent_appends_all_commit_exactly_once(spark, tmp_path):
    # REAL concurrency (threads, no monkeypatching): 4 writers x 5
    # appends race on the same log; the link-based put-if-absent must
    # serialize them with zero lost or duplicated commits.
    import threading

    o = orders(spark)
    t = TxLogTable.create(spark, str(tmp_path / "cc"), o.limit(0))
    batches = {
        w: [o.filter(F.col("o_orderkey") % 20 == w * 5 + i) for i in range(5)]
        for w in range(4)
    }
    errors = []

    def writer(w):
        try:
            handle = TxLogTable(spark, t.path)  # own handle, shared log
            for df in batches[w]:
                handle.append(df)
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == []
    hist = t.history()
    assert len(hist) == 21  # create + 20 appends
    assert [m["version"] for m in hist] == list(range(1, 22))
    assert t.snapshot().count() == o.count()
    assert nkeys(t.snapshot()) == nkeys(o)


def test_append_after_vacuum_of_version_one(spark, tmp_path, table):
    # vacuum(retain_versions) deletes manifest 1; schema checks and
    # appends must keep working off the retained log
    o = orders(spark)
    table.append(o.limit(5))
    table.append(o.limit(6))
    table.vacuum(retain_versions=1)
    n = table.snapshot().count()
    table.append(o.limit(7))
    assert table.snapshot().count() == n + 7


def test_snapshot_provenance_column(spark, tmp_path, table):
    o = orders(spark)
    table.append(o.filter(F.col("o_orderkey") % 3 == 1))
    snap = table.snapshot(provenance=True)
    assert "_commit_version" in snap.columns
    by_ver = {
        r._commit_version: r.n
        for r in snap.groupBy("_commit_version").agg(F.count("*").alias("n")).collect()
    }
    assert by_ver[1] == o.filter(F.col("o_orderkey") % 3 == 0).count()
    assert by_ver[2] == o.filter(F.col("o_orderkey") % 3 == 1).count()
    # plain snapshot is unchanged
    assert "_commit_version" not in table.snapshot().columns


def test_restore_rolls_back_as_new_commit(spark, tmp_path, table):
    o = orders(spark)
    v1_keys = nkeys(table.snapshot())
    table.merge(
        o.withColumn("o_orderpriority", F.lit("BAD-LOAD")), ["o_orderkey"]
    )
    assert table.snapshot().count() == o.count()
    v = table.restore(1)
    assert v == 3
    assert nkeys(table.snapshot()) == v1_keys
    assert table.snapshot().filter(F.col("o_orderpriority") == "BAD-LOAD").count() == 0
    # history preserved: the bad merge is still inspectable
    assert [m["op"] for m in table.history()] == ["create", "merge", "restore"]
    # and the restore commit still prunes/scans via carried-forward stats
    assert table._state().stats


def test_delete_keys_prunes_and_round_trips(spark, tmp_path):
    o = orders(spark)
    # key-range-clustered commits -> disjoint zonemaps per file set
    t = TxLogTable.create(
        spark, str(tmp_path / "d"), o.filter(F.col("o_orderkey") <= 1000)
    )
    t.append(o.filter((F.col("o_orderkey") > 1000) & (F.col("o_orderkey") <= 2000)))
    t.append(o.filter(F.col("o_orderkey") > 2000))
    before = set(t._state().files)
    # subjects live only in the low key range -> high-range files must be
    # skipped by zonemap stats, untouched files survive verbatim
    subjects = o.filter(F.col("o_orderkey") <= 50).select("o_orderkey")
    n_subj_rows = o.filter(F.col("o_orderkey") <= 50).count()
    m = t.delete_keys(subjects, ["o_orderkey"])
    st = m["delete_stats"]
    assert st["files_rewritten"] + st["files_preserved"] == len(before)
    assert st["files_skipped_by_stats"] >= 1
    assert st["rows_removed"] == n_subj_rows
    preserved = set(t._state().files) & before
    assert len(preserved) == st["files_preserved"]
    # post-delete state == source minus subjects, exactly
    got = {r["o_orderkey"] for r in t.snapshot().select("o_orderkey").collect()}
    want = {
        r["o_orderkey"]
        for r in o.filter(F.col("o_orderkey") > 50).select("o_orderkey").collect()
    }
    assert got == want
    # prior version still shows the deleted rows (logical-now erasure);
    # vacuum is the physical step
    prev = t.snapshot(version=m["version"] - 1)
    assert prev.count() == len(want) + n_subj_rows


def test_delete_keys_everything_in_a_file(spark, tmp_path):
    o = orders(spark)
    t = TxLogTable.create(
        spark, str(tmp_path / "e"), o.filter(F.col("o_orderkey") <= 100)
    )
    t.append(o.filter(F.col("o_orderkey") > 100))
    # delete EVERY row of the first commit's range: the rewrite of that
    # file set yields zero survivors -> no staged files, removal only
    m = t.delete_keys(
        o.filter(F.col("o_orderkey") <= 100).select("o_orderkey"),
        ["o_orderkey"],
    )
    assert m["delete_stats"]["rows_removed"] == o.filter(
        F.col("o_orderkey") <= 100
    ).count()
    assert t.snapshot().count() == o.filter(F.col("o_orderkey") > 100).count()


def test_each_op_folds_the_log_once(spark, tmp_path, monkeypatch):
    """Table state is one fold of the log per op: scan() and snapshot()
    list `_txlog/` once, merge() at most twice."""

    def batch(lo, hi):
        return spark.range(lo, hi).selectExpr("id as k", "id * 2 as v")

    t = TxLogTable.create(spark, str(tmp_path / "t"), batch(0, 10))
    for i in range(1, 3):
        t.append(batch(i * 10, i * 10 + 10))
    listings = []
    real_listdir = os.listdir

    def counting_listdir(p="."):
        if os.path.basename(os.path.normpath(str(p))) == "_txlog":
            listings.append(p)
        return real_listdir(p)

    monkeypatch.setattr(os, "listdir", counting_listdir)

    def n_listings(op):
        listings.clear()
        op()
        return len(listings)

    assert n_listings(lambda: t.scan({"k": (5, 5)}).collect()) == 1
    assert n_listings(lambda: t.snapshot().count()) == 1
    assert n_listings(lambda: t.merge(batch(5, 15), ["k"])) <= 2


def _rerooted(st, reroot=lambda p: p):
    """`st` with every data and sidecar path mapped through `reroot`,
    files sorted and add versions limited to live files — the view a
    shallow clone carries."""
    return dataclasses.replace(
        st,
        files=sorted(reroot(f) for f in st.files),
        add_versions={reroot(f): st.add_versions.get(f, 0) for f in st.files},
        stats={reroot(f): s for f, s in st.stats.items()},
        blooms={reroot(f): b for f, b in st.blooms.items()},
        tombstones=[
            (v, k, vals, None if p is None else reroot(p), n)
            for v, k, vals, p, n in st.tombstones
        ],
        dv_entries=[(v, reroot(p), n) for v, p, n in st.dv_entries],
    )


def test_state_survives_checkpoint_restore_and_clone(spark, tmp_path):
    """One log carrying every state field — blooms, a rename, a
    generated rule, a constraint, inline and sidecar tombstones, a DV —
    folds to the same state after checkpoint() and restore(head), and a
    shallow clone folds to it once paths are re-rooted."""
    src = str(tmp_path / "src")
    t = TxLogTable.create(
        spark,
        src,
        spark.range(0, 64).selectExpr(
            "id as k", "id as v", "id * 2 as g", "id % 4 as cl"
        ),
        cluster_file_col="cl",
        bloom_cols=("k",),
    )
    t.append(spark.range(64, 80).selectExpr("id as k", "id as v", "id * 2 as g"))
    t.rename_column("v", "w")
    t.set_generated_column("g", "k * 2")
    t.set_constraint("k_nonneg", "k >= 0")
    t.append(spark.range(80, 96).selectExpr("id as k", "id as w"))
    t.delete_where_logical("k", [1, 2])
    t.delete_where_logical("k", keys_df=spark.range(3, 5).selectExpr("id as k"))
    t.delete_where_rowindex("k = 70")
    head = t._state()
    assert head.bloom_bits and head.blooms
    assert head.renames and head.generated and head.constraints
    assert {p is None for _v, _k, _vals, p, _n in head.tombstones} == {True, False}
    assert head.dvs and head.dv_fence is None
    assert any("w" in s for s in head.stats.values())

    dest = str(tmp_path / "clone")
    clone = t.clone_shallow(dest)

    def reroot(p):
        return os.path.relpath(os.path.join(src, p), dest)

    assert _rerooted(clone._state()) == _rerooted(head, reroot)

    t.checkpoint()
    after_ck = t._state()
    assert dataclasses.replace(after_ck, version=head.version) == head
    t.restore(after_ck.version)
    after_restore = t._state()
    assert dataclasses.replace(after_restore, version=head.version) == head


def test_rewrite_targets_on_url_encoded_root(spark, tmp_path):
    """input_file_name() URL-encodes the path: merge, delete_keys and
    sync_from on a root holding a space and a '%' must find the same
    files to rewrite as on a plain root."""

    def run(root):
        t = TxLogTable.create(
            spark, str(root), spark.range(0, 10).selectExpr("id as k", "'a' as v")
        )
        t.merge(spark.range(5, 15).selectExpr("id as k", "'b' as v"), ["k"])
        d = t.delete_keys(spark.range(0, 3).selectExpr("id as k"), ["k"])
        after_delete = sorted(tuple(r) for r in t.snapshot().collect())
        t.sync_from(spark.range(4, 12).selectExpr("id as k", "'c' as v"), ["k"])
        after_sync = sorted(tuple(r) for r in t.snapshot().collect())
        return after_delete, d["delete_stats"]["rows_removed"], after_sync

    plain = run(tmp_path / "plain")
    assert plain == (
        [(k, "a") for k in range(3, 5)] + [(k, "b") for k in range(5, 15)],
        3,
        [(k, "c") for k in range(4, 12)],
    )
    assert run(tmp_path / "my table%x") == plain
