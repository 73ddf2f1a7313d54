"""Round-9 batch: driver-level proofs of the round's storage-layer
fixes (ADVICE r8) and the new commit-coordinator seam (VERDICT r8
item 4) — kept to five registrations per the pending-queue freeze
(VERDICT r8 item 5).

1. txlog_clustered_dv_proof — deletion vectors on a clustered layout
   whose part-file BASENAMES collide across partition dirs (the exact
   hazard the path-addressing fix closes).
2. txlog_rename_rebase_conflict_proof — the two-sided rename
   non-commutation guard: an in-flight write refuses to rebase past a
   winning rename instead of silently committing stale-named files.
3. streaming_txlog_rename_tail — the stream source relabels batches by
   NAME via the rename chain (old vintage + reordered projection), not
   by position.
4. txlog_commit_store_audit — a table driven end-to-end through a mock
   external commit coordinator (the object-store seam), including a
   lost claim that must rebase.
5. txlog_lease_reclaim_proof — vacuum reclaims the obsolete .inflight
   lease of a committed sidecar (crash between commit and release).

Each query pairs a Spark-first plan with a DuckDB oracle; compared
aggregates are exact integers (counts / key checksums / 0-1 flags) so
value hashes match bit-for-bit across engines.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _register():
    from politicamente_etl_spark.plans.catalog import T, register

    @register(
        "txlog_clustered_dv_proof",
        sql="""
        SELECT 'clustered_dv' AS label,
               TRUE AS has_dup_basenames,
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderkey % 97 = 5) AS BIGINT) AS rows_deleted,
               CAST(COUNT(*) AS BIGINT) AS n_after,
               CAST(SUM(o_orderkey) AS BIGINT) AS key_sum_after
        FROM orders WHERE o_orderkey % 97 != 5
        """,
        tags=("ext-sink", "ext-storage"),
    )
    def q_txlog_clustered_dv_proof(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Deletion vectors on a CLUSTERED file layout (ADVICE r8,
        high): `_stage_write(partition_col=...)` runs one shuffle task
        per hash bucket and `partitionBy` splits each task's output per
        cluster value, so two values landing in the same task produce
        files with IDENTICAL part-file basenames in sibling partition
        dirs. The cluster count (max(300, shuffle partitions + 64),
        dense row_number ids so every residue is present) keeps
        distinct values strictly above the task count under any
        config, so pigeonhole guarantees such collisions
        (`has_dup_basenames` is pinned TRUE and measured, not
        assumed) — under the old
        (basename, ordinal) DV addressing the delete below would have
        silently killed same-ordinal rows in every colliding sibling;
        under data-root-relative path addressing exactly the predicate
        rows die. 100 TB: clustered layouts are the NORM (zonemap
        pruning wants them), so DV correctness on them is table stakes;
        the proof reads back count + full key checksum, which any
        cross-file overreach breaks. Ref: sources/txlog.py
        _with_row_address / _dv_rows_df; Delta DVs and Iceberg
        positional deletes key on file path for the same reason."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        # collision forcing must hold under ANY shuffle-partition
        # config: one file per distinct cluster value, with more values
        # than write tasks ⇒ pigeonhole guarantees a shared task ⇒
        # duplicate basenames. Scale the cluster count off the session
        # setting instead of pinning 300 (review r9, first pass). The
        # oracle columns are all independent of the cluster count.
        try:
            n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
        except Exception:
            n_part = 200
        n_clusters = max(300, n_part + 64)
        from pyspark.sql import Window

        # dense row_number % n_clusters ⇒ every residue is PRESENT
        # (rows ≥ n_clusters at every SF), so distinct cluster values
        # strictly exceed the write-task count under any config
        o = T(spark, sf_dir, "orders").select(
            "o_orderkey",
            "o_custkey",
            (
                F.row_number().over(Window.orderBy("o_orderkey"))
                % n_clusters
            ).alias("cl"),
        )
        base = tempfile.mkdtemp(prefix="txlog_cldv_")
        t = TxLogTable.create(
            spark, os.path.join(base, "t"), o, cluster_file_col="cl"
        )
        rels = t._state().files
        basenames = [os.path.basename(r) for r in rels]
        has_dups = len(set(basenames)) < len(basenames)
        m = t.delete_where_rowindex("o_orderkey % 97 = 5")
        return t.snapshot().agg(
            F.lit("clustered_dv").alias("label"),
            F.lit(bool(has_dups)).alias("has_dup_basenames"),
            F.lit(int(m["delete_stats"]["n_rows"]))
            .cast("long")
            .alias("rows_deleted"),
            F.count("*").cast("long").alias("n_after"),
            F.sum("o_orderkey").cast("long").alias("key_sum_after"),
        )

    @register(
        "txlog_rename_rebase_conflict_proof",
        sql="""
        SELECT 'append_conflicts' AS step,
               CAST(1 AS BIGINT) AS flag,
               CAST((SELECT COUNT(*) FROM nation) AS BIGINT) AS n_rows
        UNION ALL
        SELECT 'tombstone_conflicts', CAST(1 AS BIGINT),
               CAST((SELECT COUNT(*) FROM nation) AS BIGINT)
        UNION ALL
        SELECT 'retry_on_new_head', CAST(0 AS BIGINT),
               CAST((SELECT COUNT(*) FROM nation) + 1 AS BIGINT)
        ORDER BY step
        """,
        tags=("ext-sink", "ext-storage"),
    )
    def q_txlog_rename_rebase_conflict_proof(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Two-sided rename non-commutation (ADVICE r8, medium):
        rename_column already refused to rebase when IT lost the OCC
        race; now the in-flight writer refuses too. The interleave is
        driven through the REAL rebase loops — racer subclasses commit
        the rename inside the staging hook, between the write's
        snapshot and its version claim (review r9, first pass:
        re-calling the classifier alone stays green even if the loops
        stop consulting it) — so a regression in either loop's
        conflict check or unstaging turns this row red. Blindly
        rebasing would link in files carrying the OLD physical name
        that POSTDATE the rename (reads never alias them: the column
        is NULL under the logical name), or commit a tombstone keyed
        on a name that no longer matches any file. The flags fold in
        the unstaging proof (flag -1 if the table's row count moved);
        the retry against the new head commits clean under the new
        logical name. Ref: sources/txlog.py _rebase_conflict_since +
        append/delete_where_logical rebase loops; Delta raises the
        same conflict class for metadata-update races."""
        from politicamente_etl_spark.sources.txlog import (
            CommitConflict,
            TxLogTable,
        )

        class AppendRacer(TxLogTable):
            def _stage_write(self, df, partition_col=None):
                res = super()._stage_write(df, partition_col)
                TxLogTable(self.spark, self.path).rename_column(
                    "n_nationkey", "nation_id"
                )
                return res

        class TombstoneRacer(TxLogTable):
            def _stage_tombstone_sidecar(self, keys_df, key_col):
                tomb = super()._stage_tombstone_sidecar(keys_df, key_col)
                TxLogTable(self.spark, self.path).rename_column(
                    "n_name", "nation_name"
                )
                return tomb

        n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        base = tempfile.mkdtemp(prefix="txlog_renrace_")
        n_nation = n.count()

        path_a = os.path.join(base, "a")
        TxLogTable.create(spark, path_a, n)
        append_conflict = 0
        try:
            AppendRacer(spark, path_a).append(
                spark.range(900, 901).select(
                    F.col("id").cast("int").alias("n_nationkey"),
                    F.lit("ATLANTIS").alias("n_name"),
                )
            )
        except CommitConflict:
            append_conflict = 1
        n_after_a = TxLogTable(spark, path_a).snapshot().count()

        path_b = os.path.join(base, "b")
        TxLogTable.create(spark, path_b, n)
        tomb_conflict = 0
        try:
            TombstoneRacer(spark, path_b).delete_where_logical(
                "n_name",
                keys_df=spark.createDataFrame([("BRAZIL",)], ["n_name"]),
            )
        except CommitConflict:
            tomb_conflict = 1
        n_after_b = TxLogTable(spark, path_b).snapshot().count()

        # retry against the new head under the new logical name
        fresh = TxLogTable(spark, path_a)
        fresh.append(
            spark.range(900, 901).select(
                F.col("id").cast("int").alias("nation_id"),
                F.lit("ATLANTIS").alias("n_name"),
            )
        )
        n_total = fresh.snapshot().count()
        data = [
            (
                "append_conflicts",
                append_conflict if n_after_a == n_nation else -1,
                n_after_a,
            ),
            (
                "tombstone_conflicts",
                tomb_conflict if n_after_b == n_nation else -1,
                n_after_b,
            ),
            ("retry_on_new_head", 0, n_total),
        ]
        return (
            spark.createDataFrame(data, ["step", "flag", "n_rows"])
            .select(
                "step",
                F.col("flag").cast("long").alias("flag"),
                F.col("n_rows").cast("long").alias("n_rows"),
            )
            .orderBy("step")
        )

    @register(
        "streaming_txlog_rename_tail",
        sql="""
        WITH ev AS (
            SELECT event_id, CAST(user_id AS BIGINT) AS uid
            FROM events WHERE event_id % 5 = 0
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               CAST(SUM(event_id) AS BIGINT) AS eid_sum,
               CAST(SUM(uid) AS BIGINT) AS uid_sum
        FROM ev
        """,
        tags=("ext-streaming", "ext-storage"),
    )
    def q_streaming_txlog_rename_tail(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The stream source across a MID-HISTORY RENAME (ADVICE r8,
        low): three vintages flow through one tail — (a) pre-rename
        files carrying the old physical name `event_id`, (b) a
        post-rename append carrying `eid` natively, and (c) a
        post-rename append staged with a REVERSED projection order
        (uid first). The reader relabels every batch by NAME through
        the rename chain (`_alias_resolution`): vintage (a) maps
        old→new, vintage (c) is reordered to the declared schema —
        the old positional relabel would have silently swapped its
        columns, corrupting both sums. ignore_changes skips the
        rename commit itself (Delta's ignoreChanges contract). The
        rollup must equal the raw batch rollup: rows crossed write →
        rename → stream exactly once, correctly labeled. Ref:
        sources/txlogstream.py read()/_alias_resolution."""
        from politicamente_etl_spark.plans.catalog import load_events
        from politicamente_etl_spark.sources.txlog import TxLogTable
        from politicamente_etl_spark.sources.txlogstream import (
            TxLogStreamDataSource,
        )

        try:
            spark.dataSource.register(TxLogStreamDataSource)
        except Exception:
            pass  # already registered in this session
        ev = (
            load_events(spark, sf_dir)
            .filter(F.col("event_id") % 5 == 0)
            .select(
                "event_id", F.col("user_id").cast("long").alias("uid")
            )
        )
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_rentail_"), "t")
        t = TxLogTable.create(spark, path, ev.filter("event_id % 3 = 0"))
        t.rename_column("event_id", "eid")
        post = ev.filter("event_id % 3 != 0").withColumnRenamed(
            "event_id", "eid"
        )
        t.append(post.filter("eid % 3 = 1"))
        # reversed projection order: relabel-by-position would swap
        t.append(post.filter("eid % 3 = 2").select("uid", "eid"))
        name = "rentail_" + os.path.basename(os.path.dirname(path))
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
        return spark.table(name).agg(
            F.count("*").cast("long").alias("n_rows"),
            F.sum("eid").cast("long").alias("eid_sum"),
            F.sum("uid").cast("long").alias("uid_sum"),
        )

    @register(
        "txlog_commit_store_audit",
        sql="""
        SELECT CAST(3 AS BIGINT) AS commits_via_store,
               CAST(1 AS BIGINT) AS lost_claims_rebased,
               CAST(COUNT(*) + 10 AS BIGINT) AS n_rows,
               -- 100..104 sum 510 + 200..204 sum 1010 = 1520 appended keys
               CAST(SUM(n_nationkey) + 1520 AS BIGINT) AS key_sum
        FROM nation
        """,
        tags=("ext-sink", "ext-storage"),
    )
    def q_txlog_commit_store_audit(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """The pluggable COMMIT COORDINATOR seam (VERDICT r8 item 4 —
        the Delta LogStore split): every version claim goes through
        CommitStore.put_if_absent, here a mock EXTERNAL coordinator
        (lock-arbitrated claim table + plain file write — the DynamoDB
        role in Delta's S3 store). The audit drives create + two
        appends through it, injects ONE lost claim (the coordinator
        reports the version taken), and proves the writer rebased
        through the store rather than around it: exactly 3 winning
        claims, exactly 1 loss, and the table contents equal to the
        three batches. A fresh default-store handle reads the same
        bytes — only the claim is coordinated, storage stays plain
        immutable objects, which is precisely what an object-store
        deployment needs (conditional put / external lock) at 100 TB.
        Ref: sources/txlog.py CommitStore/PosixLinkCommitStore."""
        import threading

        from politicamente_etl_spark.sources.txlog import (
            CommitStore,
            TxLogTable,
        )

        class MockCoordinator(CommitStore):
            def __init__(self):
                self.lock = threading.Lock()
                self.claims: set[str] = set()
                self.wins = 0
                self.losses = 0
                self.fail_next = 0

            def put_if_absent(self, p: str, payload: str) -> bool:
                with self.lock:
                    if self.fail_next > 0 or p in self.claims:
                        self.fail_next = max(0, self.fail_next - 1)
                        self.losses += 1
                        return False
                    self.claims.add(p)
                    self.wins += 1
                os.makedirs(os.path.dirname(p), exist_ok=True)
                tmp = p + ".staged"
                with open(tmp, "w") as fh:
                    fh.write(payload)
                os.replace(tmp, p)
                return True

        n = T(spark, sf_dir, "nation").select("n_nationkey", "n_name")
        store = MockCoordinator()
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_cstore_"), "t")
        t = TxLogTable.create(spark, path, n, commit_store=store)
        t.append(
            spark.range(100, 105).select(
                F.col("id").cast("int").alias("n_nationkey"),
                F.lit("X").alias("n_name"),
            )
        )
        store.fail_next = 1  # the next claim loses once, then rebases
        t.append(
            spark.range(200, 205).select(
                F.col("id").cast("int").alias("n_nationkey"),
                F.lit("Y").alias("n_name"),
            )
        )
        snap = TxLogTable(spark, path).snapshot()
        return snap.agg(
            F.lit(int(store.wins)).cast("long").alias("commits_via_store"),
            F.lit(int(store.losses)).cast("long").alias("lost_claims_rebased"),
            F.count("*").cast("long").alias("n_rows"),
            F.sum("n_nationkey").cast("long").alias("key_sum"),
        )

    @register(
        "txlog_lease_reclaim_proof",
        sql="""
        SELECT 'crash_window' AS phase,
               CAST(1 AS BIGINT) AS marker_present,
               CAST(1 AS BIGINT) AS sidecar_alive,
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderkey % 13 != 4) AS BIGINT) AS n_visible
        UNION ALL
        SELECT 'post_vacuum', CAST(0 AS BIGINT), CAST(1 AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderkey % 13 != 4) AS BIGINT)
        UNION ALL
        SELECT 'post_expiry', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
               CAST((SELECT COUNT(*) FROM orders
                     WHERE o_orderkey % 13 != 4) AS BIGINT)
        ORDER BY phase
        """,
        tags=("ext-sink", "ext-storage"),
    )
    def q_txlog_lease_reclaim_proof(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Sidecar LEASE lifecycle across a writer crash (ADVICE r8,
        low): the writer stages a tombstone sidecar (lease marker
        created with the dir), its manifest COMMITS, and it dies
        before releasing the lease. Three phases prove the repaired
        lifecycle: (crash_window) marker present, delete visible —
        the commit, not the lease, governs visibility; (post_vacuum)
        vacuum sees the sidecar is manifest-referenced, so the lease
        is obsolete — it unlinks the marker and keeps the dir;
        (post_expiry) optimize materializes the tombstone, checkpoint
        + retention expire the referencing manifests, and the DEFAULT
        sweep reclaims the sidecar — previously impossible: the stale
        lease shielded it forever without the manual
        reclaim_inflight_after_sec override. n_visible is constant
        across phases (physical lifecycle never changes logical
        contents). Ref: sources/txlog.py vacuum()."""
        from politicamente_etl_spark.sources.txlog import TxLogTable

        o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
        path = os.path.join(tempfile.mkdtemp(prefix="txlog_lease_"), "t")
        t = TxLogTable.create(spark, path, o)
        t.append(o.limit(0))  # extra version so retention has history
        tomb = t._stage_tombstone_sidecar(
            o.filter(F.col("o_orderkey") % 13 == 4).select("o_orderkey"),
            "o_orderkey",
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

        def phase(label):
            return (
                label,
                int(os.path.exists(marker)),
                int(os.path.isdir(abs_dir)),
                t.snapshot().count(),
            )

        rows = [phase("crash_window")]
        t.vacuum()
        rows.append(phase("post_vacuum"))
        t.optimize()
        t.checkpoint()
        t.vacuum(retain_versions=1, sidecar_grace_sec=0.0)
        rows.append(phase("post_expiry"))
        return (
            spark.createDataFrame(
                rows, ["phase", "marker_present", "sidecar_alive", "n_visible"]
            )
            .select(
                "phase",
                F.col("marker_present").cast("long").alias("marker_present"),
                F.col("sidecar_alive").cast("long").alias("sidecar_alive"),
                F.col("n_visible").cast("long").alias("n_visible"),
            )
            .orderBy("phase")
        )


_register()
