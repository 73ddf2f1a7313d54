#!/usr/bin/env python
"""Round-7 CDF probe: a FIXED 200-key merge on a 1× vs 4× table, timing
the change feed both ways — the round-7 changed-files-only
table_changes vs the old full-snapshot diff (reconstructed inline).

Expected shapes:
- changed-files CDF: ~flat at 4× (the merge touches a bounded key range
  → bounded file set; untouched files never enter the diff).
- full-snapshot diff: ~linear at 4× (both snapshots shuffle entirely
  through the full-outer join regardless of how little changed).

Writes nothing to the repo; probe data lands in /tmp. Results recorded
in SCALING.md (run manually, not in CI).

Usage: python tools/r12_cdf_probe.py [ROWS]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from politicamente_etl_spark.operators import cdc  # noqa: E402
from politicamente_etl_spark.session import get_spark  # noqa: E402
from politicamente_etl_spark.sources.txlog import TxLogTable  # noqa: E402

ROWS = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000


def run(n_rows: int) -> dict:
    spark = run.spark
    root = tempfile.mkdtemp(prefix=f"cdfprobe_{n_rows}_")
    df = spark.range(1, n_rows + 1).select(
        F.col("id").alias("k"), (F.col("id") * 7 % 1000).alias("v")
    )
    # key-clustered layout: 16 files, each spanning a contiguous k range,
    # so the bounded-key merge provably touches few files (the zonemap
    # pre-prune path) — the layout a maintained 100 TB table would have
    t = TxLogTable.create(
        spark,
        os.path.join(root, "t"),
        df.withColumn("b", (F.col("k") * 16 / (n_rows + 1)).cast("int")),
        cluster_file_col="b",
    )
    batch = spark.range(1, 201).select(
        F.col("id").alias("k"), F.lit(-1).alias("v")
    )
    m = t.merge(batch, ["k"])

    def best_of(fn, n=3):
        best, out = float("inf"), None
        for _ in range(n):
            t0 = time.perf_counter()
            out = fn()
            best = min(best, time.perf_counter() - t0)
        return best, out

    changed_files_sec, n_changed = best_of(
        lambda: t.table_changes(1, 2, ["k"], ["v"]).count()
    )
    full_snapshot_sec, n_full = best_of(
        lambda: cdc.snapshot_diff(
            t.snapshot(1), t.snapshot(2), ["k"], ["v"]
        ).count()
    )
    # the structural number (timing at these sizes is fixed-cost
    # dominated): how many data files each form actually reads
    f1, f2 = set(t._state(1).files), set(t._state(2).files)
    files_changed_form = len(f1 ^ f2)
    files_full_form = len(f1) + len(f2)
    shutil.rmtree(root)
    return {
        "rows": n_rows,
        "files_rewritten": m["merge_stats"]["files_rewritten"],
        "files_preserved": m["merge_stats"]["files_preserved"],
        "n_changes": n_changed,
        "n_changes_full_diff": n_full,
        "changed_files_cdf_sec": round(changed_files_sec, 3),
        "full_snapshot_diff_sec": round(full_snapshot_sec, 3),
        "files_read_changed_form": files_changed_form,
        "files_read_full_form": files_full_form,
    }


def main() -> None:
    run.spark = get_spark(app_name="cdf-probe", cpus="8")
    run.spark.sparkContext.setLogLevel("ERROR")
    run(ROWS // 10)  # warmup: JIT, codegen, parquet footer paths
    r1 = run(ROWS)
    r4 = run(4 * ROWS)
    for r in (r1, r4):
        print(json.dumps(r))
    print(
        json.dumps(
            {
                "changed_files_growth_at_4x": round(
                    r4["changed_files_cdf_sec"]
                    / r1["changed_files_cdf_sec"],
                    2,
                ),
                "full_snapshot_growth_at_4x": round(
                    r4["full_snapshot_diff_sec"]
                    / r1["full_snapshot_diff_sec"],
                    2,
                ),
            }
        )
    )


if __name__ == "__main__":
    main()
