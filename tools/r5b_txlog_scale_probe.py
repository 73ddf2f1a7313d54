#!/usr/bin/env python
"""Right-to-erasure file-count probe on the K×-replicated sf0.1 corpus
of tools/scale_probe.py (imported): a direct erasure on the documents
table, at 1× and K×, reports files rewritten / preserved /
zonemap-skipped from the commit manifest. Bytes rewritten is the
at-scale cost of a delete, so this is the txlog family's scaling signal
beyond wall time.

The round-5 txlog + basket-floor timings (1× vs K×, time + result rows)
are a scale_probe.py run:

    python tools/scale_probe.py --x 8 --queries txlog_right_to_erasure,txlog_cdf_changes,streaming_txlog_exactly_once,streaming_cdc_changelog,basket_lift_pairs,basket_lift_pairs_rel

Writes nothing to the repo; probe data lands in a temp dir that is
removed afterwards. Results recorded in SURVEY.md (run manually, not in
CI).

Usage: python tools/r5b_txlog_scale_probe.py [K]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from politicamente_etl_spark.session import get_spark  # noqa: E402
from politicamente_etl_spark.sources.txlog import TxLogTable  # noqa: E402
from tools.scale_probe import SRC, replicate  # noqa: E402


def erasure_file_counts(spark, sf_dir: str, n_files: int = 64) -> dict:
    """Direct right-to-erasure on a range-clustered documents table:
    delete ~1% of the doc_id key space and report the manifest's
    delete_stats — files rewritten vs preserved vs zonemap-skipped is
    THE 100 TB cost model (a delete that rewrites every file does not
    scale; one that rewrites only key-overlapping files does)."""
    base = tempfile.mkdtemp(prefix="erasureprobe_")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        clustered = docs.repartitionByRange(n_files, "doc_id")
        t = TxLogTable.create(spark, os.path.join(base, "t"), clustered)
        bounds = docs.agg(
            F.min("doc_id").alias("lo"), F.max("doc_id").alias("hi")
        ).first()
        span = bounds["hi"] - bounds["lo"]
        lo = bounds["lo"] + span // 2
        hi = lo + max(span // 100, 1)
        keys = docs.filter(F.col("doc_id").between(lo, hi)).select("doc_id")
        t0 = time.monotonic()
        m = t.delete_keys(keys, ["doc_id"])
        dt = time.monotonic() - t0
        out = dict(m["delete_stats"])
        out["sec"] = dt
        return out
    finally:
        shutil.rmtree(base, ignore_errors=True)


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    spark = get_spark(
        app_name="r5b-erasure-probe", cpus=len(os.sched_getaffinity(0))
    )
    spark.sparkContext.setLogLevel("ERROR")
    big = tempfile.mkdtemp(prefix="r5bprobe_")
    try:
        replicate(spark, k, big)
        print(f"\n== erasure file counts: 1x vs {k}x (src {SRC}) ==")
        for label, d in (("1x", SRC), (f"{k}x", big)):
            st = erasure_file_counts(spark, d)
            print(
                f"{label:>4} {st['sec']:6.2f}s  "
                f"rewrote {st['files_rewritten']} / preserved "
                f"{st['files_preserved']} / zonemap-skipped "
                f"{st['files_skipped_by_stats']}  "
                f"(rows removed {st['rows_removed']})"
            )
    finally:
        shutil.rmtree(big, ignore_errors=True)


if __name__ == "__main__":
    main()
