#!/usr/bin/env python
"""Operator scale probe: replicate the sf0.1 fact tables K× (documents
with fresh ids + perturbed text, lineitem/orders with shifted keys,
embeddings with shifted ids, events with shifted event/user ids), link
the remaining tables in unscaled (dimensions grow far slower than facts
at 100 TB), then time each named catalog query at 1× vs K×:

    python tools/scale_probe.py --queries chunk_dedup_report,bm25_topk_docs --x 8

Each timing is one warm-up run (noop write) followed by a timed count;
the table reports seconds and result rows at both sizes and their
ratios. A plan with no unbounded self-product or corpus-sized global
sort should show time ×≈K; quadratic audit twins (e.g.
knn_graph_degree_hist) show their blow-up here by design.

Writes nothing to the repo; probe data lands in a temp dir that is
removed afterwards. Source tables: session.DEFAULT_SF_DIR
($SPARK_GRAFT_SF_DIR, default sf0.1).
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from politicamente_etl_spark.plans.catalog import CATALOG  # noqa: E402
from politicamente_etl_spark.session import DEFAULT_SF_DIR, get_spark  # noqa: E402

SRC = DEFAULT_SF_DIR


def replicate(spark, k: int, out_dir: str) -> None:
    docs = spark.read.parquet(f"{SRC}/documents.parquet")
    n_docs = docs.count()
    li = spark.read.parquet(f"{SRC}/lineitem.parquet")
    orders = spark.read.parquet(f"{SRC}/orders.parquet")
    emb = spark.read.parquet(f"{SRC}/embeddings.parquet")
    ev = spark.read.parquet(f"{SRC}/events.parquet")
    max_ok = orders.agg(F.max("o_orderkey")).collect()[0][0]
    max_vec = emb.agg(F.max("vec_id")).collect()[0][0]
    max_eid = ev.agg(F.max("event_id")).collect()[0][0]

    def times(df, fn):
        parts = [fn(df, i) for i in range(k)]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    times(
        docs,
        lambda d, i: d.select(
            (F.col("doc_id") + i * n_docs).alias("doc_id"),
            # perturb a token per replica so replicas aren't pure dups
            F.concat(F.col("text"), F.lit(f" replica{i}tail")).alias("text"),
            "lang",
            "source",
            (F.col("n_chars") + 12).alias("n_chars"),
        ),
    ).write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")
    times(
        li,
        lambda d, i: d.withColumn(
            "l_orderkey", F.col("l_orderkey") + i * (max_ok + 1)
        ),
    ).write.mode("overwrite").parquet(f"{out_dir}/lineitem.parquet")
    times(
        orders,
        lambda d, i: d.withColumn(
            "o_orderkey", F.col("o_orderkey") + i * (max_ok + 1)
        ).withColumn("o_totalprice", F.col("o_totalprice") + i * 0.01),
    ).write.mode("overwrite").parquet(f"{out_dir}/orders.parquet")
    times(
        emb,
        lambda d, i: d.withColumn(
            "vec_id", F.col("vec_id") + i * (max_vec + 1)
        ),
    ).write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")
    times(
        ev,
        lambda d, i: d.withColumn(
            "event_id", F.col("event_id") + i * (max_eid + 1)
        ).withColumn("user_id", F.col("user_id") + i * 1_000_000),
    ).write.mode("overwrite").parquet(f"{out_dir}/events.parquet")
    for name in os.listdir(SRC):
        if name.endswith(".parquet") and not os.path.exists(
            os.path.join(out_dir, name)
        ):
            os.symlink(os.path.join(SRC, name), os.path.join(out_dir, name))


def time_one(fn) -> tuple[float, int]:
    fn().write.format("noop").mode("overwrite").save()  # warm
    t0 = time.monotonic()
    n = fn().count()
    return (time.monotonic() - t0, n)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--queries", required=True, help="comma-separated catalog names")
    ap.add_argument("--x", type=int, default=8, help="replication factor K")
    args = ap.parse_args()
    names = args.queries.split(",")
    unknown = [n for n in names if n not in CATALOG]
    if unknown:
        ap.error(f"not in the catalog: {', '.join(unknown)}")
    k = args.x
    spark = get_spark(app_name="scale-probe", cpus=len(os.sched_getaffinity(0)))
    spark.sparkContext.setLogLevel("ERROR")
    big = tempfile.mkdtemp(prefix="scaleprobe_")
    try:
        replicate(spark, k, big)
        print(f"\n== scale probe: 1x vs {k}x (src {SRC}) ==")
        for name in names:
            t1, n1 = time_one(lambda: CATALOG[name].fn(spark, SRC))
            tk, nk = time_one(lambda: CATALOG[name].fn(spark, big))
            print(
                f"{name:30s} 1x {t1:6.2f}s ({n1:>8} rows)   "
                f"{k}x {tk:6.2f}s ({nk:>8} rows)   "
                f"time x{tk / t1:5.1f}  rows x{nk / max(n1, 1):5.1f}"
            )
    finally:
        shutil.rmtree(big, ignore_errors=True)


if __name__ == "__main__":
    main()
