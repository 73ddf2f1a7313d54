#!/usr/bin/env python
"""Dedup/similarity scale probe: replicate the sf0.1 documents and
embeddings tables K× with perturbed content, then time the round-3
curation operators — SemDeDup, boilerplate scoring, MinHash pairs,
the admission cascade — at 1× vs K×.

What this demonstrates for 100 TB design: all pair generation is
bucketed (LSH bands / quantizer cells / shingle hashes), so runtime must
grow near-linearly in the corpus while the CANDIDATE PAIR count can grow
faster (duplicates really do multiply when you copy a corpus) — the cost
follows data + true work, never |corpus|².

Replication is adversarial for dedup: each copy keeps the original text
with one token appended, so every copy is a guaranteed near-duplicate of
its source (bands mostly collide) without being an exact duplicate —
the worst realistic load for the banding joins.

Writes nothing to the repo; probe data lands in /tmp. Results recorded in
SURVEY.md (run manually, not in CI — it's a multi-GB probe).

Usage: python tools/corpus_scale_probe.py [K]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from politicamente_etl_spark.plans.catalog import CATALOG  # noqa: E402
from politicamente_etl_spark.session import get_spark  # noqa: E402
from politicamente_etl_spark.sources.readers import load_table  # noqa: E402

PROBE_QUERIES = [
    "semdedup_keep_list",
    "boilerplate_shingle_score",
    "minhash_near_dup_pairs",
    "exact_dedup_docs",
    "corpus_admission_report",
]


def build_kx(spark, sf_dir: str, k: int, out_dir: str) -> str:
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    n_docs = docs.count()
    n_emb = emb.count()
    doc_copies = None
    for i in range(k):
        c = docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * n_docs))
        if i > 0:
            # near-duplicate, not exact: one extra token per copy index
            c = c.withColumn("text", F.concat_ws(" ", "text", F.lit(f"copy{i}")))
        doc_copies = c if doc_copies is None else doc_copies.unionAll(c)
    emb_copies = None
    for i in range(k):
        c = emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * n_emb))
        emb_copies = c if emb_copies is None else emb_copies.unionAll(c)
    path = os.path.join(out_dir, f"corpus_{k}x")
    doc_copies.write.mode("overwrite").parquet(
        os.path.join(path, "documents.parquet")
    )
    emb_copies.write.mode("overwrite").parquet(
        os.path.join(path, "embeddings.parquet")
    )
    return path


def time_queries(spark, sf_dir: str) -> dict[str, tuple[float, int]]:
    out: dict[str, tuple[float, int]] = {}
    for name in PROBE_QUERIES:
        fn = CATALOG[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        n = fn(spark, sf_dir).count()
        out[name] = (round(time.perf_counter() - t0, 3), n)
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(
        app_name="corpus-scale-probe", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    spark.sparkContext.setLogLevel("ERROR")

    base = time_queries(spark, sf_dir)
    probe_dir = build_kx(spark, sf_dir, k, "/tmp/corpus_probe")
    big = time_queries(spark, probe_dir)

    print(
        f"{'query':28s} {'1x sec':>8s} {f'{k}x sec':>8s} {'t-ratio':>8s}"
        f" {'1x rows':>9s} {f'{k}x rows':>9s}"
    )
    for name in PROBE_QUERIES:
        t1, n1 = base[name]
        tk, nk = big[name]
        r = tk / t1 if t1 else float("inf")
        print(f"{name:28s} {t1:8.3f} {tk:8.3f} {r:7.1f}x {n1:9d} {nk:9d}")


if __name__ == "__main__":
    main()
