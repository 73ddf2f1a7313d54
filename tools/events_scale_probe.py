#!/usr/bin/env python
"""Events-surface scale probe: replicate the sf0.1 events table K× with
shifted ids/timestamps (adversarially overlapping user activity), then
time the temporal operators — asof join, tumbling window, sessionization,
retention — at 1× vs K×.

What this demonstrates for 100 TB design: every events operator is a
single hash shuffle on its key (user_id / event_type / window bucket);
runtime should grow ~linearly with input, NOT with pairwise combinations,
because none of the plans contain a self-join without an equi-key.

Writes nothing to the repo; probe data lands in /tmp. Results are recorded
in SURVEY.md §9 (run manually, not in CI — it's a multi-GB probe).

Usage: python tools/events_scale_probe.py [K]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from politicamente_etl_spark.plans.catalog import CATALOG, load_events  # noqa: E402
from politicamente_etl_spark.session import get_spark  # noqa: E402

PROBE_QUERIES = [
    "asof_join_purchases",
    "events_tumbling_window",
    "events_sessionization",
    "retention_cohorts",
    "zscore_outlier_events",
]


def build_kx(spark, sf_dir: str, k: int, out_dir: str) -> str:
    """K id-shifted copies: users collide across copies (same user_id set,
    denser activity per user — the adversarial direction for per-user
    windows), event_ids stay unique, timestamps shift by copy index so
    windows overlap rather than concatenate."""
    ev = load_events(spark, sf_dir)
    n = ev.count()
    copies = None
    for i in range(k):
        c = ev.withColumn("event_id", F.col("event_id") + F.lit(i * n)).withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {i * 7} SECONDS")
        )
        copies = c if copies is None else copies.unionAll(c)
    path = os.path.join(out_dir, f"events_{k}x")
    copies.write.mode("overwrite").parquet(os.path.join(path, "events.parquet"))
    return path


def time_queries(spark, sf_dir: str) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in PROBE_QUERIES:
        fn = CATALOG[name].fn
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warm
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def main() -> None:
    k = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="events-scale-probe", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")

    base = time_queries(spark, sf_dir)
    probe_dir = build_kx(spark, sf_dir, k, "/tmp/events_probe")
    big = time_queries(spark, probe_dir)

    print(f"{'query':30s} {'1x':>8s} {f'{k}x':>8s} {'ratio':>7s}")
    for name in PROBE_QUERIES:
        r = big[name] / base[name] if base[name] else float("inf")
        print(f"{name:30s} {base[name]:8.3f} {big[name]:8.3f} {r:6.1f}x")


if __name__ == "__main__":
    main()
