"""Simulate the driver: a plain SparkSession (no custom conf) on every core,
the contract module's entry() smoke check, then each name of queries(), in
order, through testing.run_parity against its DuckDB oracle.

    TZ=America/Sao_Paulo python tests/driver_sim.py [SF_DIR] [FILTER ...]

An argument starting with "/" is the sf directory (default: SF, the
driver's sf0.01 set). Any other argument is a filter: only names equal to
or containing one of the filters run (e.g. `txlog dedup`); none = the full
sweep. The hostile TZ probes timezone sensitivity. Every Spark job a
query launches carries the description `query:<name>`; each query's line
shows its Spark job count and seconds (parity check included), and the
totals follow the walk. Exits 0 only if every compared query matches."""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as e  # noqa: E402
from politicamente_etl_spark.testing import (  # noqa: E402
    duckdb_connection,
    run_parity,
    spark_jobs,
)

SF = "/root/testdata/sf0.01"


def main(argv: list[str]) -> int:
    sf = next((a for a in argv if a.startswith("/")), SF)
    pats = [a for a in argv if not a.startswith("/")]
    cores = len(os.sched_getaffinity(0))
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("driver-sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    print("session tz conf:", spark.conf.get("spark.sql.session.timeZone"))

    df = e.entry(spark)
    rows = df.collect()
    print(f"entry(): {len(rows)} rows, schema={df.columns}")
    assert rows

    sqls = e.oracle_sql()
    names = [n for n in e.queries() if not pats or any(p in n for p in pats)]
    print(f"comparing {len(names)} queries at {sf}")
    bad: list[str] = []
    total_jobs = 0
    total_s = 0.0
    with duckdb_connection(sf) as con:
        for name in names:
            t0 = time.perf_counter()
            problems, jobs = spark_jobs(
                spark, f"query:{name}", lambda: run_parity(name, spark, sf, con)
            )
            secs = time.perf_counter() - t0
            total_jobs += jobs
            total_s += secs
            bad += problems
            kind = "oracle" if name in sqls else "rows-only"
            print(
                f"  {name}: {'MISMATCH' if problems else 'OK'} ({kind})"
                f" jobs={jobs} s={secs:.2f}"
            )
    print(f"TOTAL: {len(names)} queries, {total_jobs} Spark jobs, {total_s:.1f} s")
    print("RESULT:", "ALL OK" if not bad else f"MISMATCHES: {bad[:5]}")
    return 0 if not bad else 1


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
