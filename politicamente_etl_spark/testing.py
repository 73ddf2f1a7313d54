"""Oracle-parity harness: run a catalog query on Spark and its SQL on
DuckDB over the same parquet, and diff exactly.

This mirrors the driver's correctness gate (row-count + schema +
order-insensitive value hash) but with exact value comparison and readable
diffs, so every mismatch is caught locally before a round submits.
`spark_jobs` counts the Spark jobs a call launches (driver_sim's per-query
column and the build-cost tests).
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from politicamente_etl_spark.schemas import TESTDATA_TABLES


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def spark_jobs(spark, label: str, fn):
    """(fn(), number of Spark jobs fn launched). The jobs run under the
    job group and description `label` and carry `label` as a job tag;
    they are counted on the status tracker, by group and by tag, once the
    listener bus has drained. A stream started inside fn runs its
    micro-batches on a thread that the job group does not reach but the
    tag does, so those jobs count too. A label already used counts its
    earlier jobs too."""
    sc = spark.sparkContext
    sc.setJobGroup(label, label)
    sc.addJobTag(label)
    try:
        out = fn()
    finally:
        sc.removeJobTag(label)
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    ids = set(sc.statusTracker().getJobIdsForGroup(label))
    ids.update(jsc.statusTracker().getJobIdsForTag(label))
    return out, len(ids)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Order-insensitive canonical form: columns sorted by name, rows sorted
    by every column, fresh index."""
    out = df[sorted(df.columns)]
    if len(out.columns):
        out = out.sort_values(by=list(out.columns), kind="mergesort")
    return out.reset_index(drop=True)


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame, name: str) -> list[str]:
    """Exact comparison; returns a list of human-readable problems."""
    problems: list[str] = []
    s, o = normalize(spark_pdf), normalize(oracle_pdf)
    if list(s.columns) != list(o.columns):
        problems.append(f"{name}: columns differ spark={list(s.columns)} oracle={list(o.columns)}")
        return problems
    if len(s) != len(o):
        problems.append(f"{name}: row count spark={len(s)} oracle={len(o)}")
        return problems
    for col in s.columns:
        sv, ov = s[col], o[col]
        mism = []
        for i, (a, b) in enumerate(zip(sv.tolist(), ov.tolist())):
            if a is None and b is None:
                continue
            if isinstance(a, float) and isinstance(b, float):
                if math.isnan(a) and math.isnan(b):
                    continue
                if a != b:  # exact — determinism is engineered, not approximated
                    mism.append((i, a, b))
            elif a != b:
                mism.append((i, a, b))
            if len(mism) >= 3:
                break
        if mism:
            problems.append(f"{name}.{col}: {len(mism)}+ mismatches, first {mism[:3]}")
    return problems


def run_parity(
    name: str, spark, sf_dir: str, con: duckdb.DuckDBPyConnection
) -> list[str]:
    """Run catalog query ``name`` on Spark and, when it has oracle SQL, on
    DuckDB through ``con`` (an open ``duckdb_connection(sf_dir)``); returns
    ``compare_frames`` problems (rows-only queries just have to execute)."""
    from politicamente_etl_spark.plans.catalog import CATALOG

    q = CATALOG[name]
    spark_pdf = q.fn(spark, sf_dir).toPandas()
    if q.sql is None:
        return []
    return compare_frames(spark_pdf, con.execute(q.sql).df(), name)
