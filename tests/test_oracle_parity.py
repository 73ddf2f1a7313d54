"""The local twin of the driver's correctness gate: every catalog query
runs on Spark AND on DuckDB (same parquet), results compared exactly.
A failure here is a failure in CORRECTNESS_r{N}.json — fix before commit.
"""

from __future__ import annotations

import json

import pytest

from politicamente_etl_spark.plans.catalog import CATALOG
from politicamente_etl_spark.testing import duckdb_connection, run_parity


@pytest.fixture(scope="session")
def oracle_con(sf_dir: str):
    with duckdb_connection(sf_dir) as con:
        yield con


@pytest.mark.slow  # sim-covered: tests/driver_sim.py runs this sweep
@pytest.mark.parametrize("name", sorted(CATALOG))
def test_oracle_parity(name: str, spark, sf_dir: str, oracle_con):
    problems = run_parity(name, spark, sf_dir, oracle_con)
    assert not problems, "\n".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"n_name", "revenue", "n_items", "sum_qty"} == set(df.columns)


def test_contract_shape():
    import __spark_entry__ as e

    qs, sqls = e.queries(), e.oracle_sql()
    assert set(sqls) <= set(qs)
    # the vast majority of the surface must be oracle-checked, not rows-only
    # (rows-only is reserved for approximate/engine-seeded ops: LSH, sketches)
    assert len(sqls) >= 0.9 * len(qs)


def test_contract_is_the_catalog():
    """queries()/oracle_sql() hand the driver exactly the catalog's
    functions and SQL, so running CATALOG entries through run_parity
    (driver_sim, test_oracle_parity) checks what the driver checks."""
    import __spark_entry__ as e

    qs, sqls = e.queries(), e.oracle_sql()
    assert set(qs) == set(CATALOG)
    for name, q in CATALOG.items():
        assert qs[name] is q.fn
        assert sqls.get(name) == q.sql


def test_verified_derives_from_latest_correctness_row(tmp_path):
    import __spark_entry__ as e

    assert CATALOG["approx_aggs"].sql is None
    assert CATALOG["project_cast"].sql is not None
    green = {"hash_match": True, "err": None}
    red = {"hash_match": False, "err": None}
    no_oracle = {"hash_match": False, "err": "no_oracle"}
    rounds = {
        2: {
            "project_cast": green,
            "distinct_projection": red,
            "approx_aggs": no_oracle,
            "union_all_scan": no_oracle,
        },
        9: {"project_cast": red, "dedup_keep_first": red},
        # r10 must sort after r9: a string sort would read r9 as latest
        10: {"distinct_projection": green, "dedup_keep_first": green},
    }
    for rnd, rows in rounds.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))

    assert e.verified(str(tmp_path)) == {
        "distinct_projection": (10, 10),  # red then green
        "approx_aggs": (2, 2),  # no_oracle counts for a sql=None name
        "dedup_keep_first": (10, 10),
    }  # project_cast went green then red; union_all_scan has SQL


def test_window_fronts_refactors_then_unverified():
    """REFACTORED_THIS_ROUND sits in the driver's 50-slot window, and no
    other slot goes to a name whose latest repo row is green while an
    unverified name waits outside the window."""
    import __spark_entry__ as e

    window = e._ordered_names()[:50]
    green = e.verified()
    assert e.REFACTORED_THIS_ROUND <= set(window)
    parked = [n for n in window if n in green and n not in e.REFACTORED_THIS_ROUND]
    waiting = [n for n in CATALOG if n not in green and n not in window]
    assert not (parked and waiting), (parked, waiting[:5])
