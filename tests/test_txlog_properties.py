"""Model-based property test for the commit-log table: a random sequence
of append/merge/overwrite (with occasional optimize/checkpoint/vacuum,
which must be content-invisible) always leaves snapshot() equal to a
plain Python multiset model of the same operations — over adversarial
key collisions, empty batches, and duplicate re-appends that the fixed
testdata never produces.

Also: the z-order × data-skipping synergy — a Morton-clustered layout
must let the txlog zonemap scan prune strictly more files than an
unclustered layout for the same 2-D predicate, with identical results.
"""

from __future__ import annotations

import os

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from politicamente_etl_spark.sources.txlog import TxLogTable

from tests.conftest import SF_DIR

SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# a batch is a small dict key -> value (unique keys within a batch,
# colliding freely across batches)
batch = st.dictionaries(
    st.integers(0, 6), st.integers(-50, 50), min_size=0, max_size=5
)
op = st.one_of(
    st.tuples(st.just("append"), batch),
    st.tuples(st.just("merge"), batch),
    st.tuples(st.just("overwrite"), batch),
    st.tuples(st.just("optimize"), st.none()),
    st.tuples(st.just("checkpoint"), st.none()),
    st.tuples(st.just("vacuum"), st.none()),
)


def _df(spark, d: dict):
    rows = [(k, v) for k, v in sorted(d.items())]
    df = spark.createDataFrame(rows or [(0, 0)], "k long, v long")
    return df.limit(0) if not rows else df


@given(init=batch, ops=st.lists(op, min_size=1, max_size=5))
@settings(**SETTINGS)
def test_txlog_matches_multiset_model(spark, tmp_path_factory, init, ops):
    path = str(tmp_path_factory.mktemp("txprop") / "t")
    t = TxLogTable.create(spark, path, _df(spark, init))
    model: list[tuple[int, int]] = sorted(init.items())
    for kind, d in ops:
        if kind == "append":
            t.append(_df(spark, d))
            model = sorted(model + sorted(d.items()))
        elif kind == "merge":
            if not t._state().files or not model:
                continue  # merge into empty table is rejected by contract
            if not d:
                continue
            t.merge(_df(spark, d), ["k"])
            model = sorted(
                [(k, v) for k, v in model if k not in d] + sorted(d.items())
            )
        elif kind == "overwrite":
            t.overwrite(_df(spark, d))
            model = sorted(d.items())
        elif kind == "optimize":
            t.optimize(target_file_bytes=1 << 30)
        elif kind == "checkpoint":
            t.checkpoint()
        elif kind == "vacuum":
            t.vacuum()
        got = sorted((r.k, r.v) for r in t.snapshot().collect()) if t._state().files else []
        assert got == sorted(model), f"after {kind}: {got} != {sorted(model)}"


def test_zorder_layout_prunes_more_than_unclustered(spark, tmp_path):
    from politicamente_etl_spark.sources import sinks

    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    zpath, rpath = str(tmp_path / "zsrc"), str(tmp_path / "rsrc")
    sinks.write_zordered(o, zpath, ["o_orderkey", "o_totalprice"], n_files=16)
    o.repartition(16).write.parquet(rpath)  # round-robin: no locality

    tz = TxLogTable.create(spark, str(tmp_path / "tz"), spark.read.parquet(zpath))
    tr = TxLogTable.create(spark, str(tmp_path / "tr"), spark.read.parquet(rpath))
    lo_k, hi_k = 100, 400
    pred = {"o_orderkey": (lo_k, hi_k), "o_totalprice": (0.0, 50000.0)}
    kept_z, total_z = tz.scan_files(pred)
    kept_r, total_r = tr.scan_files(pred)
    # small SF may coalesce empty range segments; just need several files
    assert total_z >= 4 and total_r >= 4
    # clustered layout prunes; round-robin cannot (every file spans the
    # whole key range)
    assert len(kept_z) < len(kept_r)
    assert len(kept_r) == total_r
    # and the results agree with each other and with the raw filter
    expect = o.filter(
        F.col("o_orderkey").between(lo_k, hi_k)
        & F.col("o_totalprice").between(0.0, 50000.0)
    ).count()
    assert tz.scan(pred).count() == expect
    assert tr.scan(pred).count() == expect
