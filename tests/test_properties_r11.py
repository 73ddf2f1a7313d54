"""Property tests for the round-6 batches: Z-ordered txlog write-path
invariants on random integer datasets/boxes, and the seq-pattern
max_types guard's count-preservation contract (the cap may only shrink
the pattern SET, never change any surviving pattern's support)."""

from __future__ import annotations

import datetime as dt
import shutil
import tempfile

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(0, 200), st.integers(0, 200)),
        min_size=4,
        max_size=120,
    ),
    st.integers(0, 200),
    st.integers(0, 200),
    st.integers(0, 200),
    st.integers(0, 200),
)
def test_zordered_txlog_scan_equals_filter(spark, pts, a, b, c, d):
    """For ANY integer point set and ANY box: (1) the pruned scan equals
    the plain filter (pruning is invisible to semantics), (2) every file
    the zonemaps DROP provably cannot intersect the box, (3) the live
    file count never exceeds n_files."""
    from politicamente_etl_spark.sources.sinks import write_zordered_txlog

    lo_x, hi_x = min(a, b), max(a, b)
    lo_y, hi_y = min(c, d), max(c, d)
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "k long, x long, y long"
    )
    root = tempfile.mkdtemp(prefix="prop_zt_")
    try:
        t = write_zordered_txlog(
            spark, f"{root}/t", df, ["x", "y"], bits=4, n_files=16
        )
        preds = {"x": (lo_x, hi_x), "y": (lo_y, hi_y)}
        kept, total = t.scan_files(preds)
        assert total <= 16
        assert len(kept) <= total
        got = sorted(r.k for r in t.scan(preds).collect())
        want = sorted(
            r.k
            for r in df.filter(
                F.col("x").between(lo_x, hi_x)
                & F.col("y").between(lo_y, hi_y)
            ).collect()
        )
        assert got == want
        # dropped files must be provably disjoint from the box
        stats = t._state().stats
        for rel in set(t._state().files) - set(kept):
            sx, sy = stats[rel]["x"], stats[rel]["y"]
            assert sx[0] > hi_x or sx[1] < lo_x or sy[0] > hi_y or sy[1] < lo_y
    finally:
        shutil.rmtree(root, ignore_errors=True)


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(st.integers(1, 4), st.integers(0, 9)),
        min_size=2,
        max_size=40,
    ),
    st.integers(1, 6),
)
def test_seq_pattern_cap_preserves_surviving_supports(spark, evs, cap):
    """Capping the type domain at top-K must return EXACTLY the uncapped
    result restricted to patterns over the top-K types — same
    n_support, same n_sequences_total, nothing else changed."""
    from politicamente_etl_spark.operators.stats import seq_pattern_support

    t0 = dt.datetime(2024, 5, 1)
    rows = [
        (i, t0 + dt.timedelta(minutes=i), u, f"t{c}", 1.0, "{}")
        for i, (u, c) in enumerate(evs)
    ]
    events = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    full = {
        r.pattern: (r.n_support, r.n_sequences_total)
        for r in seq_pattern_support(events, max_types=64).collect()
    }
    capped = {
        r.pattern: (r.n_support, r.n_sequences_total)
        for r in seq_pattern_support(events, max_types=cap).collect()
    }
    # the capped domain: top-`cap` types by frequency, ties by name
    from collections import Counter

    freq = Counter(f"t{c}" for _, c in evs)
    top = {
        ty
        for ty, _ in sorted(freq.items(), key=lambda kv: (-kv[1], kv[0]))[
            :cap
        ]
    }
    want = {
        p: v for p, v in full.items() if set(p.split(" ")) <= top
    }
    assert capped == want
