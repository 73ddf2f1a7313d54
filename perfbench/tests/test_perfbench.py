"""Self-tests of the benchmark: the event-log fold, the span recorder and
the generator's determinism. Run from the checkout root:

    python3 -m pytest -q -p no:cacheprovider perfbench/tests
"""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402
import spans  # noqa: E402
import spread  # noqa: E402

RECORDED = os.path.join(HERE, "data", "eventlog_small.jsonl")


def _job_starts(events: list[dict]) -> list[float]:
    return sorted(e["Submission Time"] / 1000.0 for e in events if e["Event"] == "SparkListenerJobStart")


def test_fold_recorded_eventlog():
    """The log holds a warm-up job, two ``op:`` jobs (one of two stages,
    with a shuffle) and a job without a description."""
    events = eventlog.read_events(RECORDED)
    ops = eventlog.fold(events, lambda desc, _t: desc.startswith("op:"))
    assert ops["jobs"] == 2
    assert ops["stages"] == 3
    assert ops["tasks"] == 4 + 4 + 2
    for desc in ("op:t:agg:exec", "op:t:count:exec"):
        assert eventlog.fold(events, lambda d, _t, want=desc: d == want)["jobs"] == 1
    assert ops["shuffle_write_mb"] > 0 and ops["shuffle_read_mb"] > 0
    assert 0 < ops["executor_cpu_s"] <= ops["executor_run_s"] * 1.5
    everything = eventlog.fold(events, lambda _d, _t: True)
    assert everything["jobs"] == 4
    assert everything["tasks"] > ops["tasks"]
    ends = [e["Completion Time"] / 1000.0 for e in events if e["Event"] == "SparkListenerJobEnd"]
    assert 0 < everything["job_s"] <= max(ends) - min(_job_starts(events))


def test_fold_selects_by_time():
    events = eventlog.read_events(RECORDED)
    late = eventlog.fold(events, lambda _d, t: t >= _job_starts(events)[-1])
    assert late["jobs"] == 1


def test_interval_union():
    assert eventlog.interval_union([(0, 2), (1, 3), (5, 6)]) == 4
    assert eventlog.interval_union([]) == 0


def test_recorder_parents_and_ops():
    rec = spans.Recorder()
    op = rec.begin_op("q")
    child = rec.open("layer")
    grandchild = rec.open("inner")
    rec.close(grandchild)
    rec.close(child)
    rec.end_op(op)
    outside = rec.open("free")
    rec.close(outside)
    by = {s.name: s for s in rec.spans}
    assert by["layer"].parent == op.sid and by["inner"].parent == child.sid
    assert by["layer"].op == by["inner"].op == op.sid
    assert by["free"].op is None and by["free"].parent is None
    assert all(s.end >= s.start for s in rec.spans)


def test_self_time_subtracts_other_layers():
    """A layer span of 10 s holding a nested span of its own layer (2-6 s),
    which holds another layer's span (3-5 s), plus another layer's span
    (7-8 s): self time is 10 - 2 - 1."""
    S = spans.Span
    top = S(1, "plans.build", 0.0, 10.0)
    nested = S(2, "plans.build", 2.0, 6.0, parent=1)
    inner = S(3, "operators.dedup", 3.0, 5.0, parent=2)
    other = S(4, "sources.readers.load_table", 7.0, 8.0, parent=1)
    kids = {1: [nested, other], 2: [inner]}
    assert layers.self_time(top, kids, "plans.build") == 7.0
    assert layers.self_time(inner, kids, "operators.dedup") == 2.0


def test_wrap_function_patches_from_imports():
    prog = types.ModuleType("politicamente_etl_spark._perfbench_probe")
    user = types.ModuleType("politicamente_etl_spark._perfbench_user")
    prog.f = lambda x: x + 1
    prog.f.__module__ = prog.__name__
    user.f = prog.f
    sys.modules[prog.__name__] = prog
    sys.modules[user.__name__] = user
    try:
        rec = spans.Recorder()
        spans.wrap_function(rec, prog, "f", "layer.f")
        assert prog.f(1) == 2 and user.f(2) == 3
        assert [s.name for s in rec.spans] == ["layer.f", "layer.f"]
    finally:
        del sys.modules[prog.__name__], sys.modules[user.__name__]


def _digests(d: str) -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        with open(os.path.join(d, f), "rb") as fh:
            out[f] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_write_sf_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / n) for n in "abc")
    rows = gen.write_sf(a, 7)
    assert rows == gen.write_sf(b, 7)
    assert rows["lineitem"] == gen.SF_ROWS["lineitem"] and rows["documents"] == gen.SF_ROWS["documents"]
    assert _digests(a) == _digests(b)
    gen.write_sf(c, 8)
    assert _digests(a)["lineitem.parquet"] != _digests(c)["lineitem.parquet"]


def test_tse_zips_are_deterministic(tmp_path):
    gen.write_tse_zips(str(tmp_path / "a"), 3, 2022)
    gen.write_tse_zips(str(tmp_path / "b"), 3, 2022)
    assert _digests(str(tmp_path / "a")) == _digests(str(tmp_path / "b"))
    cand, votes = gen.tse_frames(3, 2022)
    # one vote key without a candidacy; several vote rows per candidate
    assert len(set(votes["SQ_CANDIDATO"]) - set(cand["SQ_CANDIDATO"])) == 1
    assert votes["SQ_CANDIDATO"].value_counts().max() >= 2


@pytest.mark.parametrize("kind", ["append", "merge"])
def test_txlog_batches_are_deterministic(kind):
    a = gen.txlog_batch(5, 2, kind, 8_000)
    b = gen.txlog_batch(5, 2, kind, 8_000)
    assert a.keys() == b.keys()
    for k in a:
        if hasattr(a[k], "equals"):
            assert a[k].equals(b[k])
        elif hasattr(a[k], "tolist"):
            assert a[k].tolist() == b[k].tolist()
        else:
            assert a[k] == b[k]


def test_spread_of_result_lines():
    lines = ["perfbench detail {}"] + [
        json.dumps({"correct": True, "attempted": 2, "failed": 0, "metrics": {"x_s": {"value": v, "unit": "s"}}})
        for v in (1.0, 2.0, 3.0, 4.0, 5.0)
    ]
    s = spread.spreads(lines)["x_s"]
    q1, med, q3 = statistics.quantiles([1.0, 2.0, 3.0, 4.0, 5.0], n=4)
    assert s["n"] == 5 and s["median"] == med == 3.0
    assert s["spread"] == (q3 - q1) / med


def test_txlog_seed_is_the_head_of_sf_orders():
    seed_rows = gen.txlog_seed_rows(6)
    orders = gen.sf_orders(6).to_pandas()
    assert len(seed_rows) == gen.TXLOG_KEYS
    assert seed_rows.equals(orders[list(seed_rows.columns)].head(gen.TXLOG_KEYS))
