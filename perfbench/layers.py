"""Per-layer metrics of a traced run.

Figures are over the timed ops only. Unless a name says otherwise, time
and count figures are per timed op (so runs of different lengths compare);
``*_p50``-style latencies are medians per call. A layer's time is its self
time: its spans' durations minus the time their child spans of other layers
cover. A layer a workload does not reach reports 0.
"""

from __future__ import annotations

import statistics

import eventlog
from spans import TXLOG_COMMITS

OPERATOR_MODULES = ("dedup", "sim")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _top_level(spans: list, name: str) -> list:
    """Spans of one layer that are not nested in another span of it."""
    by_id = {s.sid: s for s in spans}
    out = []
    for s in spans:
        if s.name != name:
            continue
        p = by_id.get(s.parent)
        while p is not None and p.name != name:
            p = by_id.get(p.parent)
        if p is None:
            out.append(s)
    return out


def self_time(span, kids: dict, name: str) -> float:
    """``span``'s duration minus the union of its descendants of other
    layers (descending through nested spans of its own layer)."""
    ivs, todo = [], list(kids.get(span.sid, ()))
    while todo:
        c = todo.pop()
        if c.name == name:
            todo += kids.get(c.sid, ())
        else:
            ivs.append((c.start, c.end))
    return span.dur - eventlog.interval_union(ivs)


def report(wl, rec, records, procs, cpu0, cpu1, wall, session_s) -> dict:
    timed = {r["span"] for r in records}
    n = max(1, len(records))
    spans = [s for s in rec.spans if s.op in timed]
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append(s)

    def total(name: str) -> float:
        return sum(self_time(s, kids, name) for s in _top_level(spans, name))

    def calls(name: str) -> int:
        return len(_top_level(spans, name))

    m: dict[str, tuple[float, str]] = {
        "session.start_s": (session_s, "s"),
        "plans.build_s": (total("plans.build") / n, "s/op"),
        "plans.exec_s": (total("plans.exec") / n, "s/op"),
        "operators.core.spread_calls": (calls("operators.core.spread") / n, "1/op"),
        "operators.core.spread_s": (total("operators.core.spread") / n, "s/op"),
        "sources.readers.load_table_calls": (calls("sources.readers.load_table") / n, "1/op"),
        "sources.readers.load_table_s": (total("sources.readers.load_table") / n, "s/op"),
    }
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.calls"] = (calls(f"operators.{mod}") / n, "1/op")
        m[f"operators.{mod}.build_s"] = (total(f"operators.{mod}") / n, "s/op")

    # transactional table
    commits = [s for s in spans if s.name.startswith("sources.txlog.commit.")]
    m["sources.txlog.commits"] = (float(len(commits)), "count")
    for meth in TXLOG_COMMITS:
        pool = rec.spans if meth == "create" else spans
        m[f"sources.txlog.commit_s.{meth}"] = (
            _median([s.dur for s in pool if s.name == f"sources.txlog.commit.{meth}"]),
            "s",
        )
    reads = [s for s in spans if s.name.startswith("sources.txlog.read.")]
    m["sources.txlog.snapshot_s"] = (_median([s.dur for s in reads]), "s")
    files = [s for s in spans if s.name == "sources.txlog.scan_files" and s.attrs.get("total")]
    kept, live = sum(s.attrs["kept"] for s in files), sum(s.attrs["total"] for s in files)
    m["sources.txlog.files_scanned_ratio"] = (kept / live if live else 0.0, "ratio")

    # reference ETL
    m["cli.command_s"] = (
        _median([self_time(s, kids, "cli.command") for s in _top_level(spans, "cli.command")]),
        "s",
    )
    m["sources.ingest.get_tse_data_s"] = (
        _median([s.dur for s in spans if s.name == "sources.ingest.get_tse_data"]),
        "s",
    )

    # commits vs reads, storage
    ok = [r for r in records if not r["error"]]
    # The median op of one cycle's mix falls between a cluster of fast
    # reads and a cluster of slow commits and jumps between them from run
    # to run, so it is reported here rather than as an end-to-end metric.
    m["workload.op_s_p50"] = (_median([r["s"] for r in ok]), "s")
    m["workload.commit_s_p50"] = (_median([r["s"] for r in ok if r["kind"] == "write"]), "s")
    m["workload.read_s_p50"] = (_median([r["s"] for r in ok if r["kind"] == "read"]), "s")
    st = wl.storage() if hasattr(wl, "storage") else None
    mb = 1024.0 * 1024.0
    m["sources.txlog.bytes_written"] = ((st["table_bytes"] / mb) if st else 0.0, "MB")
    m["sources.txlog.files_live"] = (float(st["files_live"]) if st else 0.0, "count")
    m["workload.write_amp"] = ((st["table_bytes"] / st["user_bytes"]) if st else 0.0, "ratio")
    m["workload.space_amp"] = (
        ((st["live_bytes"] + st["log_bytes"]) / st["compact_bytes"]) if st else 0.0,
        "ratio",
    )

    # Python workers (procfs children of the JVM)
    m["python_workers.cpu_s"] = ((cpu1["workers"] - cpu0["workers"]) / n, "s/op")
    # JIT compilation still running after the warm-up pass: not in
    # cpu_s_per_op, so a fall here is warm-up, not program work
    m["jvm.jit_cpu_s"] = ((cpu1["jit"] - cpu0["jit"]) / n, "s/op")
    m["python_workers.spawned"] = (float(len(procs.seen_workers)), "count")
    # JVM heap growth is adaptive, so this peak varies run to run by more
    # than an end-to-end bound allows; it is reported here instead
    m["memory.rss_mb_peak"] = (procs.rss_peak_mb(), "MB")

    # the traced run's own end-to-end view, to set against the untraced run
    m["trace.ops_per_s"] = (len(ok) / wall, "1/s")
    m["trace.spans"] = (float(len(rec.spans)), "count")
    m["trace.timed_ops"] = (float(len(records)), "count")
    return m


def spark_layer(events: list[dict], rec, records: list[dict], cores: int) -> dict:
    """Spark runtime figures from the event log, over the jobs started
    inside timed ops (selected by time: one client runs one op at a time),
    plus the per-commit job count."""
    by_id = {s.sid: s for s in rec.spans}
    windows = sorted((by_id[r["span"]].start, by_id[r["span"]].end) for r in records)
    n = max(1, len(records))

    def inside(ivs):
        return lambda _desc, t: any(s <= t <= e for s, e in ivs)

    f = eventlog.fold(events, inside(windows))
    op_wall = sum(e - s for s, e in windows)
    m: dict[str, tuple[float, str]] = {
        "spark.jobs": (f["jobs"] / n, "1/op"),
        "spark.stages": (f["stages"] / n, "1/op"),
        "spark.tasks": (f["tasks"] / n, "1/op"),
        "spark.job_s": (f["job_s"] / n, "s/op"),
        "spark.driver_gap_s": ((op_wall - f["job_s"]) / n, "s/op"),
        "spark.executor_run_s": (f["executor_run_s"] / n, "s/op"),
        "spark.executor_cpu_s": (f["executor_cpu_s"] / n, "s/op"),
        "spark.gc_s": (f["gc_s"] / n, "s/op"),
        "spark.parallel_eff": (
            f["executor_cpu_s"] / (f["job_s"] * cores) if f["job_s"] else 0.0,
            "ratio",
        ),
        "spark.shuffle_write_mb": (f["shuffle_write_mb"] / n, "MB/op"),
        "spark.shuffle_read_mb": (f["shuffle_read_mb"] / n, "MB/op"),
        "spark.spill_mb": (f["spill_mb"] / n, "MB/op"),
        "spark.input_mb": (f["input_mb"] / n, "MB/op"),
        "spark.peak_exec_mem_mb": (f["peak_exec_mem_mb"], "MB"),
    }
    timed = {r["span"] for r in records}
    commits = [
        (s.start, s.end)
        for s in rec.spans
        if s.op in timed and s.name.startswith("sources.txlog.commit.")
    ]
    jc = eventlog.fold(events, inside(commits))["jobs"] if commits else 0
    m["sources.txlog.jobs_per_commit"] = (jc / len(commits) if commits else 0.0, "1/commit")
    return m
