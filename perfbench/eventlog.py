"""Fold a Spark event log into per-op runtime figures.

The traced run starts Spark with an uncompressed event log and tags every
job with the description ``op:<workload>:<op>:<build|exec>`` (warm-up jobs
carry ``warm:`` instead). ``fold`` reads the log's JSON lines and sums,
over the jobs a predicate selects:

- jobs, stages, tasks;
- the union of job intervals (``job_s``);
- executor run, CPU and GC time; shuffle read/write, spill and input
  bytes; the largest peak execution memory of any task.
"""

from __future__ import annotations

import json
import os


def read_events(path: str) -> list[dict]:
    """The events of one uncompressed log file, in order."""
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def find_log(log_dir: str) -> str | None:
    entries = [e for e in os.listdir(log_dir) if not e.startswith(".")]
    return os.path.join(log_dir, sorted(entries)[-1]) if entries else None


def interval_union(ivs: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(ivs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def fold(events: list[dict], select) -> dict:
    """Totals over the jobs for which ``select(description, start_s)`` is
    true. Jobs a streaming ``foreachBatch`` callback starts run on another
    thread and carry no description, so callers select by time too."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
            start = ev["Submission Time"] / 1000.0
            if select(desc, start):
                jid = ev["Job ID"]
                jobs[jid] = {"start": start, "end": None}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
    out = {
        "jobs": len(jobs),
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "shuffle_write_mb": 0.0,
        "shuffle_read_mb": 0.0,
        "spill_mb": 0.0,
        "input_mb": 0.0,
        "peak_exec_mem_mb": 0.0,
    }
    mb = 1024.0 * 1024.0
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            if ev["Stage Info"]["Stage ID"] in stage_job:
                out["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev.get("Stage ID") in stage_job:
            m = ev.get("Task Metrics") or {}
            out["tasks"] += 1
            out["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
            out["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            out["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sr = m.get("Shuffle Read Metrics") or {}
            out["shuffle_read_mb"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / mb
            out["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / mb
            out["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / mb
            out["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / mb
            out["peak_exec_mem_mb"] = max(out["peak_exec_mem_mb"], m.get("Peak Execution Memory", 0) / mb)
    done = [(j["start"], j["end"]) for j in jobs.values() if j["end"] is not None]
    out["job_s"] = interval_union(done)
    return out
