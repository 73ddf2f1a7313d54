#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload catalog --seed 1 --seconds 15 --trace 0

Run from the root of a source checkout. The run:

1. generates the workload's inputs from ``--seed`` under ``.perfbench/``
   in the checkout (removed again at exit; ``tempfile`` is routed there
   too, so tables and checkpoints the program makes land inside it);
2. sets up SETUP_REPS times, each time starting a SparkSession on
   ``local[<cpus>]`` (the first start launches the JVM, with a heap sized
   for the machine; later ones stop the session, untimed, and start a new
   one in it) and setting the workload up in a fresh directory;
   ``setup_s`` is the median;
3. warms the last set-up up with one pass over every op type;
4. runs round(``--seconds`` / the workload's nominal cycle length) whole
   cycles of its ops (one client, closed loop, each op type once per cycle
   in a fixed order), timing each op's wall and CPU time and, after each
   op, a fixed reference query (the calibration);
5. checks every op's output, then prints one JSON line.

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``.
``--trace 1`` turns on the Spark event log, job descriptions
(``op:<workload>:<op>:<build|exec>``) and spans around the program's layer
functions, and reports the per-layer metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spans  # noqa: E402

SCRATCH = ".perfbench"
SETUP_REPS = 5
CALIB_ROWS = 400_000
CALIB_WARM = 3  # reference queries in the warm-up


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def heap_size() -> str:
    """A quarter of physical memory, at most 4 GiB: the benchmark shares
    the machine, and the inputs need far less."""
    with open("/proc/meminfo") as f:
        total_kb = int(f.readline().split()[1])
    return f"{min(4096, total_kb // 4096)}m"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(scratch: str, name: str, event_dir: str | None):
    from politicamente_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", heap_size())
    # keep every file Spark, the JVM and the Python workers write inside
    # the scratch directory (SPARK_LOCAL_DIRS would override spark.local.dir);
    # JIT compiler threads live as long as the JVM, so their CPU time can be
    # told apart from the program's (spans.Procs.cpu)
    tmp = os.path.join(scratch, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    conf = {
        "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
        "spark.local.dir": os.path.join(scratch, "spark-local"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Duser.timezone=UTC -Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Dderby.system.home={scratch} -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                # one file, not Spark 4's default rolling directory
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(app_name=f"perfbench-{name}", cpus=cpus(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    with contextlib.suppress(Exception):
        gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs ops, timing each one's wall time and the CPU time of the
    driver, the JVM and the Python workers; in traced runs also opens the
    op and phase spans and sets the job descriptions."""

    def __init__(self, wl, spark, rec, procs):
        self.wl, self.spark, self.rec, self.procs = wl, spark, rec, procs
        self.records: list[dict] = []  # timed ops
        self.warm: list[dict] = []  # warm-up ops: errors count as failures
        self.calib: list[float] = []  # wall time of each reference query
        wl.phase = self._phase if rec else (lambda _p: contextlib.nullcontext())
        self._tag = ""

    @contextlib.contextmanager
    def _phase(self, phase: str):
        sc = self.spark.sparkContext
        sc.setJobDescription(f"{self._tag}:{phase}")
        sp = self.rec.open(f"plans.{phase}")
        try:
            yield
        finally:
            self.rec.close(sp)
            sc.setJobDescription(None)

    def run(self, op: str, timed: bool) -> dict:
        self._tag = f"{'op' if timed else 'warm'}:{self.wl.name}:{op}"
        sp = self.rec.begin_op(op) if self.rec else None
        cpu0 = self.procs.cpu_total()
        t0 = time.perf_counter()
        err = None
        kind = "error"
        try:
            kind = self.wl.run(op)
        except Exception as e:  # noqa: BLE001 — counted as a failed op
            err = f"{type(e).__name__}: {e}"[:300]
        dt = time.perf_counter() - t0
        cpu = self.procs.cpu_total() - cpu0
        if sp is not None:
            self.rec.end_op(sp)
        out = {"op": op, "kind": kind, "s": dt, "cpu_s": cpu, "error": err, "span": sp.sid if sp else None}
        (self.records if timed else self.warm).append(out)
        return out

    def calibrate(self) -> None:
        """Time the reference query: a fixed aggregation with one shuffle,
        the same in every run, so its time follows the machine (CPU
        steal, other tenants) and not the program."""
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        self.spark.range(0, CALIB_ROWS, 1, cpus()).groupBy((F.col("id") % 97).alias("k")).count().collect()
        self.calib.append(time.perf_counter() - t0)


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else 0.0


def per_type(records: list[dict], key: str) -> dict[str, float]:
    """Each op type's median of ``key`` over its error-free timed calls."""
    by_type: dict[str, list[float]] = {}
    for r in records:
        if not r["error"]:
            by_type.setdefault(r["op"], []).append(r[key])
    return {op: median(v) for op, v in by_type.items()}


def end_to_end(setup_s: float, records: list[dict], calib: list[float], ops: tuple[str, ...]) -> dict:
    """The end-to-end metrics. Wall-clock op latency moves by up to 2x
    between runs on a shared VM (CPU steal, other tenants), so latency is
    reported relative to the reference query timed around each op, and
    cost as the program's CPU time (not the JIT compilers'), which a
    slowed machine does not inflate as much."""
    # op i ran between reference queries i and i + 1
    for i, r in enumerate(records):
        r["rel"] = r["s"] / ((calib[i] + calib[i + 1]) / 2)
    cpu = per_type(records, "cpu_s")
    return {
        "setup_s": (setup_s, "s"),
        "query_rel_geomean": (geomean(per_type(records, "rel").values()), "ratio"),
        # one cycle's mix, each op at its type's median
        "cpu_s_per_op": (sum(cpu.get(op, 0.0) for op in ops) / len(ops), "s"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    repo = os.getcwd()
    if not os.path.isdir(os.path.join(repo, "politicamente_etl_spark")):
        print("perfbench: run from the root of a source checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, repo)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    scratch = os.path.join(repo, SCRATCH, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(scratch, "tmp"))
    tempfile.tempdir = os.path.join(scratch, "tmp")
    try:
        result = run(args, scratch, WORKLOADS[args.workload])
    finally:
        tempfile.tempdir = None
        shutil.rmtree(scratch, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.join(repo, SCRATCH))
    print(json.dumps(result))
    return 0


def run(args, scratch: str, wl_cls) -> dict:
    cycles = max(1, round(args.seconds / wl_cls.cycle_s))
    wl = wl_cls(os.path.join(scratch, "inputs"), args.seed, cycles)
    t = time.perf_counter()
    sizes = wl.make_inputs()
    gen_s = time.perf_counter() - t

    traced = bool(args.trace)
    event_dir = os.path.join(scratch, "eventlog") if traced else None
    if event_dir:
        os.makedirs(event_dir)
    rec = None
    if traced:
        rec = spans.Recorder()
        spans.instrument(rec)
    spark = None
    setups, session_s = [], []
    try:
        for i in range(SETUP_REPS):
            # stopping the previous session is not set-up (and takes either
            # 0.15 or 0.5 s, as Spark's own stop happens to wait)
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark = start_spark(scratch, wl.name, event_dir)
            session_s.append(time.perf_counter() - t)
            wl.setup(spark, os.path.join(scratch, f"work{i}"))
            setups.append(time.perf_counter() - t)
        setup_s = median(setups)
        procs = spans.Procs()
        runner = Runner(wl, spark, rec, procs)
        t = time.perf_counter()
        for op in dict.fromkeys(wl.ops):
            runner.run(op, timed=False)
        for _ in range(CALIB_WARM):
            runner.calibrate()
        warmup_s = time.perf_counter() - t
        runner.calib.clear()

        poller = spans.WorkerPoller(procs) if traced else contextlib.nullcontext()
        with poller:
            cpu0 = procs.cpu()
            t0 = time.perf_counter()
            runner.calibrate()
            for _ in range(wl.cycles):
                for op in wl.ops:
                    runner.run(op, timed=True)
                    runner.calibrate()
            wall = time.perf_counter() - t0
            cpu1 = procs.cpu()
        records = runner.records
        problems = wl.check()
        layer = None
        if traced:
            import layers

            layer = layers.report(
                wl, rec, records, procs, cpu0, cpu1, wall, median(session_s)
            )
    finally:
        if spark is not None:
            stop_spark(spark)
    if traced:
        import eventlog

        events = eventlog.read_events(eventlog.find_log(event_dir))
        layer.update(layers.spark_layer(events, rec, records, cpus()))
    ops = runner.warm + records
    failed = sum(1 for r in ops if r["error"]) + (1 if problems else 0)
    e2e = end_to_end(setup_s, records, runner.calib, wl.ops)
    ok = [r for r in records if not r["error"]]
    detail = {
        "workload": wl.name,
        "seed": args.seed,
        "cycles": wl.cycles,
        "timed_ops": len(records),
        "wall_s": wall,
        "gen_s": gen_s,
        "setup_reps_s": setups,
        "session_s": session_s,
        "warmup_s": warmup_s,
        "calib_s": runner.calib,
        "ops": [(r["op"], r["s"], r["cpu_s"]) for r in records],
        "inputs": sizes,
        "op_s_median": per_type(records, "s"),
        "errors": [f"{r['op']}: {r['error']}" for r in ops if r["error"]][:5],
        "problems": problems[:10],
        "metrics": {k: v for k, (v, _) in e2e.items()},
        # wall-clock figures: what a user waits, but not steady on a shared VM
        "ops_per_s": len(ok) / wall,
        "query_s_geomean": geomean(per_type(records, "s").values()),
    }
    print("perfbench detail " + json.dumps(detail, default=str))
    metrics = layer if traced else e2e
    return {
        "correct": not problems and failed == 0,
        "attempted": len(ops) + 1,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
