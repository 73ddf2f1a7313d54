"""Span recorder, layer wrappers and procfs readers for the benchmark.

Spans are recorded from outside the program: ``instrument`` replaces a
layer's public functions with wrappers that open a span around each call.
A span records name, start, end (epoch seconds, so they line up with the
Spark event log), parent and the id of the op it belongs to. Spans stay in
memory until the run ends.
"""

from __future__ import annotations

import functools
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Recorder:
    """Collects spans. The op span is process-global (callbacks such as a
    streaming ``foreachBatch`` run on other threads and still belong to the
    op that started them); nesting below it is tracked per thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._op: Span | None = None
        self._next = 0
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> Span:
        with self._lock:
            self._next += 1
            sid = self._next
        st = self._stack()
        parent = st[-1] if st else self._op
        sp = Span(
            sid, name, time.time(),
            parent=parent.sid if parent else None,
            op=self._op.sid if self._op else None,
        )
        st.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.end = time.time()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def begin_op(self, name: str) -> Span:
        sp = self.open(name)
        sp.op = sp.sid
        self._op = sp
        return sp

    def end_op(self, sp: Span) -> None:
        self.close(sp)
        self._op = None


def _wrapper(rec: Recorder, name: str, fn, on_result=None):
    @functools.wraps(fn)
    def wrapped(*args, **kwargs):
        sp = rec.open(name)
        try:
            out = fn(*args, **kwargs)
            if on_result is not None:
                on_result(sp, out)
            return out
        finally:
            rec.close(sp)

    return wrapped


def wrap_function(rec: Recorder, module, attr: str, name: str, on_result=None) -> None:
    """Replace ``module.attr`` and every ``from module import attr`` alias
    already bound in the program's modules."""
    orig = getattr(module, attr)
    new = _wrapper(rec, name, orig, on_result)
    for mod in list(sys.modules.values()):
        if getattr(mod, "__name__", "").startswith("politicamente_etl_spark") and getattr(
            mod, attr, None
        ) is orig:
            setattr(mod, attr, new)


def wrap_method(rec: Recorder, cls, attr: str, name: str, on_result=None) -> None:
    raw = cls.__dict__[attr]
    if isinstance(raw, classmethod):
        setattr(cls, attr, classmethod(_wrapper(rec, name, raw.__func__, on_result)))
    else:
        setattr(cls, attr, _wrapper(rec, name, raw, on_result))


def public_functions(module) -> list[str]:
    """Names of the functions a module defines itself and exports."""
    return [
        n
        for n, v in vars(module).items()
        if not n.startswith("_")
        and callable(v)
        and getattr(v, "__module__", None) == module.__name__
        and not isinstance(v, type)
    ]


TXLOG_COMMITS = ("create", "append", "merge", "optimize")
TXLOG_READS = ("snapshot", "scan", "version_as_of")


def instrument(rec: Recorder) -> None:
    """Wrap every layer boundary the per-layer metrics are read from."""
    from politicamente_etl_spark import cli
    from politicamente_etl_spark.operators import core, dedup, sim
    from politicamente_etl_spark.sources import ingest, readers
    from politicamente_etl_spark.sources.txlog import TxLogTable

    wrap_function(rec, core, "spread", "operators.core.spread")
    wrap_function(rec, readers, "load_table", "sources.readers.load_table")
    for mod, short in ((dedup, "dedup"), (sim, "sim")):
        for fn in public_functions(mod):
            wrap_function(rec, mod, fn, f"operators.{short}")
    wrap_function(rec, cli, "main", "cli.command")
    wrap_function(rec, ingest, "get_tse_data", "sources.ingest.get_tse_data")
    for m in TXLOG_COMMITS:
        wrap_method(rec, TxLogTable, m, f"sources.txlog.commit.{m}")
    for m in TXLOG_READS:
        wrap_method(rec, TxLogTable, m, f"sources.txlog.read.{m}")

    def _files(sp, out):
        files, total = out
        sp.attrs.update(kept=len(files), total=total)

    wrap_method(rec, TxLogTable, "scan_files", "sources.txlog.scan_files", _files)


# --- procfs -----------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int | str) -> list[str] | None:
    """Fields after the command of ``/proc/<pid>/stat``; ``pid`` may be
    ``"<pid>/task/<tid>"`` for one thread."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rindex(")") + 2 :].split()


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
    except OSError:
        pass
    return out


def descendants(pid: int) -> list[int]:
    todo, out = children(pid), []
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children(p)
    return out


JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def comm(pid: int | str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def cpu_s(pid: int, with_reaped: bool = True) -> float:
    """utime + stime (and the reaped children's, which is where an exited
    Python worker's time lands) in seconds."""
    st = _stat(pid)
    if st is None:
        return 0.0
    n = int(st[11]) + int(st[12])
    if with_reaped:
        n += int(st[13]) + int(st[14])
    return n / CLK_TCK


def vm_hwm_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


class Procs:
    """The Python driver, its JVM and the JVM's Python workers."""

    def __init__(self) -> None:
        self.me = os.getpid()
        jvms = [p for p in descendants(self.me) if comm(p) == "java"]
        self.jvm = jvms[0] if jvms else None
        self.seen_workers: set[int] = set()

    def workers(self) -> list[int]:
        if self.jvm is None:
            return []
        ws = [p for p in descendants(self.jvm) if comm(p).startswith("python")]
        self.seen_workers.update(ws)
        return ws

    def jit_cpu_s(self) -> float:
        """CPU time of the JVM's JIT compiler threads (which the benchmark
        keeps alive for the JVM's lifetime, so none exits and takes its
        time out of this sum)."""
        total = 0
        task = f"/proc/{self.jvm}/task"
        for tid in os.listdir(task) if self.jvm else ():
            if comm(f"{self.jvm}/task/{tid}").startswith(JIT_THREADS):
                st = _stat(f"{self.jvm}/task/{tid}")
                if st is not None:
                    total += int(st[11]) + int(st[12])
        return total / CLK_TCK

    def cpu(self) -> dict[str, float]:
        """Driver (own time only: the JVM is its unreaped child), JVM
        (without its Python descendants and its JIT compilers), the JIT
        compilers and the Python workers."""
        ws = self.workers()
        jit = self.jit_cpu_s()
        jvm = cpu_s(self.jvm, with_reaped=False) - jit if self.jvm else 0.0
        return {
            "driver": cpu_s(self.me, with_reaped=False),
            "jvm": jvm,
            "jit": jit,
            "workers": sum(cpu_s(w) for w in ws),
        }

    def cpu_total(self) -> float:
        """CPU time of the program: everything but the JIT compilers, whose
        work falls as the run warms up rather than with the program's."""
        c = self.cpu()
        return c["driver"] + c["jvm"] + c["workers"]

    def rss_peak_mb(self) -> float:
        return vm_hwm_mb(self.me) + (vm_hwm_mb(self.jvm) if self.jvm else 0.0)


class WorkerPoller:
    """Samples the JVM's Python workers every 0.2 s (traced runs only), so
    short-lived workers are counted."""

    def __init__(self, procs: Procs) -> None:
        self.procs = procs
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(0.2):
            self.procs.workers()

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
