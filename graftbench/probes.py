"""Measurement from outside the program: process counters, Spark's
status stores, and spans around the program's public functions.

Nothing here changes what the program computes. ``ProcessTree`` reads
``/proc`` for the JVM and its Python workers; ``StatusReader`` reads the
job/stage store (``sc.statusStore()``) and the SQL store
(``sharedState().statusStore()``), both of which work with
``spark.ui.enabled=false``; ``Tracer`` wraps module functions in place and
restores them on ``uninstall``.
"""

from __future__ import annotations

import functools
import inspect
import os
import re
import sys
import time
from dataclasses import dataclass, field

_CLK = os.sysconf("SC_CLK_TCK")

# ---------------------------------------------------------------------------
# /proc: CPU seconds and peak resident memory of the JVM and its workers
# ---------------------------------------------------------------------------


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


class ProcessTree:
    """The JVM (``root``) and every process below it (Python workers)."""

    def __init__(self, root: int):
        self.root = root

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    children.setdefault(int(st[1]), []).append(int(name))
        out, todo = [], [self.root]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def cpu_s(self) -> float:
        """User+system seconds of the tree, including reaped children,
        plus this (driver) process's own."""
        ticks = 0
        for pid in self.pids():
            st = _stat(pid)
            if st is not None:
                # utime, stime, cutime, cstime are fields 14-17 (1-based)
                ticks += sum(int(x) for x in st[11:15])
        own = os.times()
        return ticks / _CLK + own.user + own.system

    def reset_peaks(self) -> None:
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as f:
                    f.write("5")  # resets VmHWM to the current RSS
            except OSError:
                pass

    def peak_rss_mb(self) -> dict[int, float]:
        """{pid: peak resident MB since the last reset} for the tree."""
        peaks = {}
        for pid in self.pids():
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            peaks[pid] = int(line.split()[1]) / 1024.0
                            break
            except OSError:
                pass
        return peaks


def pids_alive(pids: list[int]) -> list[int]:
    alive = []
    for pid in pids:
        st = _stat(pid)
        if st is not None and st[0] != "Z":
            alive.append(pid)
    return alive


# ---------------------------------------------------------------------------
# Spark status stores
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def metric_value(text: str | None) -> float:
    """Parse a SQL-store metric string: '1,234', '4.9 MiB', or the
    'total (min, med, max ...)\\n4.9 MiB (...)' form (the total is first)."""
    if not text:
        return 0.0
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = re.match(r"\s*(-?[\d,]+(?:\.\d+)?)\s*(B|KiB|MiB|GiB|TiB)?", text)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2), 1)


@dataclass
class JobRecord:
    job_id: int
    start: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class ExecRecord:
    exec_id: int
    nodes: list[tuple[str, dict[str, float]]] = field(default_factory=list)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


class StatusReader:
    """Reads jobs, stages and SQL executions that appeared since the last
    call. Call it between operations: the stores keep a bounded number of
    entries."""

    _NODE_METRICS = ("size of files read", "number of output rows", "data sent to Python workers")

    def __init__(self, spark):
        self.store = spark.sparkContext._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.seen_job = -1
        self.seen_exec = -1

    def read(self) -> tuple[list[JobRecord], list[ExecRecord]]:
        jobs = []
        seq = self.store.jobsList(None)  # newest first
        for i in range(seq.size()):
            j = seq.apply(i)
            jid = j.jobId()
            if jid <= self.seen_job:
                break
            start = _opt_ms(j.submissionTime())
            end = _opt_ms(j.completionTime())
            if start is None or end is None:
                continue
            rec = JobRecord(jid, start, end)
            ids = j.stageIds()
            for k in range(ids.size()):
                attempts = self.store.stageData(ids.apply(k), False, None, False, None)
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() != "COMPLETE":
                        continue  # skipped stages reuse an earlier shuffle
                    rec.stages += 1
                    rec.tasks += s.numCompleteTasks()
                    rec.executor_cpu_s += s.executorCpuTime() / 1e9
                    rec.executor_run_s += s.executorRunTime() / 1e3
                    rec.gc_s += s.jvmGcTime() / 1e3
                    rec.spill_bytes += s.diskBytesSpilled()
                    rec.shuffle_read_bytes += s.shuffleReadBytes()
                    rec.shuffle_write_bytes += s.shuffleWriteBytes()
            jobs.append(rec)
        if jobs:
            self.seen_job = max(self.seen_job, max(j.job_id for j in jobs))
        execs = []
        seq = self.sql.executionsList()  # oldest first
        for i in reversed(range(seq.size())):
            e = seq.apply(i)
            eid = e.executionId()
            if eid <= self.seen_exec:
                break
            if not e.completionTime().isDefined():
                continue
            values = self.sql.executionMetrics(eid)
            graph = self.sql.planGraph(eid).allNodes()
            rec = ExecRecord(eid)
            for k in range(graph.size()):
                node = graph.apply(k)
                name = node.name().strip()
                ms = node.metrics()
                vals = {}
                for q in range(ms.size()):
                    m = ms.apply(q)
                    if m.name() in self._NODE_METRICS:
                        v = values.get(m.accumulatorId())
                        vals[m.name()] = metric_value(v.get() if v.isDefined() else None)
                rec.nodes.append((name, vals))
            execs.append(rec)
        if execs:
            self.seen_exec = max(self.seen_exec, max(e.exec_id for e in execs))
        return jobs, execs


def union_seconds(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# Spans around the program's public functions
# ---------------------------------------------------------------------------

PACKAGE = "etl_s3_to_redshift_spark"

# layer -> module prefixes whose public functions get a span
LAYERS = {
    "session": (f"{PACKAGE}.session",),
    "sinks": (f"{PACKAGE}.sources.sinks",),
    "sources": (f"{PACKAGE}.sources",),
    "plans": (f"{PACKAGE}.plans",),
    "operators": (f"{PACKAGE}.operators", f"{PACKAGE}.functions"),
}


def layer_of(module: str) -> str | None:
    for layer, prefixes in LAYERS.items():  # sinks is matched before sources
        if any(module == p or module.startswith(p + ".") for p in prefixes):
            return layer
    return None


@dataclass
class Span:
    layer: str
    name: str
    start: float  # epoch seconds
    end: float
    parent: int | None
    tag: str | None = None


class Tracer:
    """Wraps every public function (and public method of every public
    class) defined in the layer modules, wherever the program's modules
    hold a reference to it. Spans stay in memory."""

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._pid = os.getpid()

    def span(self, layer: str, name: str, tag: str | None = None):
        return _SpanCtx(self, layer, name, tag)

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if os.getpid() != tracer._pid:
                return fn(*args, **kwargs)
            tag = next((os.path.basename(a.rstrip("/")) for a in args if isinstance(a, str) and "/" in a), None)
            with tracer.span(layer, fn.__qualname__, tag):
                return fn(*args, **kwargs)

        wrapper.__graftbench_original__ = fn
        return wrapper

    def install(self) -> None:
        if self._patched:
            return  # already installed
        mods = {n: m for n, m in list(sys.modules.items()) if n == PACKAGE or n.startswith(PACKAGE + ".")}
        targets: dict[int, object] = {}
        for name, mod in mods.items():
            layer = layer_of(name)
            if layer is None:
                continue
            for attr, obj in list(vars(mod).items()):
                if attr.startswith("_") or getattr(obj, "__module__", None) != name:
                    continue
                if inspect.isfunction(obj):
                    targets[id(obj)] = self._wrap(obj, layer)
                elif inspect.isclass(obj):
                    for m_name, m_obj in list(vars(obj).items()):
                        if not m_name.startswith("_") and inspect.isfunction(m_obj):
                            self._patched.append((obj, m_name, m_obj))
                            setattr(obj, m_name, self._wrap(m_obj, layer))
        for mod in mods.values():
            for attr, obj in list(vars(mod).items()):
                w = targets.get(id(obj))
                if w is not None and getattr(w, "__graftbench_original__", None) is obj:
                    self._patched.append((mod, attr, obj))
                    setattr(mod, attr, w)

    def uninstall(self) -> None:
        for owner, attr, original in reversed(self._patched):
            setattr(owner, attr, original)
        self._patched.clear()


class _SpanCtx:
    def __init__(self, tracer: Tracer, layer: str, name: str, tag: str | None):
        self.t, self.layer, self.name, self.tag = tracer, layer, name, tag

    def __enter__(self):
        t = self.t
        self.idx = len(t.spans)
        t.spans.append(Span(self.layer, self.name, time.time(), 0.0, t._stack[-1] if t._stack else None, self.tag))
        t._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        t = self.t
        t._stack.pop()
        t.spans[self.idx].end = time.time()
        return False


def self_seconds(spans: list[Span], layer: str, lo: float, hi: float) -> float:
    """Time inside the outermost ``layer`` spans of [lo, hi] that no span
    of another layer below them covers (the layer's self time).
    ``spans`` is the tracer's full list: parents are list indices."""
    children: dict[int, list[int]] = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    total = 0.0
    for i, s in enumerate(spans):
        if s.layer != layer or s.start < lo or s.end > hi:
            continue
        if s.parent is not None and spans[s.parent].layer == layer:
            continue  # inside an outer span of the same layer
        covered, todo = [], list(children.get(i, ()))
        while todo:
            c = todo.pop()
            if spans[c].layer == layer:
                todo.extend(children.get(c, ()))
            else:
                covered.append((spans[c].start, spans[c].end))
        total += (s.end - s.start) - union_seconds(covered, s.start, s.end)
    return total
