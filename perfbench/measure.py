"""Outside-in measurement: spans, /proc CPU and memory, Spark job counts.

Everything here observes the program from the benchmark's side of its
public calls. Nothing patches or imports the package's internals.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ spans
class Tracer:
    """In-memory spans: name, start, end, parent and the query id shared
    by one query's spans. ``enabled=False`` makes every call a no-op, so
    the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def span(self, name: str, query: str | None = None,
             parent: int | None = None, **attrs):
        """Context manager recording one span. Its parent is ``parent``
        when given (a span opened on another thread), else the span open
        on this thread."""
        return _Span(self, name, query, parent, attrs)

    def _stack(self) -> list:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval its children cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = _union_length(children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"] - covered)
        return out


class _Span:
    def __init__(self, tracer: Tracer, name: str, query: str | None,
                 parent: int | None, attrs: dict):
        self.tracer, self.name, self.query = tracer, name, query
        self.parent, self.attrs = parent, attrs
        self.record: dict = {}

    def __enter__(self) -> "_Span":
        tr = self.tracer
        if tr.enabled:
            stack = tr._stack()
            parent = self.parent
            if parent is None and stack:
                parent = stack[-1]
            with tr._lock:
                self.record = {"id": len(tr.spans), "name": self.name,
                               "parent": parent, "query": self.query,
                               "start": time.perf_counter(), "end": None}
                tr.spans.append(self.record)
            stack.append(self.record["id"])
        return self

    def __exit__(self, *exc) -> None:
        tr = self.tracer
        if tr.enabled:
            self.record["end"] = time.perf_counter()
            self.record.update(self.attrs)
            tr._stack().pop()

    @property
    def id(self) -> int | None:
        return self.record.get("id")

    def set(self, **attrs) -> None:
        self.attrs.update(attrs)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# ------------------------------------------------------------------ /proc
def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields resume after its closing parenthesis
    return raw[raw.rindex(")") + 2:].split()


def process_cpu_s(pid: int, children: bool = False) -> float:
    """utime+stime of ``pid`` (all threads), plus its reaped children's
    when ``children``."""
    f = _stat(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _TICK


def descendants(root: int) -> list[int]:
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                parent[int(name)] = int(f[1])
    out, frontier = [], {root}
    while frontier:
        frontier = {p for p, pp in parent.items() if pp in frontier}
        out.extend(frontier)
    return out


def pyworker_cpu_s(jvm_pid: int) -> float:
    """CPU of the Python worker processes the JVM started (the pyspark
    daemon and its forked workers), counting workers already reaped."""
    return sum(process_cpu_s(p, children=True) for p in descendants(jvm_pid))


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class CpuMeter:
    """Reads the JVM, Python-worker and driver-Python CPU counters."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> dict[str, float]:
        t = os.times()
        return {"jvm": process_cpu_s(self.jvm_pid),
                "pyworker": pyworker_cpu_s(self.jvm_pid),
                "driver_py": t.user + t.system}

    @staticmethod
    def delta(a: dict, b: dict) -> dict[str, float]:
        return {k: b[k] - a[k] for k in a}


# ------------------------------------------------------------------ Spark
def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def heap_used_mb(spark) -> float:
    """JVM heap in use after a full GC: the live set."""
    jvm = spark._jvm
    jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean() \
        .getHeapMemoryUsage()
    return usage.getUsed() / 2 ** 20


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages that ran a task, and tasks run under a job group."""
    jt = spark.sparkContext._jsc.sc().statusTracker()
    jobs = stages = tasks = 0
    seen: set[int] = set()
    for jid in jt.getJobIdsForGroup(group):
        jobs += 1
        info = jt.getJobInfo(jid)
        if info.isEmpty():
            continue
        for sid in info.get().stageIds():
            if sid in seen:
                continue
            seen.add(sid)
            st = jt.getStageInfo(sid)
            if st.isEmpty():
                continue
            n = st.get().numCompletedTasks() + st.get().numFailedTasks()
            if n:
                stages += 1
                tasks += n
    return {"jobs": jobs, "stages": stages, "tasks": tasks}


_EXCHANGE = re.compile(r"^[\s+\-:|*]*(?:Exchange|BroadcastExchange|ReusedExchange)\b")


def plan_phases_s(df) -> float:
    """Analysis + optimization + planning seconds from the DataFrame's
    QueryPlanningTracker (phases not yet run count 0)."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total / 1000


def force_planning(df) -> None:
    df._jdf.queryExecution().executedPlan()


def plan_exchanges(df) -> int:
    """Exchange nodes in the DataFrame's physical plan: the final plan
    once adaptive execution has run it, else the initial one."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return sum(1 for line in plan.treeString().splitlines()
               if _EXCHANGE.match(line))


# ------------------------------------------------------------------ stats
def summary(values: list[float]) -> dict:
    """Median, the highest percentile with at least ten samples beyond
    it (None below 20 samples), and the sample count."""
    n = len(values)
    if not n:
        return {"median": None, "p": None, "p_value": None, "n": 0}
    out = {"median": statistics.median(values), "p": None, "p_value": None,
           "n": n}
    if n >= 20:
        out["p"] = int(100 * (n - 10) / n)
        out["p_value"] = sorted(values)[n - 11]
    return out
