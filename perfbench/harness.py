"""Shared pieces of the benchmark: summaries, spans, process-tree memory
and Spark start/stop.

Nothing here changes the program under test. Spans are recorded by
replacing bound methods on instances the benchmark itself created
(``Tracer.wrap``), so the program's own modules stay untouched.
"""

from __future__ import annotations

import contextlib
import itertools
import math
import os
import statistics
import threading
import time


# -- summaries ---------------------------------------------------------


def summarize(values: list[float]) -> dict:
    """Median plus the highest percentile that still has at least ten
    samples beyond it (nearest rank, at most p99). Below 21 samples that
    percentile would not lie above the median, so the tail is then the
    maximum (``tail_pct`` 100)."""
    s = sorted(values)
    n = len(s)
    if not n:
        return {"n": 0, "p50": None, "tail_pct": None, "tail": None}
    out = {"n": n, "p50": statistics.median(s)}
    if n >= 21:
        p = min(99.0, 100.0 * (n - 10) / n)
        out["tail_pct"] = p
        out["tail"] = s[min(n - 11, max(0, math.ceil(p / 100 * n) - 1))]
    else:
        out["tail_pct"] = 100
        out["tail"] = s[-1]
    return out


def p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- spans ---------------------------------------------------------------


class Tracer:
    """In-memory spans: (id, name, start, end, parent, info).

    The parent is the innermost open span of the same thread, or, in a
    thread with no open span (a Spark callback, a server worker), the
    span most recently opened with ``span()``. ``info`` is a small value
    computed from the call (entry counts, reply kind). A disabled tracer
    wraps nothing, so untraced runs pay nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[tuple] = []
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._ambient: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def wrap(self, obj, attr: str, name: str, info=None) -> None:
        if not self.enabled:
            return
        orig = getattr(obj, attr)

        def traced(*args, **kwargs):
            stack = self._stack()
            sid = next(self._ids)
            parent = stack[-1] if stack else self._ambient
            stack.append(sid)
            res = None
            t0 = time.perf_counter()
            try:
                res = orig(*args, **kwargs)
                return res
            finally:
                t1 = time.perf_counter()
                stack.pop()
                extra = info(args, res) if info is not None else None
                self.spans.append((sid, name, t0, t1, parent, extra))

        setattr(obj, attr, traced)

    @contextlib.contextmanager
    def span(self, name: str):
        """A span around a block of the benchmark's own code."""
        if not self.enabled:
            yield
            return
        sid = next(self._ids)
        stack = self._stack()
        parent = stack[-1] if stack else self._ambient
        outer, self._ambient = self._ambient, sid
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self._ambient = outer
            self.spans.append((sid, name, t0, t1, parent, None))

    def of(self, name: str) -> list[tuple]:
        return [s for s in self.spans if s[1] == name]

    def self_time_s(self) -> dict[str, float]:
        """Per layer (the span name up to its first dot): span time not
        covered by the span's own children."""
        child_s: dict[int, float] = {}
        for sid, _n, t0, t1, parent, _i in self.spans:
            if parent is not None:
                child_s[parent] = child_s.get(parent, 0.0) + (t1 - t0)
        out: dict[str, float] = {}
        for sid, name, t0, t1, _p, _i in self.spans:
            layer = name.split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (t1 - t0) - child_s.get(sid, 0.0)
        return out


# -- process-tree memory -----------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; the ppid follows its ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_mb(pid: int) -> dict[int, float]:
    """Resident memory of a process and each of its descendants, as
    their proportional set sizes: a page shared by forked workers counts
    once in the total, not once per worker."""
    out = {}
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        out[p] = int(line.split()[1]) / 1024
                        break
        except OSError:
            continue
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class PeakRss:
    """Samples the resident memory of a process tree (the Python driver,
    its JVM and the JVM's Python workers) and keeps the highest total
    seen."""

    def __init__(self, pid: int, every_s: float = 0.25) -> None:
        self.pid = pid
        self.every_s = every_s
        self.peak_mb = 0.0
        self.at_peak: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        per_pid = tree_pss_mb(self.pid)
        total = sum(per_pid.values())
        if total > self.peak_mb:
            self.peak_mb = total
            # what the peak is made of, summed by command name
            self.at_peak = {}
            for p, mb in per_pid.items():
                name = "self" if p == self.pid else _comm(p)
                self.at_peak[name] = self.at_peak.get(name, 0.0) + mb

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.every_s):
                return

    def stop(self) -> float:
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak_mb


# -- Spark ---------------------------------------------------------------


def start_spark(app: str):
    """Start the program's tuned session; returns (spark, seconds)."""
    from walrus_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM PySpark launched, and wait until
    the JVM and its Python workers have exited."""
    from pyspark import SparkContext

    me = os.getpid()
    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    left = descendants(me)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when the pipe PySpark holds on its stdin closes
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        if not any(os.path.exists(f"/proc/{p}") for p in left):
            return
        time.sleep(0.1)


def job_counts(spark, group: str) -> tuple[int, int]:
    """(jobs, tasks) Spark ran under a job group, from StatusTracker."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in info.stageIds if info is not None else []:
            stage = st.getStageInfo(sid)
            if stage is not None:
                tasks += stage.numTasks
    return len(jobs), tasks
