"""Process probes and the layer tracer.

:class:`RssPeak` samples the resident memory of this process and all of
its descendants (the JVM and any Python workers). :class:`Tracer` records
spans around the benchmark's calls into the program and the Spark
scheduler counts of the jobs each span ran. Both live in memory; the
tracer is written out once, when the run ends.
"""

from __future__ import annotations

import json
import math
import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def counted_pids(pid: int) -> list[int]:
    """``pid`` and every descendant that runs its own program. A child
    still running its parent's executable is a fork (a Python worker
    forked by the worker daemon) or a spawn helper the JVM has not yet
    replaced by exec; it shares its parent's pages, so it is not counted
    again."""
    out, todo = [], [(pid, None)]
    while todo:
        p, parent_exe = todo.pop()
        exe = _exe(p)
        if exe is None:
            continue
        if exe != parent_exe:
            out.append(p)
        todo.extend((c, exe) for c in children(p))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass  # ended since the last scan
    return total


class RssPeak:
    """Background sampler of the process tree's peak RSS.

    Finding the tree walks the children of every JVM thread (hundreds of
    them, ~9 ms of CPU), so the tree is found again only every ``RESCAN``
    seconds; in between, each sample reads the resident size of the
    processes already found (a few file reads).
    """

    INTERVAL = 0.05
    RESCAN = 1.0

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid, found = os.getpid(), -math.inf
        while not self._stop.is_set():
            if time.monotonic() - found >= self.RESCAN:
                pids, found = counted_pids(pid), time.monotonic()
            self.peak = max(self.peak, rss_bytes(pids))
            self._stop.wait(self.INTERVAL)

    def start(self) -> "RssPeak":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes(counted_pids(os.getpid())))
        return self.peak


class Tracer:
    """Spans with driver CPU, JVM GC time and Spark scheduler counts.

    A span records name, op id, parent, start and end (``time.time()``
    seconds). Every span boundary taken with :meth:`now` also reads the
    calling thread's CPU time (``time.thread_time``) and the JVM's
    cumulative GC time, so a span between two such boundaries gets exact
    ``driver_cpu_s`` and ``gc_s`` deltas. Spans rebuilt after the fact from
    a call's own stage timings have no such boundaries inside the call and
    carry wall time and scheduler counts only. Nothing samples in the
    background: the tracer does work only at span boundaries.

    Scheduler counts come from ``sparkContext.statusTracker()``: each op
    runs under its own job group; every stage of the group is attributed
    to the span whose interval holds the stage's submission time (the
    innermost such span), and each job to the span of its first stage.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._marks: dict[float, tuple[float, float]] = {}
        self._gc_beans: list = []

    def attach(self, spark) -> float:
        """Read JVM GC time from now on; returns a span boundary."""
        factory = spark.sparkContext._jvm.java.lang.management.ManagementFactory
        self._gc_beans = list(factory.getGarbageCollectorMXBeans())
        return self.now()

    # -- spans -------------------------------------------------------------
    def now(self) -> float:
        """Span boundary: wall time, with the thread's CPU time and the
        JVM's GC time read at the same point."""
        # cumulative ms of every collector; one py4j call per bean
        gc = sum(max(0, b.getCollectionTime()) for b in self._gc_beans) / 1000.0
        cpu = time.thread_time()
        now = time.time()
        self._marks[now] = (cpu, gc)
        return now

    def add(self, name: str, op: int, start: float, end: float,
            parent: str | None = None, **extra) -> None:
        self.spans.append({"name": name, "op": op, "parent": parent,
                           "start": start, "end": end, **extra})

    def finish(self, spark, group: str | None) -> None:
        """Fill wall time, CPU, GC and scheduler counts of the spans added
        since the last call; ``group`` is the job group of those spans (None: jobs
        run without a group)."""
        todo = [s for s in self.spans if "wall_s" not in s]
        for s in todo:
            s.update(wall_s=s["end"] - s["start"], jobs=0, stages=0, tasks=0,
                     failed_tasks=0)
            m0, m1 = self._marks.get(s["start"]), self._marks.get(s["end"])
            if m0 is not None and m1 is not None:
                s.update(driver_cpu_s=m1[0] - m0[0], gc_s=m1[1] - m0[1])
        self._marks.clear()
        tracker = spark.sparkContext._jsc.sc().statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = tracker.getJobInfo(jid)
            if not job.isDefined():
                continue
            first = None
            for sid in job.get().stageIds():
                st = tracker.getStageInfo(sid)
                if not st.isDefined():
                    continue
                st = st.get()
                done, failed = st.numCompletedTasks(), st.numFailedTasks()
                if done + failed == 0:  # skipped: its output was reused
                    continue
                t = st.submissionTime() / 1000.0
                span = _innermost(todo, t)
                if span is None:
                    continue
                span["stages"] += 1
                span["tasks"] += done + failed
                span["failed_tasks"] += failed
                for p in _ancestors(todo, span):
                    p["stages"] += 1
                    p["tasks"] += done + failed
                    p["failed_tasks"] += failed
                if first is None or t < first[0]:
                    first = (t, span)
            if first is not None:
                first[1]["jobs"] += 1
                for p in _ancestors(todo, first[1]):
                    p["jobs"] += 1

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)


def _innermost(spans: list[dict], t: float) -> dict | None:
    best = None
    for s in spans:
        if s["start"] <= t < s["end"] and (
            best is None or s["end"] - s["start"] < best["end"] - best["start"]
        ):
            best = s
    return best


def _ancestors(spans: list[dict], span: dict) -> list[dict]:
    by_name = {s["name"]: s for s in spans if s["op"] == span["op"]}
    out, p = [], span["parent"]
    while p is not None and p in by_name:
        out.append(by_name[p])
        p = by_name[p]["parent"]
    return out
