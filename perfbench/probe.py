"""Measurement helpers: spans, process-tree RSS, Spark stage counters.

Everything here observes the program from outside: spans wrap the
benchmark's own calls into the package, memory is read from ``/proc``,
and Spark counters come from the status tracker and status store of the
running context, keyed by job group.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory spans: name, start, end, parent span and op id.

    Disabled tracers record nothing and cost one branch per span.
    """

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def median_s(self, name: str) -> float:
        return statistics.median(self.durations(name))


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, read from ``/proc``."""
    children: dict[int, list[int]] = {}
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry.name))
    out, todo = [], [root]
    while todo:
        kids = children.get(todo.pop(), [])
        out.extend(kids)
        todo.extend(kids)
    return out


def _rss_bytes(pids) -> int:
    """Summed resident memory of ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the summed RSS of this process tree every ``interval`` s
    on a daemon thread and keeps the peak. The tree is re-listed every
    ``relist`` samples only: listing it scans all of ``/proc``, and the
    sampler shares the interpreter with the client it measures."""

    def __init__(self, interval: float = 0.1, relist: int = 10) -> None:
        self.interval = interval
        self.relist = relist
        self.peak = 0
        self._pids = [os.getpid()]
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        n = 0
        while not self._stop.is_set():
            if n % self.relist == 0:
                self._pids = [me, *descendants(me)]
            n += 1
            self.peak = max(self.peak, _rss_bytes(self._pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample_now(self) -> None:
        me = os.getpid()
        self.peak = max(self.peak, _rss_bytes([me, *descendants(me)]))


def group_counters(spark, group: str) -> dict:
    """Stage counters of every completed stage run under job group
    ``group``: stage and task counts, executor run time, shuffle and
    spill bytes, and the heaviest stage's longest task against that
    stage's wall time."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    jvm = sc._jvm
    no_status = jvm.java.util.ArrayList()
    no_quantiles = sc._gateway.new_array(jvm.double, 0)
    out = {"stages": 0, "tasks": 0, "run_ms": 0, "shuffle_bytes": 0,
           "spill_bytes": 0, "max_task_share": 0.0}
    heaviest = None
    seen = set()
    for job_id in sc.statusTracker().getJobIdsForGroup(group):
        ids = store.job(job_id).stageIds()
        for sid in (ids.apply(i) for i in range(ids.size())):
            if sid in seen:
                continue
            seen.add(sid)
            attempts = store.stageData(sid, False, no_status, False,
                                       no_quantiles)
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.status().toString() != "COMPLETE":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["run_ms"] += st.executorRunTime()
                out["shuffle_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += (st.memoryBytesSpilled()
                                       + st.diskBytesSpilled())
                if heaviest is None or st.executorRunTime() > heaviest[0]:
                    heaviest = (st.executorRunTime(), sid, st.attemptId(),
                                st.numTasks(), st)
    if heaviest is not None:
        _, sid, attempt, n_tasks, st = heaviest
        wall = (st.completionTime().get().getTime()
                - st.submissionTime().get().getTime())
        tasks = store.taskList(sid, attempt, n_tasks)
        longest = max((tasks.apply(i).duration().get()
                       for i in range(tasks.size())
                       if tasks.apply(i).duration().isDefined()), default=0)
        out["max_task_share"] = longest / wall if wall > 0 else 1.0
    return out
