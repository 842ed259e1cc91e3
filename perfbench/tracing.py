"""Benchmark-side tracing and memory sampling.

Spans are recorded by the benchmark around its calls into each layer's
public function; nothing inside the program is instrumented.  Each span
carries (name, start, end, parent, run id) and the Spark job/task counts
of the jobs it ran, found through its job group and the status tracker.
Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    spark_jobs: int = 0
    spark_tasks: int = 0
    tasks_failed: int = 0
    counts: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _spark_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, tasks, failed tasks) of every job run under ``group``."""
    tracker = sc.statusTracker()
    jobs = tasks = failed = 0
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        jobs += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                tasks += stage.numCompletedTasks
                failed += stage.numFailedTasks
    return jobs, tasks, failed


class Tracer:
    """Collects spans for one benchmark run.  ``sc`` is the SparkContext
    whose job groups are read; with ``sc=None`` spans carry no counts."""

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1].span_id if self._stack else None
        sp = Span(len(self.spans), name, parent, self.run_id, time.monotonic())
        self.spans.append(sp)
        self._stack.append(sp)
        group = f"{self.run_id}/{sp.span_id}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.monotonic()
            self._stack.pop()
            if self.sc is not None:
                sp.spark_jobs, sp.spark_tasks, sp.tasks_failed = _spark_counts(self.sc, group)
                if self._stack:
                    outer = self._stack[-1]
                    self.sc.setJobGroup(f"{self.run_id}/{outer.span_id}", outer.name)
                else:
                    self.sc.setJobGroup(f"{self.run_id}/-", "untraced")

    def self_time(self, sp: Span) -> float:
        """Span duration minus the part its direct children cover."""
        children = sum(c.duration for c in self.spans if c.parent == sp.span_id)
        return sp.duration - children

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        rows = [
            {**asdict(sp), "duration": sp.duration, "self": self.self_time(sp)}
            for sp in self.spans
        ]
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": rows}, fh, indent=1)
            fh.write("\n")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    task_dir = f"/proc/{pid}/task"
    try:
        tids = os.listdir(task_dir)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{task_dir}/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
        except OSError:
            continue
    return out


def descendants(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    out: list[int] = []
    todo = [pid]
    while todo:
        kids = _children(todo.pop())
        out.extend(kids)
        todo.extend(kids)
    return out


def tree_rss_bytes(root: int) -> int:
    """Resident set size summed over ``root`` and all its descendants."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
    return total


def _heap_pools(sc) -> list:
    mf = sc._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType().name() == "HEAP"]


def reset_heap_peaks(sc) -> None:
    """Start a new peak-usage interval in every heap pool of the JVM."""
    for pool in _heap_pools(sc):
        pool.resetPeakUsage()


def heap_peaks_mb(sc) -> dict[str, float]:
    """``{pool name: peak used MB}`` of every heap pool of the JVM since the
    last ``reset_heap_peaks``, as the JVM's own pool counters record it."""
    return {p.getName(): p.getPeakUsage().getUsed() / 2**20 for p in _heap_pools(sc)}


class PeakRss:
    """Background sampler of the process tree's RSS (``psutil`` is not
    available, so it reads ``/proc``).  Use as a context manager.

    ``peak`` is the highest level that two samples in a row reach.  A
    single-sample excursion is left out: in 2 of 20 runs one sample read
    0.8-1.8 GB above a peak that every other sample held within 1%, a
    transient of the tree's processes rather than memory the program
    holds."""

    def __init__(self, interval: float = 0.1):
        self.root = os.getpid()
        self.interval = interval
        self.peak = 0
        self._prev = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        cur = tree_rss_bytes(self.root)
        self.peak = max(self.peak, min(cur, self._prev))
        self._prev = cur

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
