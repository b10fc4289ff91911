"""Measurement from outside the engine: layer spans with Spark counter
deltas, and the resident memory (PSS) of the Spark process tree.

Nothing here patches the engine. A span wraps one call into a layer's
public function made by the benchmark; the caller materialises the call's
output inside the span so lazy DataFrames are charged to the layer that
built them. Counters come from Spark's own status store (the executor
summaries) and status tracker (job ids), read after draining the listener
bus; both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SAMPLE_PERIOD_S = 0.25  # PeakMemory

# counter name -> ExecutorSummary getter, summed over executors
_EXECUTOR_COUNTERS = {
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "shuffle_write_b": "totalShuffleWrite",
    "shuffle_read_b": "totalShuffleRead",
    "tasks_done": "completedTasks",
    "tasks_failed": "failedTasks",
}


class SparkCounters:
    """Cumulative Spark counters for the whole application."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()

    def read(self) -> dict[str, int]:
        self._jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(_EXECUTOR_COUNTERS, 0)
        it = self._jsc.statusStore().executorList(True).iterator()
        while it.hasNext():
            ex = it.next()
            for k, getter in _EXECUTOR_COUNTERS.items():
                out[k] += int(getattr(ex, getter)())
        # job ids are sequential and the status store lists every job, in
        # a job group or not, highest id first; the largest id counts every
        # job even after old ones fall out of the retained list
        jobs = self._jsc.statusStore().jobsList(None)
        out["jobs"] = 0 if jobs.isEmpty() else jobs.head().jobId() + 1
        return out


@dataclass
class Span:
    layer: str
    part: str | None
    run: int
    parent: int | None
    start: float
    end: float = 0.0
    counters: dict[str, int] = field(default_factory=dict)  # deltas
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans kept in memory; ``self_values`` subtracts child spans."""

    def __init__(self, spark):
        self._counters = SparkCounters(spark)
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.run = 0

    @contextmanager
    def span(self, layer: str, part: str | None = None):
        before = self._counters.read()
        parent = self._stack[-1] if self._stack else None
        s = Span(layer, part, self.run, parent, time.perf_counter())
        idx = len(self.spans)
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            after = self._counters.read()
            s.counters = {k: after[k] - before[k] for k in after}

    def self_values(self, idx: int) -> tuple[float, dict[str, int]]:
        """(self wall seconds, self counter deltas) of span ``idx``."""
        s = self.spans[idx]
        wall = s.end - s.start
        ctr = dict(s.counters)
        for c in s.children:
            ch = self.spans[c]
            wall -= ch.end - ch.start
            for k, v in ch.counters.items():
                ctr[k] -= v
        return wall, ctr

    def dump(self) -> list[dict]:
        return [
            {
                "layer": s.layer, "part": s.part, "run": s.run,
                "parent": s.parent, "start": s.start, "end": s.end,
                "counters": s.counters,
            }
            for s in self.spans
        ]


class NullTracer:
    """Stands in for ``Tracer`` on untraced passes."""

    @contextmanager
    def span(self, layer: str, part: str | None = None):
        yield None


def _ppid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return int(stat.rsplit(")", 1)[1].split()[1])


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it, so forked Python workers add up correctly."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited between listing and reading
        pass
    return 0


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            pp = _ppid(name)
            if pp is not None:
                children.setdefault(pp, []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Summed resident memory (PSS) of every descendant of ``root`` (here:
    the Spark driver JVM and its Python workers), excluding ``root``."""
    return sum(_pss_bytes(pid) for pid in descendants(root))


class PeakMemory:
    """Samples ``tree_pss_bytes`` of this process every ``SAMPLE_PERIOD_S``
    seconds while inside ``measuring()``; ``peak`` is the largest sample."""

    def __init__(self):
        self.peak = 0
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))

    def _loop(self) -> None:
        while not self._stop.wait(SAMPLE_PERIOD_S):
            if self._on.is_set():
                self._sample()

    @contextmanager
    def measuring(self):
        self._sample()
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
