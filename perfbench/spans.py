"""Measurement helpers: latency statistics, spans with Spark status-store
counter deltas, write amplification and peak RSS from ``/proc``.

Everything here is benchmark-side: spans wrap calls into the engine's public
functions from outside, never code inside ``bharatmlstack_spark``.
"""

from __future__ import annotations

import math
import os
import time
from contextlib import contextmanager

# fixed percentile ladder for tails, so the reported percentile only changes
# when the sample count crosses a rung, not on every run
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
MIN_BEYOND = 10

COUNTER_KEYS = (
    "jobs",
    "tasks",
    "failed_tasks",
    "task_time_s",
    "gc_s",
    "shuffle_write_bytes",
    "spill_bytes",
)


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    s = sorted(values)
    n = len(s)
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2.0


def nearest_rank(values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile: (value, number of samples strictly beyond
    its rank)."""
    s = sorted(values)
    # round first: 99.9 / 100 * 10000 is 9990.000000000002 in binary
    rank = max(1, math.ceil(round(pct / 100.0 * len(s), 9)))
    return s[rank - 1], len(s) - rank


def tail(values: list[float], min_beyond: int = MIN_BEYOND) -> tuple[float, float, int] | None:
    """Highest ladder percentile with at least ``min_beyond`` samples beyond
    it, as (percentile, value, samples beyond); None when even the median
    has fewer than ``min_beyond`` samples beyond it."""
    best = None
    for pct in TAIL_LADDER:
        value, beyond = nearest_rank(values, pct) if values else (0.0, 0)
        if beyond >= min_beyond:
            best = (pct, value, beyond)
    return best


def write_amp(bytes_written: int, delta_bytes: int) -> float:
    """Table bytes written per byte of incoming delta."""
    if delta_bytes <= 0:
        raise ValueError("write_amp needs a non-empty delta")
    return bytes_written / delta_bytes


def file_sizes(root: str) -> dict[str, int]:
    """{relative path: size} of the data files under ``root`` (hidden and
    underscore files, e.g. _SUCCESS and the table sidecar, excluded)."""
    out: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            full = os.path.join(dirpath, f)
            out[os.path.relpath(full, root)] = os.path.getsize(full)
    return out


def new_files(before: dict[str, int], after: dict[str, int]) -> tuple[int, int]:
    """(files, bytes) present in ``after`` but not in ``before``. Spark names
    every written part file uniquely, so a rewritten file is a new name."""
    added = [p for p in after if p not in before]
    return len(added), sum(after[p] for p in added)


def counter_delta(before: dict[str, float], after: dict[str, float]) -> dict[str, float]:
    return {k: after[k] - before[k] for k in COUNTER_KEYS}


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def child_pids(pid: int) -> list[int]:
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; the ppid follows its closing paren
        if int(stat.rsplit(")", 1)[1].split()[1]) == pid:
            out.append(int(entry))
    return out


def peak_rss_mb(pid: int | None = None) -> list[float]:
    """Peak RSS (VmHWM, MB) of this process and of each direct child — the
    py4j gateway JVM is the driver's child."""
    pid = os.getpid() if pid is None else pid
    out = []
    for p in [pid, *child_pids(pid)]:
        try:
            out.append(_vm_hwm_kb(p) / 1024.0)
        except OSError:
            continue
    return out


def jvm_gc_seconds(sc) -> float:
    """Total collection time of every garbage collector of the driver JVM,
    which runs the planner and, in local mode, the executors too."""
    beans = sc._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0


class SparkCounters:
    """Cumulative task counters from the Spark status store.

    Task, failure, GC and shuffle totals come from ``executorList(True)``;
    jobs, task run time and spill from ``jobsList`` and
    ``stageList``, whose lists are sorted newest first, so only stages
    newer than the last snapshot are read. Spans run one at a time and
    every action has finished when a span ends, so a stage is complete
    by the time it is first read.
    """

    def __init__(self, sc):
        self._jsc = sc._jsc.sc()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._no_task_status = gw.jvm.java.util.ArrayList()
        self._stage_mark = -1
        self._run_ms = 0
        self._spill = 0

    def snapshot(self) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        ex = store.executorList(True)
        tasks = failed = gc_ms = shuffle = 0
        for i in range(ex.size()):
            e = ex.apply(i)
            tasks += e.totalTasks()
            failed += e.failedTasks()
            gc_ms += e.totalGCTime()
            shuffle += e.totalShuffleWrite()
        jobs = store.jobsList(None)
        last_job = jobs.apply(0).jobId() if jobs.size() else -1
        stages = store.stageList(
            None, False, False, self._no_quantiles, self._no_task_status
        )
        mark = self._stage_mark
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._stage_mark:
                break
            mark = max(mark, sid)
            self._run_ms += st.executorRunTime()
            self._spill += st.diskBytesSpilled()
        self._stage_mark = mark
        return {
            "jobs": last_job + 1,
            "tasks": tasks,
            "failed_tasks": failed,
            "task_time_s": self._run_ms / 1000.0,
            "gc_s": gc_ms / 1000.0,
            "shuffle_write_bytes": shuffle,
            "spill_bytes": self._spill,
        }


class Span:
    __slots__ = ("name", "op", "parent", "start", "end", "counters")

    def __init__(self, name: str, op: int | None, parent: str | None):
        self.name = name
        self.op = op
        self.parent = parent
        self.start = self.end = 0.0
        self.counters: dict[str, float] = {}

    @property
    def seconds(self) -> float:
        return self.end - self.start

    def as_dict(self) -> dict:
        return {
            "name": self.name,
            "op": self.op,
            "parent": self.parent,
            "start": self.start,
            "end": self.end,
            "counters": self.counters,
        }


class Tracer:
    """In-memory spans around layer calls. Disabled, ``span`` yields None
    and records nothing, so the untraced run pays one generator per call."""

    def __init__(self, counters: SparkCounters | None):
        self.enabled = counters is not None
        self._counters = counters
        self._stack: list[Span] = []
        self.spans: list[Span] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].name if self._stack else None
        sp = Span(name, self.op, parent)
        before = self._counters.snapshot()
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            sp.counters = counter_delta(before, self._counters.snapshot())
            self.spans.append(sp)

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]
