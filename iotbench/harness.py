"""Measurement helpers shared by the workloads.

Nothing here imports the program under test: percentiles, in-memory
spans with self-time accounting, per-op Spark job/task counters read
from Spark's status store, CPU steal from /proc/stat, CPU time and
peak RSS of this process and its descendants (the JVM), and the
on-disk walk of a warehouse.
"""

from __future__ import annotations

import math
import os
import signal
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# -- percentiles ----------------------------------------------------------

TAIL_MIN_BEYOND = 10


def median(samples: list[float]) -> float | None:
    return statistics.median(samples) if samples else None


def geomean(samples: list[float]) -> float | None:
    """Geometric mean: every sample counts, none dominates, and the
    figure does not jump between clusters the way a median of a mixed
    op set can."""
    if not samples:
        return None
    return math.exp(statistics.fmean(math.log(x) for x in samples))


def tail_percentile(samples: list[float], q: float) -> float | None:
    """Nearest-rank q-th percentile, or None when fewer than
    TAIL_MIN_BEYOND samples lie beyond its rank (a p90 needs >= 100
    samples): a tail read off a handful of samples is noise."""
    n = len(samples)
    if n == 0:
        return None
    rank = math.ceil(q / 100.0 * n)
    if n - rank < TAIL_MIN_BEYOND:
        return None
    return sorted(samples)[rank - 1]


# -- spans ----------------------------------------------------------------


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


class Tracer:
    """Spans kept in memory and written out once at the end of the run.

    A span's parent is the innermost open span on the same thread; a
    span opened on a thread with no open span (a pool thread started by
    the program) is parented to the innermost open span of the thread
    that began the current op. `enabled` is toggled per op, so a run can
    interleave traced and untraced ops.
    """

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self.op: int | None = None
        self._op_stack: list[int] = []

    def begin_op(self, op: int | None, enabled: bool) -> None:
        """Spans opened from now on belong to `op`; the calling thread
        is the one pool-thread spans fall back to for their parent."""
        self.op, self.enabled = op, enabled
        self._op_stack = self._stack()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record an interval measured elsewhere (a Spark job)."""
        with self._lock:
            self.spans.append(Span(self._next, name, start, end, parent, self.op))
            self._next += 1

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        fallback = self._op_stack
        parent = stack[-1] if stack else (fallback[-1] if fallback else None)
        with self._lock:
            sid = self._next
            self._next += 1
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            t1 = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, name, t0, t1, parent, self.op))

    def to_json(self) -> list[dict]:
        return [s.__dict__ for s in sorted(self.spans, key=lambda s: s.id)]


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> its duration minus the part of its interval that its
    child spans cover. Children may overlap each other (concurrent
    jobs, pool threads), so the covered part is the union of the
    children's intervals clipped to the parent's."""
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        p = by_id.get(s.parent) if s.parent is not None else None
        if p is None:
            continue
        lo, hi = max(s.start, p.start), min(s.end, p.end)
        if hi > lo:
            kids.setdefault(p.id, []).append((lo, hi))
    return {
        s.id: (s.end - s.start) - union_length(kids.get(s.id, []))
        for s in spans
    }


# -- Spark job counters ---------------------------------------------------


@dataclass
class OpJobs:
    jobs: int = 0
    tasks: int = 0
    # (start, end) of each job in perf_counter seconds
    intervals: list[tuple[float, float]] = field(default_factory=list)
    task_ms: float = 0.0


class JobCounter:
    """Per-op Spark jobs and tasks: each op runs under its own job
    group; right after the op the listener bus is drained and the
    group's jobs are read from the status store, long before
    spark.ui.retainedJobs could evict them. Job intervals come from the
    status store's wall-clock submission/completion stamps, mapped onto
    perf_counter via an offset taken at construction."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        jsc = self.sc._jsc.sc()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._offset = time.time() - time.perf_counter()

    def begin(self, op: int) -> None:
        self.sc.setJobGroup(f"bench-op-{op}", "benchmark op", False)

    def end(self, op: int) -> OpJobs:
        self._bus.waitUntilEmpty(30_000)
        out = OpJobs()
        for jid in sorted(self.tracker.getJobIdsForGroup(f"bench-op-{op}")):
            out.jobs += 1
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and done.isDefined():
                out.intervals.append(
                    (
                        sub.get().getTime() / 1000.0 - self._offset,
                        done.get().getTime() / 1000.0 - self._offset,
                    )
                )
            info = self.tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    out.tasks += st.numTasks
                try:
                    out.task_ms += self._store.lastStageAttempt(sid).executorRunTime()
                except Py4JJavaError:  # a skipped stage has no attempt
                    pass
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        return out


# -- host -----------------------------------------------------------------


def _cpu_jiffies() -> tuple[int, int] | None:
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
    except OSError:
        return None
    if not parts or parts[0] != "cpu":
        return None
    vals = [int(x) for x in parts[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


class StealWindow:
    """CPU steal over a window: share of all CPU time the hypervisor
    gave to other guests, from two /proc/stat readings."""

    def __init__(self) -> None:
        self._start = _cpu_jiffies()

    def pct(self) -> float:
        end = _cpu_jiffies()
        if self._start is None or end is None or end[1] <= self._start[1]:
            return 0.0
        return 100.0 * (end[0] - self._start[0]) / (end[1] - self._start[1])


class CpuClock:
    """User + system CPU seconds of this process and every descendant
    (the JVM, and any Python worker Spark starts later), plus the CPU of
    descendants that have exited (cutime + cstime of each process
    walked), less the JVM's JIT compiler threads. The process tree is
    walked again on every read, so a child started after construction
    counts from its first tick. Time the hypervisor steals from the
    guest is charged to no process, so the figure holds still while
    steal from other guests stretches wall time; JIT compilation runs in
    the background on its own schedule and is left out for the same
    reason. The compiler threads must be fixed at JVM start
    (-XX:-UseDynamicNumberOfCompilerThreads) so their time can be
    subtracted from the process total, which also keeps the time of
    threads that have exited."""

    def __init__(self) -> None:
        self._tick = os.sysconf("SC_CLK_TCK")
        self._jit = [
            f"/proc/{pid}/task/{tid}/stat"
            for pid in tree(os.getpid())
            for tid in _tasks(pid)
            if _comm(f"/proc/{pid}/task/{tid}/comm").startswith(("C1 Compiler", "C2 Compiler"))
        ]

    def read(self) -> float:
        total = sum(
            _cpu_ticks(f"/proc/{pid}/stat", reaped=True) for pid in tree(os.getpid())
        )
        total -= sum(_cpu_ticks(path) for path in self._jit)
        return total / self._tick


def _tasks(pid: int) -> list[str]:
    try:
        return os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []


def _comm(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read().strip()
    except OSError:
        return ""


def _stat_fields(stat_path: str) -> list[str] | None:
    """The fields of a /proc stat file after the command name (which
    may hold spaces), or None once the task is gone."""
    try:
        with open(stat_path) as fh:
            return fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None


def _cpu_ticks(stat_path: str, reaped: bool = False) -> int:
    """utime + stime of a /proc stat file, plus cutime + cstime (the
    reaped children's) when `reaped`; 0 once the task is gone."""
    f = _stat_fields(stat_path)
    if f is None:
        return 0
    ticks = int(f[11]) + int(f[12])
    return ticks + int(f[13]) + int(f[14]) if reaped else ticks


def tree(root: int) -> list[int]:
    """`root` and every live descendant, from one pass over /proc."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(f"/proc/{d}/stat")
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(d))
    pids, todo = [], [root]
    while todo:
        p = todo.pop()
        pids.append(p)
        todo.extend(kids.get(p, ()))
    return pids


def wait_ended(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until each process has ended (gone, or a zombie left for
    its reaper); kill any still running after `timeout_s`."""
    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while _running(pid):
            if time.monotonic() > deadline:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
                break
            time.sleep(0.05)


def _running(pid: int) -> bool:
    f = _stat_fields(f"/proc/{pid}/stat")
    return f is not None and f[0] != "Z"


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident set of this process plus every descendant (the
    JVM the Spark driver runs in), from each process's VmHWM."""
    return sum(_status_kb(p, "VmHWM") for p in tree(os.getpid())) / 1024.0


def retained_mb(spark) -> dict:
    """Memory the run holds on to: the JVM heap still in use after full
    collections, plus this process's resident set. Unlike the peak
    resident set, which follows the JVM's heap sizing and collection
    timing, it depends only on what the program keeps. A collection
    lets Spark's cleaner drop the broadcast and shuffle blocks of
    DataFrames that are gone, which frees more on the next one, so
    collect until the heap stops shrinking."""
    jvm = spark._jvm
    bean = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    heap = None
    for _ in range(5):
        jvm.java.lang.System.gc()
        time.sleep(0.2)
        used = bean.getHeapMemoryUsage().getUsed() / 2**20
        if heap is not None and used > 0.99 * heap:
            heap = min(heap, used)
            break
        heap = used
    py = _status_kb(os.getpid(), "VmRSS") / 1024.0
    return {"retained_mb": heap + py, "retained_heap_mb": heap, "retained_py_mb": py}


# -- storage --------------------------------------------------------------


def warehouse_stats(db_root: str, sinks: tuple[str, ...]) -> dict:
    """Walk an IotDatabase directory: total bytes on disk, and the data
    dirs and parquet files of the named sink tables."""
    total = 0
    for dirpath, _dirs, files in os.walk(db_root):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    data_dirs = parquet_files = 0
    for name in sinks:
        data = os.path.join(db_root, "Tables", name, "data")
        if not os.path.isdir(data):
            continue
        for sub in os.listdir(data):
            p = os.path.join(data, sub)
            if os.path.isdir(p):
                data_dirs += 1
                parquet_files += sum(
                    1 for f in os.listdir(p) if f.endswith(".parquet")
                )
    return {"bytes": total, "data_dirs": data_dirs, "parquet_files": parquet_files}
