"""Measurement probes: process-tree memory and host CPU from ``/proc``,
and the span tracer that splits a pass into Spark jobs and stages.

The tracer keeps spans in memory; the runner turns them into per-layer
numbers when the run ends. Job and stage figures come from the driver's
in-process status store (``sc.statusStore()``): ``job`` and
``lastStageAttempt``. ``stageList`` is not used because py4j cannot pass
its Scala default arguments.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                # the command name may hold spaces; ppid follows its ")"
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``."""
    kids, out = _children(), []
    todo = list(kids.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_pss_mb(root: int) -> float:
    """Proportional set size of ``root`` and all its descendants, in MiB.
    PSS splits each shared page among the processes that map it, so a
    child forked from the JVM is not counted as a second JVM."""
    total_kb = 0
    for pid in [root] + descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except (OSError, ValueError):
            continue
    return total_kb / 1024


class RssSampler:
    """Samples :func:`tree_pss_mb` of this process every 100 ms on a
    daemon thread; :meth:`take_peak` returns the peak since the previous
    call."""

    INTERVAL_S = 0.1

    def __init__(self) -> None:
        self._peak = 0.0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.wait(self.INTERVAL_S):
            rss = tree_pss_mb(pid)
            with self._lock:
                self._peak = max(self._peak, rss)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def take_peak(self) -> float:
        rss = tree_pss_mb(os.getpid())
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0.0
        return peak

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def old_gen_pools(spark) -> list:
    """The driver JVM's old-generation heap pool (MemoryPoolMXBean): the
    objects that outlive young collections. The young pools fill to
    their GC-chosen size before every collection, so their peaks say
    little about the program."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return [p for p in mf.getMemoryPoolMXBeans()
            if p.getType().name() == "HEAP" and ("Old" in p.getName() or "Tenured" in p.getName())]


def take_heap_peak_mb(pools) -> float:
    """The sum of the pools' peak usage since the previous call, in MiB;
    resets the peaks. The JVM updates a pool's peak itself, so no
    sampling is needed."""
    used = sum(p.getPeakUsage().getUsed() for p in pools)
    for p in pools:
        p.resetPeakUsage()
    return used / 2**20


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies from the first line of ``/proc/stat``."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return sum(vals[:8]), vals[7]


def load_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def dir_files(path: str) -> dict[str, int]:
    """{file path: size} of every file under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for n in files:
            p = os.path.join(root, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                continue
    return out


def bytes_added(before: dict[str, int], path: str) -> int:
    """Bytes of files under ``path`` that are not in ``before``."""
    return sum(s for p, s in dir_files(path).items() if p not in before)


#: per-span statistics, in the order they are reported
SPAN_STATS = ("wall_s", "driver_s", "jobs", "tasks", "exec_cpu_s", "shuffle_mb")


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


class Tracer:
    """Records named spans around calls into the program.

    Each span sets a Spark job group named after it, and collects the
    jobs the status store saw start inside the span's wall-clock window;
    the workloads are single-threaded, so the window attributes every
    job, including those of streaming queries, which run under their
    own job group. ``driver_s`` is the span's wall time minus the union
    of its job intervals.

    With ``enabled=False`` a span only yields; nothing is recorded.
    """

    def __init__(self, spark, enabled: bool) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._seen_job = -1

    def _store(self):
        return self.sc._jsc.sc().statusStore()

    def _drain(self) -> None:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._drain()
        self.sc.setJobGroup(name, name)
        t0_wall, t0 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            t1_wall = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
            self._drain()
            rec = {"name": name, "wall_s": wall}
            rec.update(self._jobs_between(t0_wall, t1_wall))
            self.spans.append(rec)

    def _new_jobs(self, store):
        """Jobs the store holds beyond the last one read. Job ids are
        dense and ascending, so read forward until one is missing."""
        while True:
            try:
                j = store.job(self._seen_job + 1)
            except Exception:  # py4j-wrapped NoSuchElementException
                return
            self._seen_job += 1
            yield j

    def catch_up(self) -> None:
        """Skip the jobs run so far, so the next span reads only its own."""
        if self.enabled:
            self._drain()
            for _ in self._new_jobs(self._store()):
                pass

    def _jobs_between(self, t0: float, t1: float) -> dict:
        store = self._store()
        intervals, stages = [], set()
        for j in self._new_jobs(store):
            if not j.submissionTime().isDefined():
                continue
            start = j.submissionTime().get().getTime() / 1000.0
            if start < t0 - 0.001:
                continue
            end = j.completionTime().get().getTime() / 1000.0 if j.completionTime().isDefined() else t1
            intervals.append((max(start, t0), min(end, t1)))
            ids = j.stageIds()
            for k in range(ids.size()):
                stages.add(ids.apply(k))
        tasks = cpu_ns = shuffle = 0
        for sid in stages:
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # stage evicted from the store
                continue
            tasks += s.numCompleteTasks()
            cpu_ns += s.executorCpuTime()
            shuffle += s.shuffleReadBytes() + s.shuffleWriteBytes()
        return {
            "jobs": len(intervals),
            "driver_s": max(0.0, (t1 - t0) - _union_s(intervals)),
            "tasks": tasks,
            "exec_cpu_s": cpu_ns / 1e9,
            "shuffle_mb": shuffle / 2**20,
        }
