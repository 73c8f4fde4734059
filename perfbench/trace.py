"""Measurement helpers: percentiles, interval unions, resident memory, and
readers for what Spark already records about a run.

Everything here observes the program from outside: the live status store
(jobs and stages, reachable with the UI disabled), the SQL status store
(per-operator metrics) and ``StreamingQueryProgress`` events delivered to a
listener. Nothing in the engine is changed to produce these numbers.
"""

from __future__ import annotations

import json
import math
import os
import re
import threading
import time
from datetime import datetime

# --- pure helpers (unit-tested) ---------------------------------------------

PERCENTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile of ``values`` (0 < p <= 100)."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[_rank(p, len(s)) - 1]


def _rank(p: float, n: int) -> int:
    # the epsilon keeps 90% of 100 at rank 90 despite float rounding
    return max(1, math.ceil(p / 100.0 * n - 1e-9))


def tail_percentile(values: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest of ``PERCENTILES`` with at least ``min_beyond`` samples
    above it, as (percentile, value); None when even the median has fewer."""
    best = None
    n = len(values)
    for p in PERCENTILES:
        if n - _rank(p, n) >= min_beyond:
            best = (p, percentile(values, p))
    return best


def union_length(intervals: list[tuple[float, float]], lo: float | None = None,
                 hi: float | None = None) -> float:
    """Total length covered by ``intervals``, each clipped to [lo, hi]."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# --- resident memory of a process tree ---------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _start_time(pid: int) -> str | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2 :].split()[19]


def descendants(root: int) -> dict[int, str]:
    """pid -> start time of every live descendant of ``root``."""
    kids = _children_map()
    out: dict[int, str] = {}
    stack = list(kids.get(root, ()))
    while stack:
        pid = stack.pop()
        start = _start_time(pid)
        if start is not None:
            out[pid] = start
        stack.extend(kids.get(pid, ()))
    return out


def reap(procs: dict[int, str], timeout_s: float = 20.0) -> None:
    """Kill the processes in ``procs`` (pid -> start time) that still run,
    and wait until all have ended. A pid whose start time changed was
    reused by an unrelated process and is left alone."""
    import signal

    deadline = time.time() + timeout_s
    pending = dict(procs)
    while pending and time.time() < deadline:
        for pid, start in list(pending.items()):
            if _start_time(pid) != start:
                del pending[pid]
                continue
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                del pending[pid]
        time.sleep(0.05)
    if pending:
        raise TimeoutError(f"processes {sorted(pending)} did not end")


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids = _children_map()
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        total += _rss_bytes(pid)
        stack.extend(kids.get(pid, ()))
    return total


class PeakRss:
    """Samples the resident memory of a process tree on a thread and keeps
    the peak. Use as a context manager around the timed part."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(self.root))


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total


SHM = "/dev/shm"


def shm_entries() -> set[str]:
    return set(os.listdir(SHM)) if os.path.isdir(SHM) else set()


def shm_bytes_added(before: set[str]) -> int:
    """Bytes under /dev/shm in the entries that were not there at the start
    of the run: the engine's scratch directories and whatever else the run
    keeps in shared memory."""
    total = 0
    for name in shm_entries() - before:
        path = os.path.join(SHM, name)
        if os.path.isdir(path):
            total += dir_bytes(path)
        else:
            try:
                total += os.lstat(path).st_size
            except OSError:
                pass
    return total


# --- Spark status store --------------------------------------------------------


class StatusStore:
    """Jobs, stages and SQL metrics from the live status store, serialized
    JVM-side to JSON in one call each (the REST API's own Jackson setup)."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        )
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        self._mapper = mapper
        self._jvm = jvm

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> dict[int, dict]:
        jvm = self._jvm
        empty = jvm.java.util.ArrayList()
        quantiles = self.spark.sparkContext._gateway.new_array(jvm.double, 0)
        rows = self._json(
            self._store.stageList(empty, False, False, quantiles, jvm.java.util.ArrayList())
        )
        return {s["stageId"]: s for s in rows}

    def last_execution_id(self) -> int:
        ex = self._sql_store.executionsList()
        n = ex.size()
        return ex.apply(n - 1).executionId() if n else -1

    def python_time_ms(self, after_execution_id: int) -> float:
        """Sum of the "time to run Python workers" SQL metric over every SQL
        execution newer than ``after_execution_id``."""
        total = 0.0
        ex = self._sql_store.executionsList()
        for i in range(ex.size()):
            e = ex.apply(i)
            if e.executionId() <= after_execution_id:
                continue
            metrics = e.metrics()
            ids = []
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() == "time to run Python workers":
                    ids.append(m.accumulatorId())
            if not ids:
                continue
            values = self._sql_store.executionMetrics(e.executionId())
            for acc in ids:
                v = values.get(acc)
                if v.isDefined():
                    total += parse_duration_ms(v.get())
        return total

    def heap_used_mb(self) -> float:
        """JVM heap used right after a full GC."""
        rt = self._jvm.java.lang.Runtime.getRuntime()
        self._jvm.java.lang.System.gc()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20


_DURATION = re.compile(r"([0-9.]+)\s*(ms|s|m|h)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}


def parse_duration_ms(text: str) -> float:
    """First duration in a formatted SQL timing metric, e.g. the total in
    "total (min, med, max)\\n1.2 s (10 ms, 20 ms, 0.4 s)"."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    return float(m.group(1)) * _UNIT_MS[m.group(2)] if m else 0.0


def summarize_jobs(jobs: list[dict], stages: dict[int, dict], lo_ms: float,
                   hi_ms: float) -> dict[str, float]:
    """Jobs, tasks, executor CPU, shuffle and spill bytes of ``jobs``, and
    the driver gap: the part of [lo_ms, hi_ms] in which none of their
    stages was running."""
    stage_ids = {sid for j in jobs for sid in j.get("stageIds", ())}
    intervals = []
    out = {"jobs": float(len(jobs)), "tasks": 0.0, "exec_cpu_ms": 0.0,
           "exec_run_ms": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    for sid in stage_ids:
        s = stages.get(sid)
        if s is None:  # skipped stages never ran and are not listed
            continue
        out["tasks"] += s.get("numCompleteTasks", 0)
        out["exec_cpu_ms"] += s.get("executorCpuTime", 0) / 1e6
        out["exec_run_ms"] += s.get("executorRunTime", 0)
        out["shuffle_bytes"] += s.get("shuffleWriteBytes", 0)
        out["spill_bytes"] += s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
        # epoch milliseconds; null while a stage is still running
        a, b = s.get("submissionTime"), s.get("completionTime")
        if a is not None and b is not None:
            intervals.append((a, b))
    out["driver_gap_ms"] = (hi_ms - lo_ms) - union_length(intervals, lo_ms, hi_ms)
    return out


# --- streaming progress ---------------------------------------------------------


def make_progress_listener():
    """A StreamingQueryListener that keeps every progress event, grouped by
    the query's runId. Built lazily so importing this module needs no Spark."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressListener(StreamingQueryListener):
        def __init__(self):
            self.started: list[tuple[str, float]] = []
            self.progress: dict[str, list[dict]] = {}
            self.terminated: set[str] = set()
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            # the JVM's start time, not the (asynchronous) delivery time
            start = datetime.fromisoformat(event.timestamp.replace("Z", "+00:00"))
            with self._lock:
                self.started.append((str(event.runId), start.timestamp() * 1000.0))

        def onQueryProgress(self, event):
            p = json.loads(event.progress.json)
            with self._lock:
                self.progress.setdefault(p["runId"], []).append(p)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            with self._lock:
                self.terminated.add(str(event.runId))

        def runs_between(self, lo_ms: float, hi_ms: float) -> list[str]:
            """runIds of the queries that started within [lo_ms, hi_ms]."""
            with self._lock:
                return [r for r, t in self.started if lo_ms <= t <= hi_ms]

        def wait_runs(self, lo_ms: float, hi_ms: float, at_least: int = 0,
                      timeout_s: float = 30.0) -> list[str]:
            """runIds started within [lo_ms, hi_ms], once at least
            ``at_least`` have been seen and each has terminated (events
            arrive asynchronously, in order per query)."""
            deadline = time.time() + timeout_s
            while time.time() < deadline:
                runs = self.runs_between(lo_ms, hi_ms)
                with self._lock:
                    done = all(r in self.terminated for r in runs)
                if done and len(runs) >= at_least:
                    return runs
                time.sleep(0.01)
            raise TimeoutError(f"streams started in [{lo_ms}, {hi_ms}] did not end")

        def batches(self, run_id: str) -> list[dict]:
            with self._lock:
                return list(self.progress.get(run_id, ()))

    return ProgressListener()
