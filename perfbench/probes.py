"""Read-only views of Spark's own local surfaces and of ``/proc``.

Nothing here changes what the engine computes: the run hygiene clears
caches between operations, and the readers look at the status REST API
(``uiWebUrl/api/v1``), ``QueryPlanningTracker`` over py4j and the process
table of the Spark JVM.
"""

from __future__ import annotations

import gc
import json
import os
import re
import threading
import time
import urllib.parse
import urllib.request

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


# --- run hygiene --------------------------------------------------------------


def cached_blocks(spark) -> int:
    """Cached RDD partitions the block manager currently holds."""
    jsc = spark.sparkContext._jsc.sc()
    return sum(x.numCachedPartitions() for x in jsc.getRDDStorageInfo())


def drop_dead_blocks(spark, budget_s: float = 2.0) -> None:
    """Start the next operation from an empty block store.

    Python handles keep JVM RDDs alive through reference cycles, so the
    release chain is: clear the cache, collect Python garbage, run the
    JVM collector, then give the asynchronous ContextCleaner a bounded
    moment to unpersist what was released.
    """
    spark.catalog.clearCache()
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    deadline = time.perf_counter() + budget_s
    prev = None
    while time.perf_counter() < deadline:
        blocks = cached_blocks(spark)
        if blocks == 0 or blocks == prev:
            return
        prev = blocks
        time.sleep(0.1)


# --- the JVM process tree -----------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None


class JvmTree:
    """CPU and resident memory of the Spark JVM plus its Python workers.

    CPU counts every live process of the tree (user + system) and the
    reaped children each one has waited for, so exited workers are not
    lost.  Peak RSS is sampled by a background thread (``start`` /
    ``stop``), because a worker's high-water mark leaves with it.
    """

    INTERVAL_S = 0.1

    def __init__(self, pid: int):
        self.pid = pid
        self.peak_rss_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def cpu_s(self) -> float:
        ticks = 0
        for pid in process_tree(self.pid):
            f = _stat_fields(pid)
            if f:
                # utime, stime, cutime, cstime (fields 14-17, 1-based)
                ticks += sum(int(x) for x in f[11:15])
        return ticks / TICK

    def rss_bytes(self) -> int:
        pages = 0
        for pid in process_tree(self.pid):
            f = _stat_fields(pid)
            if f:
                pages += int(f[21])  # rss, field 24
        return pages * PAGE

    def _sample(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())

    def start(self) -> None:
        self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())
        self._thread = threading.Thread(target=self._sample, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.peak_rss_bytes = max(self.peak_rss_bytes, self.rss_bytes())


def jvm_counters(spark) -> tuple[float, float]:
    """Seconds the JVM has spent so far compiling (JIT) and collecting."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    gc_ms = sum(g.getCollectionTime() for g in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime() / 1e3, gc_ms / 1e3


def steal_s() -> float:
    """CPU time the hypervisor has taken from this machine, all CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / TICK if len(fields) > 8 else 0.0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


# --- Catalyst ---------------------------------------------------------------


def planning_phases(df) -> dict[str, float]:
    """``QueryPlanningTracker`` phase durations (ms) of ``df``'s plan."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


# --- status REST API ----------------------------------------------------------

_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h)\b")
_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_UNIT_B = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(text: str) -> float:
    """First number of an SQL-metric string, in seconds for durations and
    bytes for sizes (``"total (min, med, max ...)\\n1.2 s (...)"``)."""
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    if m:
        return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)]
    m = _SIZE.search(body)
    if m:
        return float(m.group(1).replace(",", "")) * _UNIT_B[m.group(2)]
    m = re.search(r"[\d.,]+", body)
    return float(m.group(0).replace(",", "")) if m else 0.0


class StatusApi:
    """The application's status REST API on the local UI port."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urllib.parse.urlparse(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self._bus = sc._jsc.sc().listenerBus()
        self._sql_seen = 0

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self) -> None:
        """Wait until the status store has seen every event posted so far."""
        self._bus.waitUntilEmpty(10_000)

    def jobs(self, groups: set[str]) -> list[dict]:
        return [j for j in self.get("/jobs") if j.get("jobGroup") in groups]

    def stages(self, stage_ids) -> list[dict]:
        out = []
        for sid in sorted(set(stage_ids)):
            attempts = self.get(f"/stages/{sid}?details=false")
            out.extend(a for a in attempts if a.get("status") == "COMPLETE")
        return out

    def task_skew(self, stage: dict) -> float:
        """max / median task run time of one stage."""
        q = self.get(
            f"/stages/{stage['stageId']}/{stage['attemptId']}"
            "/taskSummary?quantiles=0.5,1.0"
        )["executorRunTime"]
        return q[1] / q[0] if q[0] > 0 else 1.0

    def new_sql(self) -> list[dict]:
        """SQL executions recorded since the previous call."""
        got = self.get(
            f"/sql?details=true&planDescription=false"
            f"&offset={self._sql_seen}&length=100000"
        )
        self._sql_seen += len(got)
        return got
