"""Spans around calls into the engine, Spark job counts per span, and the
process-level samples (memory, CPU time and shares) a run reports.

Every span records its wall time. With tracing on, a span also gets its own
Spark job group and, when it closes, the jobs, stages and tasks it launched,
read from ``SparkContext.statusTracker()``. Calls run one at a time from a
single client, so the jobs of a span are exactly the job ids submitted while
it was open; counting by id range also catches jobs the engine launches
from its own thread pools, which do not inherit the job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JError


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.self_s = 0.0  # wall spent in tracing bookkeeping
        self._stack: list[dict] = []
        self._next_job = 0
        if enabled:
            self._tracker = self.sc.statusTracker()
            self._next_job = self._scan_jobs(0)[0]

    @contextmanager
    def span(self, name: str, **attrs):
        """Yields the span record; ``end``/``s`` are set when it closes."""
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1]["id"] if self._stack else None,
            "name": name,
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.enabled:
            first_job = self._flush_jobs()
            self.sc.setJobGroup(f"perfbench-{rec['id']}", name)
        start = time.perf_counter()
        self.self_s += start - t0
        rec["start"] = start
        try:
            yield rec
        finally:
            end = time.perf_counter()
            rec["end"] = end
            rec["s"] = end - start
            self._stack.pop()
            if self.enabled:
                parent = self._stack[-1] if self._stack else None
                if parent is not None:
                    self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                rec.update(self._counts(first_job))
            self.self_s += time.perf_counter() - end

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished span for work timed before the tracer existed."""
        self.spans.append(
            {"id": len(self.spans), "parent": None, "name": name, "start": start, "end": end, "s": end - start}
        )

    def _flush_jobs(self) -> int:
        """Settle the listener bus and return the next unseen job id."""
        self._wait_listener()
        self._next_job = self._scan_jobs(self._next_job)[0]
        return self._next_job

    def _wait_listener(self) -> None:
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        except Py4JError:  # a Spark build without the hook: poll instead
            time.sleep(0.05)
            while self._tracker.getActiveJobsIds():
                time.sleep(0.02)

    def _scan_jobs(self, first: int) -> tuple[int, list]:
        """(next unseen id, job infos for ids ``first``..)."""
        infos = []
        j = first
        while True:
            info = self._tracker.getJobInfo(j)
            if info is None:
                return j, infos
            infos.append(info)
            j += 1

    def _counts(self, first_job: int) -> dict:
        self._wait_listener()
        nxt, infos = self._scan_jobs(first_job)
        self._next_job = nxt
        stages = tasks = 0
        for info in infos:
            for sid in info.stageIds:
                st = self._tracker.getStageInfo(sid)
                if st is not None and st.numCompletedTasks:
                    stages += 1
                    tasks += st.numCompletedTasks
        return {"jobs": len(infos), "stages": stages, "tasks": tasks}

    def write(self, path: str, meta: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": self.spans}, f, indent=1)


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
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemSampler:
    """Peak summed PSS of this process's descendants (the Spark JVM and
    the Python workers it forks), sampled on a background thread. PSS
    splits each shared page among the processes mapping it, so forked
    workers are not counted once per fork as their RSS would be."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.samples = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            kb = sum(_pss_kb(p) for p in descendants(me))
            self.peak_kb = max(self.peak_kb, kb)
            self.samples += 1
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def cpu_seconds() -> float:
    """User+system CPU time of this process and its descendants (the
    Spark JVM and Python workers), including their reaped children. Steal
    and waiting for a core do not count, so this moves less than wall time
    when other tenants load the machine."""
    me = os.getpid()
    ticks = 0
    for pid in [me] + descendants(me):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class CpuShares:
    """System and steal shares of all CPU time during a section, from
    /proc/stat. Recorded as run metadata: they explain a slow run, they are
    not a property of the code."""

    def __enter__(self):
        self._t0 = _cpu_ticks()
        return self

    def __exit__(self, *exc):
        d = [b - a for a, b in zip(self._t0, _cpu_ticks())]
        user, nice, system = d[0], d[1], d[2]
        steal = d[7] if len(d) > 7 else 0
        self.sys_frac = system / max(1, user + nice + system)
        self.steal_frac = steal / max(1, sum(d))
        return False


def table_rows(table) -> int:
    """Live rows of a catalog table, from its files' parquet footers."""
    import pyarrow.parquet as pq

    snap = table.current_snapshot()
    return sum(pq.read_metadata(f).num_rows for f in snap.files) if snap else 0


def catalog_metrics(tables: dict) -> dict[str, float]:
    """Live files and bytes of each catalog table's current snapshot."""
    out = {}
    for name, table in tables.items():
        snap = table.current_snapshot()
        files = list(snap.files) if snap else []
        out[f"catalog.files.{name}"] = len(files)
        out[f"catalog.bytes.{name}"] = sum(os.path.getsize(f) for f in files)
    return out
