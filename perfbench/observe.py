"""What the benchmark records besides op times: spans, process-tree peak
RSS, host stamps (steal, a fixed calibration loop) and Spark's own
per-job and per-stage counters."""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_PAGE = os.sysconf("SC_PAGE_SIZE")


class Tracer:
    """In-memory spans (name, start, end, parent, op); written once at the
    end.  Disabled, ``span`` costs one attribute test."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: int | None = None

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        self.spans.append({
            "name": name, "start": time.perf_counter(), "end": None,
            "parent": self._stack[-1] if self._stack else None, "op": self.op,
        })
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def self_times(self) -> dict[str, list[float]]:
        """name -> self time of each span: its duration minus the time its
        direct children cover (children run one after another)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = defaultdict(list)
        for i, s in enumerate(self.spans):
            out[s["name"]].append(s["end"] - s["start"] - child[i])
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for entry in os.scandir("/proc"):
        if not entry.name.isdigit():
            continue
        try:
            with open(f"/proc/{entry.name}/stat") as fh:
                stat = fh.read()
        except OSError:  # process ended while scanning
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids[ppid].append(int(entry.name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and all its descendants."""
    kids, total, todo = _children(), 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def wait_for_children(timeout: float) -> None:
    """Block until this process has no live descendants."""
    deadline = time.monotonic() + timeout
    while _children().get(os.getpid()) and time.monotonic() < deadline:
        try:
            os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            pass
        time.sleep(0.1)


class RssSampler:
    """Samples this process tree's RSS every 0.5 s in a thread; ``peak``
    is the largest sum seen between start and stop."""

    INTERVAL = 0.5

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.INTERVAL):
                return

    def start(self) -> RssSampler:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling (idempotent); returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak / 2**20


def cpu_stamp() -> tuple[int, int]:
    """(total, steal) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(a: tuple[int, int], b: tuple[int, int]) -> float:
    dt = b[0] - a[0]
    return 100.0 * (b[1] - a[1]) / dt if dt > 0 else 0.0


def calib_ms() -> float:
    """A fixed pure-Python loop; its time tracks host speed and never
    rescales a metric."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc * 31 + i) % 1_000_003
    return (time.perf_counter() - t0) * 1e3


def spark_counts(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, stages and tasks run under the given job groups, with the
    executor time, GC, shuffle and spill their stages recorded in Spark's
    status store."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = [j for g in groups for j in tracker.getJobIdsForGroup(g)]
    infos = [tracker.getJobInfo(j) for j in jobs]
    stages = sorted({s for info in infos if info for s in info.stageIds})
    out = {"jobs": len(jobs), "stages": len(stages), "tasks": 0, "run_s": 0.0,
           "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0}
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:  # skipped stage: never attempted
            continue
        out["tasks"] += sd.numTasks()
        out["run_s"] += sd.executorRunTime() / 1e3
        out["cpu_s"] += sd.executorCpuTime() / 1e9
        out["gc_s"] += sd.jvmGcTime() / 1e3
        out["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        out["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
    return out
