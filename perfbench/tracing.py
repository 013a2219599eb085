"""Spans, Spark job statistics and process-tree memory, all observed
from outside the engine.

- ``Tracer`` keeps spans in memory (name, start, end, parent, operation
  id) and writes them out when the run ends. A span's layer is the part
  of its name before the first dot; a layer's self time is its spans'
  durations minus the parts covered by their child spans.
- ``SparkStats`` tags each call into a layer with a Spark job group and
  reads jobs, stages, executor run time and shuffle bytes back from
  ``statusTracker()`` and the status store, which answer with the UI
  disabled.
- ``RssSampler`` samples the resident set of this process and every
  descendant (JVM, Python workers) and keeps the peak of the sum.
"""

from __future__ import annotations

import itertools
import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, op: int | None = None, parent: int | None = None):
        """Record ``name`` around the block. ``parent`` and ``op`` default
        to the innermost open span of this thread; pass them explicitly
        for work another thread does on behalf of an operation."""
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        sid = next(self._ids)
        if stack:
            parent = stack[-1][0] if parent is None else parent
            op = stack[-1][1] if op is None else op
        stack.append((sid, op))
        start = time.perf_counter()
        try:
            yield sid
        finally:
            end = time.perf_counter()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"id": sid, "name": name, "start": start, "end": end,
                     "parent": parent, "op": op}
                )

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["start"]):
                f.write(json.dumps(s) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[str, float]:
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out: dict[str, float] = {}
    for s in spans:
        kids = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in children.get(s["id"], [])
            if b > s["start"] and a < s["end"]
        ]
        own = (s["end"] - s["start"]) - _covered(kids)
        layer = s["name"].split(".", 1)[0]
        out[layer] = out.get(layer, 0.0) + own
    return out


class SparkStats:
    """Job-group tagging and status-store readback for one SparkContext."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = itertools.count(1)

    @contextmanager
    def group(self, label: str):
        """Run the block under a fresh job group; yields the group id."""
        gid = f"{label}#{next(self._n)}"
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def collect(self, gid: str) -> dict[str, float]:
        """jobs, stages run, executor run time (s) and shuffle bytes
        written by every job of the group."""
        from py4j.protocol import Py4JJavaError

        # the status store is filled from the listener bus: let it catch up
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = run_ms = shuffle = 0
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else []:
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # a stage that never ran has no attempt
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                stages += 1
                run_ms += st.executorRunTime()
                shuffle += st.shuffleWriteBytes()
        return {
            "jobs": len(jobs),
            "stages": stages,
            "executor_run_s": run_ms / 1000.0,
            "shuffle_write_bytes": shuffle,
        }

    def persisted_rdds(self) -> int:
        return self._jsc.getPersistentRDDs().size()


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


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_cpu_s(pid: int | None = None) -> float:
    """CPU seconds (user + system, with reaped children) used so far by
    a process and its live descendants."""
    pid = os.getpid() if pid is None else pid
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """The machine-wide ``cpu`` line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to others between two
    ``cpu_ticks()`` readings."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / max(sum(delta[:8]), 1)


class RssSampler:
    """Peak resident set of this process tree, sampled every ``period`` s."""

    def __init__(self, period: float = 0.25) -> None:
        self.period = period
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in [me, *descendants(me)])
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0
