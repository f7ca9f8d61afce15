"""Benchmark-side observation: spans, per-call Spark counts and the
peak resident memory of the benchmark's process tree.

Spans are recorded by the benchmark around each call it makes into a
layer of the program; they are kept in memory and written out when the
run ends. Spark counts come from a job group per call, read through
``SparkStatusTracker`` once the listener bus has drained, so they are
exact and repeat from run to run.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager


class Tracer:
    """In-memory spans ``(name, start, end, parent, run_id)``.

    A disabled tracer records nothing and costs one attribute check per
    call site."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s, sort_keys=True) + "\n")

    def self_times(self, under: str | None = None) -> dict[str, float]:
        """Seconds per span name, minus the time its child spans cover
        (children are sequential, so their durations simply add).
        ``under``: only spans named so and their descendants."""
        child: dict[int, float] = {}
        inside: set[int] = set()
        for s in self.spans:  # a parent is recorded before its children
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
            if under is None or s["name"] == under or s["parent"] in inside:
                inside.add(s["id"])
        out: dict[str, float] = {}
        for s in self.spans:
            if s["id"] in inside:
                own = s["end"] - s["start"] - child.get(s["id"], 0.0)
                out[s["name"]] = out.get(s["name"], 0.0) + own
        return out


class SparkCounts:
    """Jobs, stages, tasks and failed tasks of the calls made under one
    job group."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0
        self.seconds = 0.0  # spent in begin/end: the counting's own cost

    def begin(self, label: str) -> str:
        t0 = time.perf_counter()
        self._n += 1
        group = f"{label}#{self._n}"
        self.sc.setJobGroup(group, label)
        self.seconds += time.perf_counter() - t0
        return group

    def end(self, group: str) -> dict[str, int]:
        t0 = time.perf_counter()
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = failed = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else ():
                si = st.getStageInfo(sid)
                # a stage whose shuffle output was reused never runs
                if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
                    continue
                stages += 1
                tasks += si.numCompletedTasks
                failed += si.numFailedTasks
        self.sc.setJobGroup("bench-idle", "bench-idle")
        self.seconds += time.perf_counter() - t0
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "tasks_failed": failed}


class HeapPeak:
    """Peak JVM heap in use since construction: the sum of the heap
    memory pools' peak usage, read through the JVM's management beans.
    Pools peak at different moments, so this bounds the true peak from
    above. Unlike resident size it excludes heap the JVM reserved but
    never filled, though the young pools' peaks still follow the sizes
    the collector chose for them."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mtype = jvm.java.lang.management.MemoryType.HEAP
        self.pools = [
            p for p in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans() if p.getType().equals(mtype)
        ]
        for p in self.pools:
            p.resetPeakUsage()

    def peak(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self.pools)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ")"
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def rss_by_command(pids: list[int]) -> dict[str, int]:
    """Resident bytes of ``pids``, summed by command name."""
    page = os.sysconf("SC_PAGE_SIZE")
    out: dict[str, int] = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler:
    """Peak resident bytes of this process and all its descendants (the
    JVM and its Python workers), sampled from ``/proc`` in a thread.

    The sampler holds the interpreter lock while it reads, so it reads
    few files: the process tree is walked once a second and only the
    tree's own ``statm`` files are read at each sample."""

    def __init__(self, interval: float = 0.25, tree_every: int = 4):
        self.interval = interval
        self.tree_every = tree_every
        self.peak = 0
        self.peak_by_command: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        n = 0
        while True:
            if n % self.tree_every == 0:
                pids = process_tree(root)
            n += 1
            by_command = rss_by_command(pids)
            total = sum(by_command.values())
            if total > self.peak:
                self.peak, self.peak_by_command = total, by_command
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
