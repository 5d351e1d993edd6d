"""What the benchmark measures from its own side of each call into the
engine: spans, scheduler counts, and the CPU time of the process tree.

A span has a name, start, end, parent span and operation id; spans stay
in memory and are written to a side file when the run ends. Self time is
a span's duration minus the part of it its children cover. The tracer
is disabled on untraced runs, where ``span`` records nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        self.spans.append({"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, "op": self.op})
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield
        finally:
            self.spans[sid].update(start=start, end=time.perf_counter())
            self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name."""
        children: dict[int, list[dict]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(children[s["id"]], key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "self_s": self.self_times()}, f)


def scheduler_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks run under one job group, read from the
    public status tracker right after the operation (before the status
    store's retention limit can drop them)."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    tasks = 0
    for s in stages:
        info = st.getStageInfo(s)
        if info is not None:
            tasks += info.numTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks}


def cpu_steal_s() -> float:
    """Machine-wide CPU steal so far (``/proc/stat`` field 8), seconds."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return 0.0


def process_tree() -> dict[int, float]:
    """This process and every process below it (the JVM and its Python
    workers), each with the CPU seconds it has used since it started:
    user plus system, including its reaped children."""
    parents, cpu = {}, {}
    tick = os.sysconf("SC_CLK_TCK")
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        parents[int(pid)] = int(fields[1])
        cpu[int(pid)] = sum(int(x) for x in fields[11:15]) / tick
    mine = {os.getpid()}
    for pid in sorted(parents):
        p, chain = pid, []
        while p in parents and p not in mine and p > 1:
            chain.append(p)
            p = parents[p]
        if p in mine:
            mine.update(chain)
    return {p: cpu.get(p, 0.0) for p in mine}


def tree_cpu_s() -> float:
    """CPU seconds used so far by the process tree. Time the hypervisor
    steals from the machine is not in it."""
    return sum(process_tree().values())


@contextlib.contextmanager
def metered(into: dict):
    """Add the wall and process-tree CPU seconds of the block to
    ``into["wall"]`` and ``into["cpu_s"]``."""
    c, t = tree_cpu_s(), time.perf_counter()
    try:
        yield
    finally:
        into["wall"] = into.get("wall", 0.0) + time.perf_counter() - t
        into["cpu_s"] = into.get("cpu_s", 0.0) + tree_cpu_s() - c
