"""Measurements taken from outside the program: spans around calls into
its layers, Spark job/stage/task counts, JVM GC time, and process-tree
CPU and memory read from /proc."""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ spans
class Tracer:
    """Spans (name, start, end, parent, request id) kept in memory and
    written out when the run ends.  A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self._req = 0

    def request(self) -> int:
        self._req += 1
        return self._req

    @contextmanager
    def span(self, name: str, req: int = 0):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        rec = [sid, parent, name, req, time.perf_counter(), None]
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec[5] = time.perf_counter()

    def span_cost_s(self, n: int = 2000) -> float:
        """Measured cost of recording one span (enter + exit)."""
        saved, stack = self.spans, self._stack
        self.spans, self._stack = [], []
        t = time.perf_counter()
        for _ in range(n):
            with self.span("cost"):
                pass
        cost = (time.perf_counter() - t) / n
        self.spans, self._stack = saved, stack
        return cost

    def summary(self, top_level: set[str], tolerance: float = 0.10) -> dict:
        """Self time per layer (span minus the part its children cover)
        and, for every top-level call, how far the sum of its child
        layers is from its wall time; calls off by more than
        ``tolerance`` are flagged."""
        kids: dict[int, list] = {}
        for s in self.spans:
            kids.setdefault(s[1], []).append(s)
        self_time: dict[str, float] = {}
        calls: dict[str, int] = {}
        flagged = []
        coverage = []
        for s in self.spans:
            dur = s[5] - s[4]
            child = sum(c[5] - c[4] for c in kids.get(s[0], ()))
            self_time[s[2]] = self_time.get(s[2], 0.0) + dur - child
            calls[s[2]] = calls.get(s[2], 0) + 1
            if s[2] in top_level and kids.get(s[0]):
                ratio = child / dur if dur > 0 else 1.0
                coverage.append(ratio)
                if abs(1.0 - ratio) > tolerance:
                    flagged.append(
                        {"call": s[2], "req": s[3], "wall_s": round(dur, 6),
                         "layers_s": round(child, 6)}
                    )
        return {
            "self_time_s": {k: round(v, 6) for k, v in sorted(self_time.items())},
            "calls": calls,
            "top_level_calls": len(coverage),
            "flagged": flagged,
            "median_coverage": sorted(coverage)[len(coverage) // 2] if coverage else None,
        }

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [
                        {"id": s[0], "parent": s[1], "name": s[2], "req": s[3],
                         "start": s[4], "end": s[5]}
                        for s in self.spans
                    ],
                    **extra,
                },
                f,
            )


# ------------------------------------------------------------------ /proc
def _tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                st = f.read()
        except OSError:
            continue
        ppid = int(st[st.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def _cpu(pid: int) -> float:
    """CPU seconds of one process, including its waited-for children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            st = f.read()
    except OSError:
        return 0.0
    fields = st[st.rindex(")") + 2:].split()
    return sum(int(x) for x in fields[11:15]) / _CLK


def _rss(pid: int) -> int:
    """Resident set size in bytes (cheap: a counter in /proc/<pid>/status)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages the forked Python workers
    share count once across the tree, not once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def host_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host, from /proc/stat: the
    share of time a shared VM's CPUs were taken by its neighbours."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class ProcTree:
    """CPU time and memory of this process and every process it started
    (the JVM and its Python workers).  A sampler thread keeps the peak of
    the tree's summed proportional set size.  Reading smaps makes the
    kernel walk page tables, so the sampler reads the cheap RSS counters
    every ``interval_s`` and the PSS only when the summed RSS passes its
    last PSS reading's RSS by 5 %, and once more when it stops."""

    def __init__(self, interval_s: float = 0.25):
        self.root = os.getpid()
        self.interval = interval_s
        self.peak_mem = 0
        self._peak_rss = 0
        self.sampler_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def cpu_s(self) -> float:
        return sum(_cpu(p) for p in _tree_pids(self.root))

    def _pss_now(self, pids: list[int]) -> None:
        self.peak_mem = max(self.peak_mem, sum(_pss(p) for p in pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            t = time.thread_time()
            pids = _tree_pids(self.root)
            rss = sum(_rss(p) for p in pids)
            if rss > self._peak_rss * 1.05:
                self._peak_rss = rss
                self._pss_now(pids)
            self.sampler_cpu_s += time.thread_time() - t
        self._pss_now(_tree_pids(self.root))

    def start(self) -> None:
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ JVM
class SparkCounters:
    """Jobs, stages and tasks of one call, through a job group and the
    status tracker; JVM GC time from the GC MXBeans.  ``begin``/``end``
    bracket the call; ``count`` asks the tracker later, outside any timed
    region."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._n = 0
        self._jvm = self.sc._jvm

    def begin(self) -> str:
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, gid)
        return gid

    def end(self) -> None:
        self.sc.setJobGroup("perfbench-idle", "idle")

    def count(self, gid: str) -> dict:
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(gid)
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                st = tracker.getStageInfo(sid)
                if st is not None and st.numTasks:
                    stages += 1
                    tasks += st.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def gc_ms(self) -> float:
        mf = self._jvm.java.lang.management.ManagementFactory
        return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))
