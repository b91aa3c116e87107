"""Measurement plumbing: in-memory spans, Spark job counts per call, and the
CPU time and peak RSS of the process tree.

Spans are recorded around the benchmark's own calls into the engine, never
inside it. A disabled Tracer records nothing; job counting and RSS sampling
run in every mode so traced and untraced runs launch the same Spark work.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

RSS_PERIOD_S = 0.25
COUNT_TIMEOUT_S = 10.0


class Tracer:
    """Spans (name, start, end, parent, call id) kept in memory and written
    out once at the end of the run."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str, call: int | None = None):
        if not self.enabled:
            yield
            return
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "call": call if call is not None else (parent["call"] if parent else None),
        }
        self.spans.append(rec)
        self._open.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def uncovered_frac(self, name: str) -> list[float]:
        """Per span called ``name``: the share of its wall time that its
        direct child spans leave uncovered."""
        kids: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]] = kids.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = []
        for s in self.spans:
            if s["name"] == name:
                wall = s["end"] - s["start"]
                out.append(max(0.0, wall - kids.get(s["id"], 0.0)) / wall)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class JobCounter:
    """Spark jobs, stages and tasks launched by one call, tagged with
    ``setJobGroup`` and read through ``statusTracker`` right after the call,
    before the status store can evict the group."""

    def __init__(self, sc):
        self.sc = sc
        self.n = 0

    @contextmanager
    def call(self, label: str):
        gid = f"perfbench-{self.n}-{label}"
        self.n += 1
        self.sc.setJobGroup(gid, label)
        try:
            yield gid
        finally:
            self.sc.setJobGroup("perfbench-uncounted", "work between counted calls")

    def counts(self, gid: str) -> tuple[int, int, int]:
        """(jobs, stages run, tasks run) of one finished call. The listener
        bus fills the status store asynchronously: drain it first, so every
        event the call posted has reached the store."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(int(COUNT_TIMEOUT_S * 1000))
        st = self.sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(gid)]
        stages: dict[int, int] = {}
        for job in jobs:
            if job is None or job.status == "RUNNING":
                raise RuntimeError(f"{gid}: job still running or evicted after the call")
            for sid in job.stageIds:
                info = st.getStageInfo(sid)
                if info is not None and info.numCompletedTasks + info.numFailedTasks:
                    stages[sid] = info.numCompletedTasks + info.numFailedTasks
        return len(jobs), len(stages), sum(stages.values())


def descendants(root: int) -> list[int]:
    """Pids of every live descendant of ``root``, from /proc."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds (user + system) spent so far by this process and every
    live descendant (JVM, Python workers), each with the exited children it
    has reaped, so a worker's time still counts after it ends."""
    ticks = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _tree_rss_kb(root: int) -> int:
    """Summed VmRSS of ``root`` and all its descendants."""
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process tree (driver, JVM, Python workers), sampled
    from /proc by a background thread."""

    def __init__(self):
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while True:
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(pid))
            if self._stop.wait(RSS_PERIOD_S):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
