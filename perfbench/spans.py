"""Spans, Spark job counters and process memory, measured from outside the
package.

A span is recorded around one call into a package function: name, start,
end, parent span and request id. Each span runs its Spark jobs under its own
job group, so the jobs, and through them the stages, belong to exactly one
span. Stage counters come from ``sc.statusTracker()`` and the application
status store, which both work with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager

STAGE_COUNTERS = (
    "executor_run_s",
    "executor_cpu_s",
    "input_bytes",
    "input_records",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "tasks",
)


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every span is a
    no-op, so the untraced runs pay nothing for it."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Yield the span's record; the caller may add ``counts`` to it."""
        if not self.enabled:
            yield {"counts": {}}
            return
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "request": request if request is not None else (parent or {}).get("request"),
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        group = f"perfbench-{rec['id']}"
        self.sc.setJobGroup(group, name)
        start_wall = time.time()
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"perfbench-{parent['id']}", parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
            rec["jobs"] = len(jobs)
            rec["first_job_s"] = _first_job_delay(self.sc, jobs, start_wall)
            rec["spark"] = stage_counters(self.sc, jobs)

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the part its child spans cover."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cursor = 0.0, s["start"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], cursor), min(c["end"], s["end"])
                if hi > lo:
                    covered += hi - lo
                    cursor = hi
            out[s["id"]] = s["end"] - s["start"] - covered
        return out


def _first_job_delay(sc, jobs: list[int], start_wall: float) -> float | None:
    """Seconds from the span's start to its first job's submission: the
    driver-side work before any job runs."""
    if not jobs:
        return None
    try:
        submitted = sc._jsc.sc().statusStore().job(jobs[0]).submissionTime().get().getTime()
    except Exception:  # noqa: BLE001 - job evicted from the store
        return None
    return max(0.0, submitted / 1000.0 - start_wall)


def stage_counters(sc, jobs: list[int]) -> dict:
    """Sum of the counters over every stage attempt the jobs ran, plus the
    largest task skew (slowest task's run time over the median)."""
    out = {k: 0 for k in STAGE_COUNTERS}
    out["max_task_skew"] = 1.0
    if not jobs:
        return out
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    q = gw.new_array(gw.jvm.double, 2)
    q[0], q[1] = 0.5, 1.0
    seen = set()
    for jid in jobs:
        try:
            ids = store.job(jid).stageIds()
        except Exception:  # noqa: BLE001 - job evicted from the store
            continue
        for i in range(ids.size()):
            sid = ids.apply(i)
            if sid in seen:
                continue
            seen.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage, never attempted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["executor_run_s"] += st.executorRunTime() / 1000.0
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["input_bytes"] += st.inputBytes()
            out["input_records"] += st.inputRecords()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["tasks"] += st.numTasks()
            try:
                dist = store.taskSummary(sid, st.attemptId(), q)
                if dist.isDefined():
                    rt = dist.get().executorRunTime()
                    med, top = rt.apply(0), rt.apply(1)
                    if med > 0:
                        out["max_task_skew"] = max(out["max_task_skew"], top / med)
            except Exception:  # noqa: BLE001 - task data evicted
                pass
    return out


class RssSampler:
    """Peak resident memory of a process tree (the driver JVM and the
    Python workers it forks), sampled from /proc on a background thread."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self):
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self):
        children: dict[int, list[int]] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(entry))
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            total += _rss_kb(pid)
        self.peak_kb = max(self.peak_kb, total)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
