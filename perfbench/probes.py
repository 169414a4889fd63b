"""Measurement probes: peak RSS of the process tree, in-memory spans, a
streaming progress listener, and Spark's own counters (StatusTracker by job
group, REST stage and task metrics). Everything here observes the engine
from outside; nothing changes how it runs."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


class ProcessTree:
    """This process and all its descendants (driver JVM, Python workers),
    read from ``/proc``. A thread samples their summed RSS every ``period``
    seconds to find the peak; ``cpu_s`` sums their CPU time."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._tick = os.sysconf("SC_CLK_TCK")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _pids(self) -> list[int]:
        children = defaultdict(list)
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children[ppid].append(int(pid))
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(children.get(pid, ()))
        return out

    def rss(self) -> int:
        total = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def cpu_s(self) -> float:
        """User plus system CPU seconds of the tree, including its reaped
        children. Time the host steals from this machine is not in it."""
        ticks = 0
        for pid in self._pids():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                ticks += sum(int(x) for x in fields[11:15])
            except (OSError, IndexError, ValueError):
                pass
        return ticks / self._tick

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self.rss())
            self._stop.wait(self.period)

    def start(self) -> "ProcessTree":
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stop sampling; return the peak RSS in MB."""
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, self.rss())
        return self.peak / 2 ** 20


class Spans:
    """Nested wall-clock spans kept in memory. ``self_s`` of a span is its
    duration minus that of its direct children."""

    def __init__(self) -> None:
        self.done: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        s = {"name": name, "t0": time.perf_counter(), "child_s": 0.0,
             "path": tuple(x["name"] for x in self._stack), **attrs}
        self._stack.append(s)
        try:
            yield s
        finally:
            self._stack.pop()
            s["dur_s"] = time.perf_counter() - s.pop("t0")
            s["self_s"] = s["dur_s"] - s.pop("child_s")
            if self._stack:
                self._stack[-1]["child_s"] += s["dur_s"]
            self.done.append(s)

    def summary(self) -> dict[str, dict]:
        """Per span name: count, total and self seconds."""
        out: dict[str, dict] = {}
        for s in self.done:
            e = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            e["count"] += 1
            e["total_s"] += s["dur_s"]
            e["self_s"] += s["self_s"]
        return out


class StreamProgress(StreamingQueryListener):
    """Keeps every progress event and each query's start timestamp."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.progress: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event) -> None:
        with self._lock:
            self.started[str(event.runId)] = time.time()

    def onQueryProgress(self, event) -> None:
        p = json.loads(event.progress.json)
        with self._lock:
            self.progress.append(p)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def new_run(self, known: set[str], timeout: float = 10.0) -> str:
        """The run id of the query started since ``known`` was taken."""
        deadline = time.time() + timeout
        while time.time() < deadline:
            with self._lock:
                fresh = set(self.started) - known
            if fresh:
                return fresh.pop()
            time.sleep(0.02)
        raise TimeoutError("no streaming query start event")

    def for_run(self, run_id: str) -> list[dict]:
        with self._lock:
            return sorted((p for p in self.progress if p["runId"] == run_id),
                          key=lambda p: p["batchId"])

    def wait_for(self, run_id: str, n_batches: int, timeout: float = 10.0) -> list[dict]:
        """Progress events arrive asynchronously; wait until ``run_id`` has
        reported at least ``n_batches`` batches."""
        deadline = time.time() + timeout
        while len(self.for_run(run_id)) < n_batches and time.time() < deadline:
            time.sleep(0.02)
        return self.for_run(run_id)


# REST stage fields summed per op, with the per-layer metric they feed
STAGE_FIELDS = {
    "executorRunTime": "exec.executor_run_s",     # ms
    "executorCpuTime": "exec.executor_cpu_s",     # ns
    "jvmGcTime": "exec.gc_s",                     # ms
    "shuffleWriteBytes": "shuffle.write_bytes",
    "shuffleReadBytes": "shuffle.read_bytes",
    "memoryBytesSpilled": "exec.spill_bytes",
    "diskBytesSpilled": "exec.spill_bytes",
    "inputBytes": "scan.input_bytes",
    "inputRecords": "scan.input_rows",
    "outputBytes": "sinks.output_bytes",
    "outputRecords": "sinks.output_rows",
}
_SCALE = {"exec.executor_run_s": 1e-3, "exec.executor_cpu_s": 1e-9, "exec.gc_s": 1e-3}


class SparkCounters:
    """Per job group: jobs, stages and tasks from ``StatusTracker``, and the
    stage/task metrics of the REST API (the UI must be on)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def group(self, group: str, stages: dict) -> dict[str, float]:
        """Counters of every job in ``group``; ``stages`` maps a stage id to
        its REST record (``stage_table``)."""
        st = self.sc.statusTracker()
        jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(group)]
        stage_ids = sorted({s for j in jobs if j for s in j.stageIds})
        out = defaultdict(float)
        out["exec.jobs"] = len(jobs)
        slowest = None
        for sid in stage_ids:
            info = st.getStageInfo(sid)
            rest = stages.get(sid)
            if info is None or rest is None:
                continue  # skipped stage (reused shuffle output)
            out["exec.stages"] += 1
            out["exec.tasks"] += info.numTasks
            out["exec.failed_tasks"] += info.numFailedTasks
            for field, metric in STAGE_FIELDS.items():
                out[metric] += rest.get(field, 0) * _SCALE.get(metric, 1)
            summary = rest.get("_summary")
            if summary:
                out["exec.scheduler_delay_s"] += summary["schedulerDelay"][0] * info.numTasks / 1e3
                if slowest is None or rest["executorRunTime"] > slowest["executorRunTime"]:
                    slowest = rest
        if slowest is not None:
            q50, q100 = slowest["_summary"]["executorRunTime"]
            out["exec.task_skew"] = q100 / q50 if q50 > 0 else 1.0
        return dict(out)

    def stage_table(self) -> dict[int, dict]:
        """Every completed stage's REST record (latest attempt), with its
        task-time quantiles (median, max) under ``_summary``."""
        out = {}
        for s in self._get("/stages?status=complete"):
            if s["stageId"] in out and out[s["stageId"]]["attemptId"] > s["attemptId"]:
                continue
            out[s["stageId"]] = s
        for sid, s in out.items():
            try:
                q = self._get(f"/stages/{sid}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
                s["_summary"] = {k: q[k] for k in ("schedulerDelay", "executorRunTime")}
            except Exception:  # noqa: BLE001 - a stage evicted from the UI store
                pass
        return out
