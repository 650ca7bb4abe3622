"""Tracing for the ``--trace 1`` runs: spans around the benchmark's calls
into the engine, stage counters from the local Spark UI REST API, and the
micro-batch progress reports of a ``StreamingQueryListener``.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlsplit

from pyspark.sql.streaming import StreamingQueryListener


class Tracer:
    """Spans (name, start, end, parent) on one clock. Disabled, ``span`` is
    a no-op, so the untraced run pays nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def total_ms(self, name: str) -> float:
        """Summed duration of all spans called ``name``, in ms."""
        return 1000.0 * sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def write(self, path: str) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = [{**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans]
        with open(path, "w") as f:
            json.dump(out, f, indent=1)


class ProgressLog(StreamingQueryListener):
    """Keeps every micro-batch progress report as parsed JSON. The benchmark
    keeps its own listener rather than the engine's
    ``monitoring.ProgressRecorder``, so a change to the engine cannot change
    how batches are timed."""

    def __init__(self):
        self.events: list[dict] = []
        self._lock = threading.Lock()

    def onQueryStarted(self, event):  # noqa: N802 (Spark API casing)
        pass

    def onQueryProgress(self, event):  # noqa: N802
        p = json.loads(event.progress.json)
        with self._lock:
            self.events.append(p)

    def onQueryIdle(self, event):  # noqa: N802
        pass

    def onQueryTerminated(self, event):  # noqa: N802
        pass

    def for_run(self, run_id: str, last_batch: int, timeout_s: float = 30.0) -> list[dict]:
        """The reports of one query run, waiting until batch ``last_batch``
        has been delivered (listener events arrive asynchronously)."""
        deadline = time.monotonic() + timeout_s
        while True:
            with self._lock:
                got = [p for p in self.events if p["runId"] == run_id]
            if any(p["batchId"] >= last_batch for p in got) or time.monotonic() > deadline:
                return sorted(got, key=lambda p: p["batchId"])
            time.sleep(0.05)


class StageCounters:
    """Job, stage and executor totals from the Spark UI REST API, read
    before and after a phase; ``delta`` gives the phase's own work."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = urlsplit(sc.uiWebUrl).port
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"
        self.sc = sc

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.load(r)

    def snapshot(self) -> dict:
        tracker = self.sc.statusTracker()
        jobs = self._get("/jobs")
        stages = self._get("/stages?status=complete")
        execs = self._get("/executors")
        return {
            "job_ids": {j["jobId"] for j in jobs},
            "stages": {(s["stageId"], s["attemptId"]): s for s in stages},
            "gc_ms": sum(e.get("totalGCTime", 0) for e in execs),
            "active_jobs": len(tracker.getActiveJobsIds()),
        }

    def settle(self, timeout_s: float = 10.0) -> dict:
        """Snapshot once the listener bus has caught up (no active jobs and
        two equal job counts in a row)."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            snap = self.snapshot()
            key = (len(snap["job_ids"]), len(snap["stages"]))
            if (snap["active_jobs"] == 0 and key == prev) or time.monotonic() > deadline:
                return snap
            prev = key
            time.sleep(0.2)

    @staticmethod
    def delta(before: dict, after: dict, wall_s: float, cores: int) -> dict[str, float]:
        new = [s for k, s in after["stages"].items() if k not in before["stages"]]
        run_ms = sum(s.get("executorRunTime", 0) for s in new)
        return {
            "exec.jobs": len(after["job_ids"] - before["job_ids"]),
            "exec.stages": len(new),
            "exec.tasks": sum(s.get("numCompleteTasks", 0) for s in new),
            "exec.shuffle_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
            "exec.input_bytes": sum(s.get("inputBytes", 0) for s in new),
            "exec.spill_bytes": sum(
                s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in new
            ),
            "exec.gc_ms": after["gc_ms"] - before["gc_ms"],
            "exec.cpu_efficiency": run_ms / (1000.0 * wall_s * cores) if wall_s > 0 else 0.0,
        }
