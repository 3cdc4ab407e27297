"""Spans, Spark runtime counters and process memory for the benchmark.

Spans are recorded only in traced runs, from the benchmark's own files,
around calls into the program's public functions. They stay in memory and
are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """In-memory span recorder. Each span is ``{id, name, start, end,
    parent, attrs}`` with times in seconds on the monotonic clock."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.self_s = 0.0  # time spent inside the tracer's own bookkeeping

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        t0 = time.monotonic()
        rec = {"id": len(self.spans), "name": name, "start": None, "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.monotonic()
        self.self_s += rec["start"] - t0
        try:
            yield
        finally:
            t1 = time.monotonic()
            rec["end"] = t1
            self._stack.pop()
            self.self_s += time.monotonic() - t1

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f)


def _iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Job, stage, task, executor-time, shuffle and spill counters read from
    the SparkContext's status store (the store the status tracker reads),
    so they work with the web UI disabled. The store lists jobs and stages
    newest first, so each snapshot reads only those added since the last."""

    def __init__(self, spark, cores: int):
        self._sc = spark.sparkContext._jsc.sc()
        self.cores = cores
        self.spent_s = 0.0  # time spent taking snapshots
        self._last_job = self._last_stage = -1
        self._totals = {"jobs": 0, "stages": 0, "tasks": 0, "run_ms": 0,
                        "shuffle_w": 0, "spill": 0}

    def snapshot(self) -> dict:
        t0 = time.monotonic()
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        tot = self._totals
        top = self._last_job
        for j in _iter(store.jobsList(None)):
            if j.jobId() <= self._last_job:
                break
            top = max(top, j.jobId())
            tot["jobs"] += 1
            tot["stages"] += j.numCompletedStages()
            tot["tasks"] += j.numCompletedTasks()
        self._last_job = top
        defaults = [getattr(store, f"stageList$default${k}")() for k in (2, 3, 4, 5)]
        top = self._last_stage
        for s in _iter(store.stageList(None, *defaults)):
            if s.stageId() <= self._last_stage:
                break
            top = max(top, s.stageId())
            tot["run_ms"] += s.executorRunTime()
            tot["shuffle_w"] += s.shuffleWriteBytes()
            tot["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        self._last_stage = top
        now = time.monotonic()
        self.spent_s += now - t0
        return dict(tot, t=now)

    def delta(self, a: dict, b: dict) -> dict:
        wall = b["t"] - a["t"]
        return {
            "jobs": b["jobs"] - a["jobs"],
            "stages": b["stages"] - a["stages"],
            "tasks": b["tasks"] - a["tasks"],
            "busy_frac": (b["run_ms"] - a["run_ms"]) / 1000.0 / (wall * self.cores),
            "shuffle_write_mb": (b["shuffle_w"] - a["shuffle_w"]) / 1e6,
            "spill_mb": (b["spill"] - a["spill"]) / 1e6,
        }


def peak_rss_mb(pids) -> float:
    """Sum of the peak resident set (``VmHWM``) of ``pids``, read from
    ``/proc``."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
                    break
    return total_kb / 1024.0
