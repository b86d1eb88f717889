"""Tracing helpers used from the benchmark's own files.

* ``Tracer`` keeps spans (name, start, end, parent, op id) in memory and
  writes them out once, at the end of a traced run.
* ``JobMetrics`` reads per-stage task metrics of the Spark jobs of one
  job group from the Spark application's monitoring REST API on
  localhost.
* ``peak_rss_mb`` sums the peak resident set of a process and all its
  descendants (Python client, JVM, Python workers) from ``/proc``.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Time the block. Disabled tracers record nothing but still
        yield a dict, so callers can read ``["dur"]`` either way."""
        rec = {"name": name, "op": op, **attrs}
        if self.enabled:
            rec["id"] = len(self.spans)
            rec["parent"] = self._stack[-1] if self._stack else None
            self.spans.append(rec)
            self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["dur"] = rec["end"] - rec["start"]
            if self.enabled:
                self._stack.pop()

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.spans, f, indent=1, default=str)


_STAGE_SUMS = {
    "tasks": "numTasks",
    "failed_tasks": "numFailedTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
}


class JobMetrics:
    """Task metrics of the jobs tagged with one job group.

    The REST store is filled by an asynchronous listener, so ``collect``
    waits until every job of the group has ended and every stage it ran
    reports a final status."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=10) as r:
            return json.load(r)

    @contextmanager
    def group(self, name: str):
        self._sc.setJobGroup(name, name)
        try:
            yield
        finally:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)

    def collect(self, groups: set[str], timeout: float = 10.0) -> dict:
        deadline = time.monotonic() + timeout
        while True:
            jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
            stage_ids = {s for j in jobs for s in j["stageIds"]}
            stages = [
                s for s in self._get("/stages?details=false") if s["stageId"] in stage_ids
            ]
            done = all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs) and all(
                s["status"] in ("COMPLETE", "FAILED", "SKIPPED") for s in stages
            )
            if done or time.monotonic() > deadline:
                break
            time.sleep(0.05)
        ran = [s for s in stages if s["status"] != "SKIPPED"]
        out = {"jobs": len(jobs)}
        for key, field in _STAGE_SUMS.items():
            out[key] = sum(s.get(field, 0) for s in ran)
        out["spill_bytes"] = out.pop("memory_spill_bytes") + out.pop("disk_spill_bytes")
        return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", encoding="ascii", errors="replace") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def peak_rss_mb(root_pid: int) -> float:
    """Sum of ``VmHWM`` (peak resident set) over ``root_pid`` and every
    live descendant."""
    kids = _children()
    todo, total_kb = [root_pid], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status", encoding="ascii", errors="replace") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
