"""Spans, counters and Spark's monitoring surfaces for the traced run.

Spans are recorded from the benchmark's own files only, around calls into
each layer's public functions; nothing inside the engine package is
instrumented. A span carries a name, start, end, its parent span and the
operation id of the request it belongs to; spans stay in memory and are
written once, when the run ends.

Spark-side numbers come from two public surfaces: the monitoring REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``, served by the UI the
session factory enables under ``SPARK_GRAFT_UI=true``) and the streaming
queries' ``recentProgress``. Operations are tagged with ``setJobGroup`` so
each Spark job lands under the span of the operation that ran it.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from typing import Any


class Tracer:
    """In-memory span recorder. With ``enabled=False`` every method is a
    no-op apart from the clock reads the caller needs anyway, so the
    untraced run executes the same code path. Safe to use from the
    streaming engine's callback threads: each thread keeps its own stack
    of open spans."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict[str, Any]] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str | None = None):
        if not self.enabled:
            yield
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        rec = {"name": name, "parent": parent, "op": op, "start": time.time(), "end": None}
        if op is None and parent is not None:
            rec["op"] = self.spans[parent]["op"]
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.time()
            stack.pop()

    def total(self, name: str) -> float:
        """Summed duration of every span called ``name``."""
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def add_spark_jobs(self, jobs: list[dict], group_to_span: dict[str, int]) -> None:
        """Attach each REST job as a child span of the operation whose job
        group it ran under."""
        for job in jobs:
            parent = group_to_span.get(job.get("jobGroup") or "")
            start = _rest_time(job.get("submissionTime"))
            end = _rest_time(job.get("completionTime"))
            if start is None or end is None:
                continue
            with self._lock:
                self.spans.append({
                    "id": len(self.spans), "name": "spark.job", "parent": parent,
                    "op": self.spans[parent]["op"] if parent is not None else None,
                    "start": start, "end": end, "job_id": job.get("jobId"),
                    "stages": job.get("stageIds", []),
                })

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _rest_time(value: str | None) -> float | None:
    """Parse the REST API's ``2026-01-01T00:00:00.123GMT`` timestamps."""
    if not value:
        return None
    return datetime.strptime(value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _get(url: str) -> Any:
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


#: job group of Spark jobs the traced run itself adds (counting what a tier
#: kept); they are left out of the ``operators`` and ``sources`` sums
COUNT_GROUP = "perfbench-count"


def rest_jobs_and_stages(spark, since: float) -> tuple[list[dict], list[dict]]:
    """Jobs and completed stages submitted at or after ``since`` (epoch
    seconds), from the local UI's monitoring REST API, without the jobs of
    ``COUNT_GROUP`` and the stages they ran."""
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1]
    app = spark.sparkContext.applicationId
    base = f"http://localhost:{port}/api/v1/applications/{app}"
    jobs = [j for j in _get(f"{base}/jobs")
            if (_rest_time(j.get("submissionTime")) or 0) >= since]
    stages = [s for s in _get(f"{base}/stages?status=complete")
              if (_rest_time(s.get("submissionTime")) or 0) >= since]
    return without_group(jobs, stages, COUNT_GROUP)


def without_group(jobs: list[dict], stages: list[dict], group: str) -> tuple[list[dict], list[dict]]:
    """Drop the jobs of job group ``group`` and the stages they ran."""
    dropped = [j for j in jobs if j.get("jobGroup") == group]
    return ([j for j in jobs if j.get("jobGroup") != group],
            [s for s in stages if not any(_ran_in(s, j) for j in dropped)])


def _ran_in(stage: dict, job: dict) -> bool:
    """Whether ``job`` ran ``stage``: it lists the stage and was running
    when the stage was submitted (a later job that reuses the stage's
    shuffle output lists it too, as skipped)."""
    t = _rest_time(stage.get("submissionTime")) or 0
    end = _rest_time(job.get("completionTime")) or float("inf")
    return (stage["stageId"] in job.get("stageIds", ())
            and (_rest_time(job.get("submissionTime")) or 0) <= t <= end)


def operator_metrics(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    """Sum the executed plan's stage metrics into the ``operators`` and
    ``sources`` layer metrics."""
    def tot(key: str) -> float:
        return float(sum(s.get(key, 0) or 0 for s in stages))

    exec_s = sum(
        (_rest_time(j.get("completionTime")) or 0) - (_rest_time(j.get("submissionTime")) or 0)
        for j in jobs if j.get("completionTime")
    )
    return {
        "sources.input_bytes": tot("inputBytes"),
        "sources.input_records": tot("inputRecords"),
        "operators.exec_s": exec_s,
        "operators.jobs": float(len(jobs)),
        "operators.tasks": tot("numCompleteTasks"),
        "operators.executor_cpu_s": tot("executorCpuTime") / 1e9,
        "operators.gc_s": tot("jvmGcTime") / 1e3,
        "operators.shuffle_write_bytes": tot("shuffleWriteBytes"),
        "operators.shuffle_fetch_wait_s": tot("shuffleFetchWaitTime") / 1e3,
        "operators.spill_bytes": tot("memoryBytesSpilled") + tot("diskBytesSpilled"),
    }


def dir_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 when absent)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total


def vm_hwm_mb(pids: list[int]) -> float:
    """Sum of the processes' peak resident set size (``VmHWM``) in MiB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
