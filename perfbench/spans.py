"""In-memory spans, Spark job-group task counts, and host probes.

Spans are recorded only in a traced run; job-group counts are read from
Spark's public ``StatusTracker`` in every run, because failed tasks count
against the end-to-end success fraction.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

import numpy as np


class Tracer:
    """Nested spans (name, start, end, parent, run id) kept in memory and
    written out when the run ends. Disabled tracers record nothing."""

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
            "run": self.run_id,
            "start": time.monotonic(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its (sequential) children cover;
        spans still open count up to now."""
        now = time.monotonic()
        dur = {s["id"]: (s["end"] or now) - s["start"] for s in self.spans}
        own = dict(dur)
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= dur[s["id"]]
        return own

    def totals(self) -> dict[str, tuple[float, int]]:
        """span name -> (summed self time, call count)."""
        own = self.self_times()
        out: dict[str, tuple[float, int]] = {}
        for s in self.spans:
            t, n = out.get(s["name"], (0.0, 0))
            out[s["name"]] = (t + own[s["id"]], n + 1)
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f)


class SparkWork:
    """Attributes Spark jobs to phases with job groups the benchmark sets
    itself, and reads stage and task counts back from the StatusTracker."""

    def __init__(self, spark, prefix: str):
        self.sc = spark.sparkContext
        self.prefix = prefix

    @contextmanager
    def group(self, phase: str):
        gid = f"{self.prefix}:{phase}"
        self.sc.setJobGroup(gid, gid)
        try:
            yield gid
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def counts(self, gid: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        stages = tasks = failed = 0
        for job_id in st.getJobIdsForGroup(gid):
            job = st.getJobInfo(job_id)
            for stage_id in job.stageIds if job else ():
                info = st.getStageInfo(stage_id)
                if info is None or info.numCompletedTasks + info.numFailedTasks == 0:
                    continue  # skipped (reused shuffle output)
                stages += 1
                tasks += info.numCompletedTasks + info.numFailedTasks
                failed += info.numFailedTasks
        return {"stages": stages, "tasks": tasks, "failed": failed}


def host_state(work_dir: str) -> dict:
    """Machine state recorded with every result: cores, load, a CPU
    probe (best of 5 fixed-size matmuls) and a write+fsync I/O probe."""
    x = np.random.default_rng(0).random((1000, 1000))
    runs = []
    for _ in range(5):
        t0 = time.monotonic()
        x @ x
        runs.append(time.monotonic() - t0)
    buf = os.urandom(1 << 20)
    path = os.path.join(work_dir, "io_probe.bin")
    t0 = time.monotonic()
    with open(path, "wb") as f:
        for _ in range(64):
            f.write(buf)
        f.flush()
        os.fsync(f.fileno())
    io_ms = (time.monotonic() - t0) * 1000
    os.unlink(path)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg_1m": os.getloadavg()[0],
        "cpu_probe_ms": min(runs) * 1000,
        "io_probe_64mb_ms": io_ms,
    }
