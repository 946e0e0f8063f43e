"""Spans, Spark job accounting, event-log task metrics and memory sampling.

Spans are recorded from the benchmark's own code, around its calls into
the program's public functions; the program itself is not instrumented.
A span keeps its name, start, end, parent and the ids of the Spark jobs
that ran inside it. Spark numbers jobs 0, 1, 2, ... across all job groups
(streaming micro-batches run under the query's group), so the jobs of a
span are the ids handed out between its start and its end.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


def next_job_id(sc, start: int = 0) -> int:
    """The id the next Spark job will get (first id the tracker has not seen)."""
    tracker = sc.statusTracker()
    j = start
    while tracker.getJobInfo(j) is not None:
        j += 1
    return j


def job_tasks(sc, job_ids) -> tuple[int, int]:
    """(tasks, failed tasks) over the stages of ``job_ids``."""
    tracker = sc.statusTracker()
    tasks = failed = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        for s in info.stageIds if info else ():
            st = tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
    return tasks, failed


@dataclass
class Span:
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def secs(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans in memory; ``write`` dumps them as JSON when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._next_job = next_job_id(sc)

    @contextmanager
    def span(self, name: str):
        self._next_job = next_job_id(self.sc, self._next_job)
        first_job = self._next_job
        s = Span(name, self._open[-1] if self._open else None, time.monotonic())
        self.spans.append(s)
        self._open.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.monotonic()
            self._open.pop()
            self._next_job = next_job_id(self.sc, self._next_job)
            s.jobs = list(range(first_job, self._next_job))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def write(self, path: str) -> None:
        t0 = self.spans[0].start if self.spans else 0.0
        rows = [
            {"id": i, "name": s.name, "parent": s.parent,
             "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
             "jobs": s.jobs}
            for i, s in enumerate(self.spans)
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(rows, f, indent=0)


def event_log_stage_metrics(log_dir: str) -> tuple[dict, dict]:
    """Parse a Spark event log: job id -> stage ids, and stage id ->
    {shuffle_write_bytes, spill_bytes} summed over the stage's tasks."""
    job_stages: dict[int, list[int]] = {}
    stage: dict[int, dict[str, int]] = {}
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    acc = stage.setdefault(
                        ev["Stage ID"], {"shuffle_write_bytes": 0, "spill_bytes": 0}
                    )
                    acc["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    acc["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
    return job_stages, stage


def jobs_metric(job_ids, job_stages: dict, stage: dict, key: str) -> int:
    return sum(
        stage.get(s, {}).get(key, 0) for j in job_ids for s in job_stages.get(j, ())
    )


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


class RssSampler:
    """Samples the summed RSS of a process and all its descendants (the
    JVM and its Python workers) from /proc; keeps the peak."""

    def __init__(self, pid: int, interval: float = 0.2):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            todo, total = [self.pid], 0
            while todo:
                p = todo.pop()
                total += _rss_bytes(p)
                todo.extend(_children(p))
            self.peak = max(self.peak, total)
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
