"""Spans around the engine's public calls, and the Spark event log read
back onto them.

A :class:`Tracer` records one in-memory span (name, start, end, parent,
op id) per public call the benchmark makes into the engine. After the
session stops, :func:`read_event_log` turns the Spark event log into
jobs — submission/completion interval plus the task metrics of every
stage the job ran — and :func:`attribute` hands each job to the
innermost span whose window holds its submission time, falling back to
the op whose job group tagged it. Spans nest on one thread, so windows
never overlap except parent over child, and the attribution is exact.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# top-level spans of the measured phase: one per measured op
OP_SPANS = ("query", "month")

TASK_FIELDS = ("tasks", "task_run_s", "task_cpu_s", "gc_s", "deser_s",
               "fetch_wait_s", "scan_bytes", "scan_records",
               "shuffle_write_bytes",
               "spill_bytes", "peak_exec_mem_bytes", "python_worker_s",
               "python_worker_bytes")


@dataclass
class Span:
    name: str
    start: float            # epoch seconds
    end: float
    parent: int | None      # index of the parent span, None at top level
    op: str | None          # id of the measured op the span belongs to
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Nested wall-clock spans on the calling thread."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        # epoch-anchored monotonic clock: durations from perf_counter,
        # absolute times comparable with the event log's epoch millis
        self._pc0 = time.perf_counter()
        self._epoch0 = time.time()

    def now(self) -> float:
        return self._epoch0 + (time.perf_counter() - self._pc0)

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = self.spans[parent].op
        s = Span(name, self.now(), 0.0, parent, op, attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = self.now()
            self._stack.pop()

    def self_times(self) -> list[float]:
        """Per span: its wall minus its children's walls."""
        out = [s.wall for s in self.spans]
        for i, s in enumerate(self.spans):
            if s.parent is not None:
                out[s.parent] -= s.wall
        return out


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float            # epoch seconds
    end: float
    metrics: dict = field(default_factory=lambda: dict.fromkeys(
        TASK_FIELDS, 0.0))


def _add_task(m: dict, ev: dict) -> None:
    tm = ev.get("Task Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    im = tm.get("Input Metrics") or {}
    m["tasks"] += 1
    m["task_run_s"] += tm.get("Executor Run Time", 0) / 1e3
    m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    m["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
    m["deser_s"] += tm.get("Executor Deserialize Time", 0) / 1e3
    m["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1e3
    m["scan_bytes"] += im.get("Bytes Read", 0)
    m["scan_records"] += im.get("Records Read", 0)
    m["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
    m["peak_exec_mem_bytes"] = max(m["peak_exec_mem_bytes"],
                                   tm.get("Peak Execution Memory", 0))
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name = acc.get("Name")
        try:
            if name == "time to run Python workers":
                m["python_worker_s"] += int(acc.get("Update", 0)) / 1e3
            elif name in ("data sent to Python workers",
                          "data returned from Python workers"):
                m["python_worker_bytes"] += int(acc.get("Update", 0))
        except (TypeError, ValueError):
            continue


def read_event_log(evlog_dir: str) -> list[Job]:
    """Jobs of every application log under ``evlog_dir``, with the task
    metrics of the stages each ran summed onto it. A stage shared by two
    jobs charges its tasks to the job that most recently listed it."""
    jobs: list[Job] = []
    for root, _dirs, files in os.walk(evlog_dir):
        for f in sorted(files):
            if f.startswith("."):
                continue
            by_id: dict[int, Job] = {}
            stage_job: dict[int, Job] = {}
            with open(os.path.join(root, f)) as fh:
                for line in fh:
                    if '"SparkListenerJobStart"' in line:
                        ev = json.loads(line)
                        grp = (ev.get("Properties") or {}).get(
                            "spark.jobGroup.id")
                        t = ev.get("Submission Time", 0) / 1e3
                        job = Job(ev["Job ID"], grp, t, t)
                        by_id[job.job_id] = job
                        jobs.append(job)
                        for sid in ev.get("Stage IDs", []):
                            stage_job[int(sid)] = job
                    elif '"SparkListenerJobEnd"' in line:
                        ev = json.loads(line)
                        job = by_id.get(ev.get("Job ID"))
                        if job is not None:
                            job.end = ev.get("Completion Time", 0) / 1e3
                    elif '"SparkListenerTaskEnd"' in line:
                        ev = json.loads(line)
                        job = stage_job.get(int(ev.get("Stage ID", -1)))
                        if job is not None:
                            _add_task(job.metrics, ev)
    return jobs


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span index -> jobs attributed directly to it (not to a child).

    Innermost span holding the job's submission time wins; a job outside
    every span goes to the top-level span whose op id equals its job
    group, else stays unattributed (warm-up, shutdown)."""
    direct: dict[int, list[Job]] = {}
    op_top = {s.op: i for i, s in enumerate(spans)
              if s.parent is None and s.op is not None}
    for job in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start <= job.start < s.end and (
                    best is None or s.start >= spans[best].start):
                best = i
        if best is None:
            best = op_top.get(job.group)
        if best is not None:
            direct.setdefault(best, []).append(job)
    return direct


def subtree_jobs(spans: list[Span],
                 direct: dict[int, list[Job]]) -> dict[int, list[Job]]:
    """span index -> every job attributed to it or to a descendant."""
    out = {i: list(direct.get(i, [])) for i in range(len(spans))}
    # children always follow their parent in the list
    for i in range(len(spans) - 1, -1, -1):
        p = spans[i].parent
        if p is not None:
            out[p].extend(out[i])
    return out


def union_s(intervals: list[tuple[float, float]], lo: float,
            hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def in_jobs_s(span: Span, jobs: list[Job]) -> float:
    return union_s([(j.start, j.end) for j in jobs], span.start, span.end)


def sum_metrics(jobs: list[Job]) -> dict[str, float]:
    out = dict.fromkeys(TASK_FIELDS, 0.0)
    for j in jobs:
        for k, v in j.metrics.items():
            if k == "peak_exec_mem_bytes":
                out[k] = max(out[k], v)
            else:
                out[k] += v
    return out
