"""In-memory spans and the Spark event-log reader of the traced run.

Spans are recorded by the benchmark around its own calls into each engine
layer (pass -> query -> build / plan / write, plus the wrapped catalog and
streaming calls). They live in memory and are written out once, when the
run ends. Everything here is plain Python over plain data, so the
arithmetic is testable without Spark.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into the tracer's span list
    ids: dict[str, object] = field(default_factory=dict)  # run / pass / query

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Records nested spans; `enabled=False` makes `span` a no-op."""

    def __init__(self, enabled: bool, **ids: object) -> None:
        self.enabled = enabled
        self.ids = dict(ids)
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **ids: object) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        inherited = dict(self.spans[parent].ids) if parent is not None else dict(self.ids)
        inherited.update(ids)
        idx = len(self.spans)
        self.spans.append(Span(name, time.time(), float("nan"), parent, inherited))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name: summed duration minus the part of each span's
    interval that its direct children cover."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        covered = union_length(
            (max(c.start, s.start), min(c.end, s.end))
            for c in children[i]
            if c.end > s.start and c.start < s.end
        )
        out[s.name] += s.duration - covered
    return dict(out)


def outer_total(
    spans: list[Span], prefix: str, where: Callable[[Span], bool] = lambda s: True
) -> tuple[int, float]:
    """(count of spans named `prefix*`, summed duration of those whose
    nearest ancestor is not also `prefix*`), over the spans `where`
    accepts - nested calls within one layer are counted but their time is
    not added twice."""
    count, total = 0, 0.0
    for s in spans:
        if not s.name.startswith(prefix) or not where(s):
            continue
        count += 1
        p = s.parent
        while p is not None and not spans[p].name.startswith(prefix):
            p = spans[p].parent
        if p is None:
            total += s.duration
    return count, total


# ---- Spark event log -----------------------------------------------------


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float  # epoch seconds
    end: float = float("nan")
    stages: set[int] = field(default_factory=set)  # stages that completed
    tasks: int = 0
    cpu_s: float = 0.0
    run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    input_mb: float = 0.0


_MB = 1024.0 * 1024.0
GROUP_PREFIX = "perfbench:"


def read_event_log(lines: Iterable[str]) -> list[Job]:
    """Jobs with their stage, task and task-metric totals, from the JSON
    lines of one Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job[sid] = job.job_id
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                jobs[stage_job[sid]].stages.add(sid)
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"], -1))
            m = ev.get("Task Metrics")
            if job is None or not m:
                continue
            job.tasks += 1
            job.cpu_s += m.get("Executor CPU Time", 0) / 1e9
            job.run_s += m.get("Executor Run Time", 0) / 1e3
            job.gc_s += m.get("JVM GC Time", 0) / 1e3
            sr = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_mb += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)) / _MB
            job.shuffle_write_mb += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
            job.input_mb += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / _MB
    return sorted(jobs.values(), key=lambda j: j.job_id)


def attach_jobs(jobs: list[Job], spans: list[Span], phases: tuple[str, ...]) -> dict[int, list[Job]]:
    """Map span index -> jobs it ran. A job whose group names a phase span
    (`group_id`) attaches there; a job from a group the benchmark did
    not set (a streaming query's own micro-batch thread) attaches to the
    phase span whose interval holds its submission time. Jobs outside
    every phase span (warm-up, correctness check) attach nowhere."""
    by_group = {
        group_id(s.name, s.ids.get("pass"), s.ids.get("query")): i
        for i, s in enumerate(spans)
        if s.name in phases
    }
    timed = sorted((s.start, s.end, i) for i, s in enumerate(spans) if s.name in phases)
    out: dict[int, list[Job]] = defaultdict(list)
    for job in jobs:
        if job.group is not None and job.group.startswith(GROUP_PREFIX):
            idx = by_group.get(job.group)
        else:
            idx = next((i for a, b, i in timed if a <= job.submit <= b), None)
        if idx is not None:
            out[idx].append(job)
    return out


def group_id(phase: str, pass_index: object, query: object) -> str:
    """The Spark job group the benchmark sets around one (pass, query,
    phase); any other group of ours (GROUP_PREFIX + "idle") attaches
    nowhere."""
    return f"{GROUP_PREFIX}{pass_index}:{query}:{phase}"
