"""Span recorder for traced benchmark runs.

A span wraps one call into the program (``session.get_spark``, one
``ingest_directory``, one query build, …). When tracing is on, each
span gets its own Spark job group, and when it closes the recorder
reads the jobs that ran inside it from the SparkContext status store:
job intervals from ``statusStore().job(id)``, executor run time,
input, shuffle, spill and rows written from
``statusStore().lastStageAttempt(id)``.
Reading at span close keeps ahead of the store's retention limit.

Jobs are attributed by job id range (ids are assigned in submission
order), not by job group, because the model runner submits from
worker threads that do not inherit the caller's job group.

Spans stay in memory; ``dump`` writes them out when the run ends.
The interval arithmetic (``union_s``, ``self_s``) is plain Python so
it can be tested on a synthetic span tree.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


def union_s(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


@dataclass
class Job:
    job_id: int
    start: float  # epoch seconds
    end: float
    stages: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    input_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    output_records: int = 0


@dataclass
class Span:
    idx: int
    layer: str
    name: str
    parent: int | None
    start: float  # epoch seconds
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    job_ids: list[int] = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class SparkStatus:
    """Reads job and stage facts for finished jobs from the status store."""

    MB = 1024.0 * 1024.0

    def __init__(self, sc):
        self._sc = sc
        self._store = sc._jsc.sc().statusStore()

    def set_group(self, group: str | None, desc: str = "") -> None:
        if group is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(group, desc)

    def drain(self) -> None:
        """Wait until the status store has seen every event posted so far
        (the listener bus is asynchronous)."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def last_job_id(self) -> int:
        self.drain()
        jobs = self._store.jobsList(None)  # a Scala Seq, newest first
        return -1 if jobs.isEmpty() else jobs.head().jobId()

    def job(self, job_id: int) -> Job | None:
        try:
            jd = self._store.job(job_id)
        except Exception:  # noqa: BLE001 - evicted or unknown job id
            return None
        sub, done = jd.submissionTime(), jd.completionTime()
        if not sub.isDefined():
            return None
        start = sub.get().getTime() / 1000.0
        end = done.get().getTime() / 1000.0 if done.isDefined() else time.time()
        job = Job(job_id, start, end)
        ids = str(jd.stageIds().mkString(","))
        for sid in {int(s) for s in ids.split(",") if s}:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - stage never attempted
                continue
            if str(st.status().toString()) == "SKIPPED":
                continue
            job.stages += 1
            job.tasks += st.numTasks()
            job.exec_run_s += st.executorRunTime() / 1000.0
            job.input_mb += st.inputBytes() / self.MB
            job.shuffle_read_mb += st.shuffleReadBytes() / self.MB
            job.shuffle_write_mb += st.shuffleWriteBytes() / self.MB
            job.spill_mb += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / self.MB
            job.output_records += st.outputRecords()
        return job


class Recorder:
    """Collects spans; a disabled recorder only times, it never talks to Spark."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.status: SparkStatus | None = None
        self.spans: list[Span] = []
        self.jobs: dict[int, Job] = {}
        self._stack: list[int] = []

    def attach(self, sc) -> None:
        if self.enabled:
            self.status = SparkStatus(sc)

    @contextmanager
    def span(self, layer: str, name: str = "", **attrs):
        st = self.status
        first = st.last_job_id() if st else -1
        if st:
            st.set_group(f"perfbench:{layer}:{name}", f"{layer} {name}")
        sp = Span(len(self.spans), layer, name, self._stack[-1] if self._stack else None,
                  time.time(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp.idx)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if st:
                parent = self.spans[self._stack[-1]] if self._stack else None
                st.set_group(
                    f"perfbench:{parent.layer}:{parent.name}" if parent else None,
                    f"{parent.layer} {parent.name}" if parent else "",
                )
                for jid in range(first + 1, st.last_job_id() + 1):
                    if jid not in self.jobs:
                        job = st.job(jid)
                        if job is None:
                            continue
                        self.jobs[jid] = job
                    sp.job_ids.append(jid)

    # ------------------------------------------------------------------
    # arithmetic over recorded spans

    def children(self, sp: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == sp.idx]

    def self_s(self, sp: Span) -> float:
        """Span wall time minus the part its children cover."""
        kids = clip([(c.start, c.end) for c in self.children(sp)], sp.start, sp.end)
        return sp.wall_s - union_s(kids)

    def span_jobs(self, sp: Span) -> list[Job]:
        return [self.jobs[j] for j in sp.job_ids if j in self.jobs]

    def jobs_s(self, sp: Span) -> float:
        """Wall time inside the span during which at least one job ran."""
        return union_s(clip([(j.start, j.end) for j in self.span_jobs(sp)], sp.start, sp.end))

    def find(self, layer: str, **attrs) -> list[Span]:
        return [
            s for s in self.spans
            if s.layer == layer and all(s.attrs.get(k) == v for k, v in attrs.items())
        ]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [dict(asdict(s), self_s=self.self_s(s)) for s in self.spans],
                    "jobs": [asdict(j) for j in self.jobs.values()],
                },
                f,
                indent=1,
            )
