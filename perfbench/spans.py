"""In-memory spans with Spark status-store counts.

A span wraps one call the benchmark makes into a layer: name, start, end,
parent span and run id, plus the Spark work that completed inside it
(jobs and their summed wall time, tasks, executor run/CPU/GC time,
shuffle-write and input bytes), read from the Spark application's status
store.  Spans stay in memory and are written out once, when the run ends.
A disabled tracer records nothing and reads no counts, so untraced runs
pay one attribute check per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

COUNT_KEYS = ("jobs", "job_s", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "input_bytes")


@dataclass
class Span:
    name: str
    start: float
    run_id: str
    parent: int | None
    id: int
    end: float = 0.0
    counts: dict = field(default_factory=dict)
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class SparkCounters:
    """Cumulative per-application totals of completed Spark work.

    Each snapshot waits for the listener bus to drain, then folds in only
    the jobs that finished since the previous snapshot (the status store
    lists jobs newest first), so the cost is proportional to new work.
    A job still running is folded in by a later snapshot; the walk goes
    back past already-seen jobs until it has passed every such job.
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._seen_jobs: set[int] = set()
        self._running: set[int] = set()
        self._seen_stages: set[int] = set()
        self.totals = {k: 0.0 for k in COUNT_KEYS}

    def snapshot(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            j = jobs.apply(i)
            jid = j.jobId()
            if jid in self._seen_jobs:
                if jid < min(self._running, default=jid + 1):
                    break
                continue
            if not j.completionTime().isDefined():
                self._running.add(jid)
                continue
            self._running.discard(jid)
            self._seen_jobs.add(jid)
            self.totals["jobs"] += 1
            if j.submissionTime().isDefined():
                self.totals["job_s"] += (j.completionTime().get().getTime()
                                         - j.submissionTime().get().getTime()) / 1e3
            stages = str(j.stageIds().mkString(","))
            for sid in (int(s) for s in stages.split(",") if s):
                if sid in self._seen_stages:
                    continue
                self._seen_stages.add(sid)
                sd = self._store.lastStageAttempt(sid)
                if str(sd.status()) == "SKIPPED":
                    continue
                self.totals["tasks"] += sd.numCompleteTasks()
                self.totals["executor_run_s"] += sd.executorRunTime() / 1e3
                self.totals["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                self.totals["gc_s"] += sd.jvmGcTime() / 1e3
                self.totals["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                self.totals["input_bytes"] += sd.inputBytes()
        return dict(self.totals)


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._counters = SparkCounters(spark) if enabled else None
        if enabled:
            self._counters.snapshot()  # work done before tracing is not ours

    @contextmanager
    def span(self, name: str, **attrs):
        """Record a span around the body; yields the Span (None when
        tracing is off) so the body can attach attributes."""
        if not self.enabled:
            yield None
            return
        before = self._counters.snapshot()
        s = Span(name=name, start=time.perf_counter(), run_id=self.run_id,
                 parent=self._stack[-1].id if self._stack else None,
                 id=len(self.spans), attrs=dict(attrs))
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            after = self._counters.snapshot()
            s.counts = {k: after[k] - before[k] for k in COUNT_KEYS}

    def find(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str, key: str | None = None) -> float:
        """Summed duration (or count ``key``) of every span named ``name``."""
        spans = self.find(name)
        if key is None:
            return sum(s.duration for s in spans)
        return sum(s.counts.get(key, 0.0) for s in spans)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)
