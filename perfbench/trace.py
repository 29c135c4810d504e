"""Spans and Spark counters recorded from outside the program.

A :class:`Tracer` wraps calls into the program's public functions. Each
span records its wall time and, when a Spark session is attached, the
stages of every job that started inside it, read from Spark's status
store (``AppStatusStore``). One client drives each workload, so spans of
one level never overlap and "jobs started inside the span" attributes
stages exactly. Spans stay in memory until :meth:`Tracer.dump`.

A disabled tracer records nothing and reads no counters, so untraced
runs pay only the ``with`` statement.
"""

from __future__ import annotations

import contextlib
import json
import time
from dataclasses import dataclass, field

STAGE_FIELDS = (
    "stages",
    "tasks",
    "failed_tasks",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "executor_run_s",
    "gc_s",
)


@dataclass
class Span:
    name: str
    op: str
    parent: str | None
    start: float
    end: float = 0.0
    stages: list[dict] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping
        self._store = None
        self._last_job = -1
        self._stack: list[Span] = []

    def attach(self, spark) -> None:
        """Start attributing Spark stages; jobs run so far are skipped."""
        if not self.enabled:
            return
        t0 = time.perf_counter()
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._last_job = self._newest_job()
        self.self_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str, op: str = "", **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op or (parent.op if parent else ""), parent and parent.name,
                  time.perf_counter(), attrs=attrs)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._store is not None:
                t0 = time.perf_counter()
                # children already added theirs; keep them
                sp.stages.extend(self._new_stages())
                self.self_s += time.perf_counter() - t0
                if parent is not None:
                    parent.stages.extend(sp.stages)
            self.spans.append(sp)

    # -- Spark status store -------------------------------------------------

    def _newest_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def _new_stages(self) -> list[dict]:
        jobs = self._store.jobsList(None)  # newest first
        stage_ids: set[int] = set()
        newest = self._last_job
        for i in range(jobs.size()):
            job = jobs.apply(i)
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            ids = job.stageIds()
            stage_ids.update(ids.apply(k) for k in range(ids.size()))
        self._last_job = newest
        out = []
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — stage evicted or never ran
                continue
            if s.status().toString() == "SKIPPED":
                continue
            sub, done = s.submissionTime(), s.completionTime()
            out.append(
                {
                    "id": sid,
                    "name": s.name(),
                    "tasks": s.numTasks(),
                    "failed_tasks": s.numFailedTasks(),
                    "input_bytes": s.inputBytes(),
                    "shuffle_read_bytes": s.shuffleReadBytes(),
                    "shuffle_write_bytes": s.shuffleWriteBytes(),
                    "spill_bytes": s.memoryBytesSpilled() + s.diskBytesSpilled(),
                    "executor_run_s": s.executorRunTime() / 1000.0,
                    "gc_s": s.jvmGcTime() / 1000.0,
                    "wall_s": (
                        (done.get().getTime() - sub.get().getTime()) / 1000.0
                        if sub.isDefined() and done.isDefined()
                        else 0.0
                    ),
                }
            )
        return out

    # -- aggregation --------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    @staticmethod
    def stage_totals(spans: list[Span]) -> dict[str, float]:
        tot = dict.fromkeys(STAGE_FIELDS, 0.0)
        for sp in spans:
            for st in sp.stages:
                tot["stages"] += 1
                for k in STAGE_FIELDS[1:]:
                    tot[k] += st[k]
        return tot

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "name": s.name,
                            "op": s.op,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                            "attrs": s.attrs,
                            "stages": s.stages,
                        }
                    )
                    + "\n"
                )
