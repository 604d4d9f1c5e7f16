"""Spans around calls into the program, and their Spark-side roll-up.

A span is recorded by the benchmark, around a call into one layer of
the package. While a span is open, jobs submitted from the calling
thread carry the span's id as their Spark job group. After the run,
``rollup`` reads Spark's JSON event log and charges every job, with
its stages and tasks, to one span: the span named by the job's group
or, for a job submitted from a thread that did not inherit the group
(the node-graph store build submits from a thread pool), the
innermost span whose interval contains the job's submission time.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: str
    name: str  # "<layer>.<what>", e.g. "sqlite_sink.write_corpus_sqlite"
    kind: str  # "setup", "call" (until the layer returns) or "eval"
    op: int | None  # index of the operation, None for a setup step
    phase: str = "setup"  # "setup" or "measure"
    start: float = 0.0  # epoch seconds
    end: float = 0.0
    depth: int = 0
    # filled by rollup()
    jobs: list = field(default_factory=list)
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    shuffle_write_bytes: int = 0
    job_s: float = 0.0  # span time covered by at least one of its jobs

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        """Driver self time: span time in which none of its jobs ran."""
        return max(self.seconds - self.job_s, 0.0)


class Tracer:
    """Records spans in memory. With ``sc`` None (the untraced run) a
    span only measures time and sets no job group."""

    def __init__(self, sc=None):
        self.sc = sc
        self.phase = "setup"
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, kind: str = "call", op: int | None = None):
        s = Span(f"pb{len(self.spans)}", name, kind, op, self.phase, depth=len(self._stack))
        self.spans.append(s)
        prev = self._stack[-1].sid if self._stack else None
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setLocalProperty("spark.jobGroup.id", s.sid)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.sc is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", prev)


def _union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(path: str) -> dict:
    """Jobs, with their stages' task metrics, from a JSON event log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": ev["Submission Time"] / 1000.0,
                    "stages": set(), "tasks": 0, "run_ms": 0.0, "cpu_ms": 0.0,
                    "gc_ms": 0.0, "shuffle_write_bytes": 0,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if j is None or not m:
                    continue
                j["stages"].add(ev["Stage ID"])
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                j["gc_ms"] += m.get("JVM GC Time", 0)
                j["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
    return jobs


def rollup(spans: list[Span], jobs: dict) -> int:
    """Charge each job to one span (see module doc). Returns the number
    of jobs that fell outside every span."""
    by_id = {s.sid: s for s in spans}
    unplaced = 0
    for j in jobs.values():
        s = by_id.get(j["group"])
        if s is None:
            inside = [x for x in spans if x.start <= j["start"] <= x.end]
            if not inside:
                unplaced += 1
                continue
            s = max(inside, key=lambda x: x.depth)
        s.jobs.append((j["start"], j["end"]))
        s.stages += len(j["stages"])
        s.tasks += j["tasks"]
        s.run_ms += j["run_ms"]
        s.cpu_ms += j["cpu_ms"]
        s.gc_ms += j["gc_ms"]
        s.shuffle_write_bytes += j["shuffle_write_bytes"]
    for s in spans:
        s.job_s = _union_seconds(
            [(max(a, s.start), min(b, s.end)) for a, b in s.jobs if min(b, s.end) > max(a, s.start)]
        )
    return unplaced
