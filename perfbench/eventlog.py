"""Spans recorded by the benchmark, and Spark's own event log attributed to them.

A span is opened around each call into a layer. Spark stages and jobs are
attributed to the innermost span open at their submission time: job groups
cannot do this, because the resumable sink's pool threads do not inherit
them.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path

MB = 1e6
STAGE_FIELDS = ("task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_records")


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    totals: dict = field(default_factory=lambda: dict.fromkeys(STAGE_FIELDS + ("jobs",), 0.0))

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; spans nest on one driver thread."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._open: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1].id if self._open else None
        s = Span(next(self._ids), name, parent, self.run_id, time.time())
        self.spans.append(s)
        self._open.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._open.pop()

    def by_name(self, name: str) -> Span:
        (s,) = [s for s in self.spans if s.name == name]
        return s

    def self_s(self, s: Span) -> float:
        return s.wall_s - sum(c.wall_s for c in self.spans if c.parent == s.id)

    def innermost(self, t: float) -> Span | None:
        # spans nest, so the containing span that opened last is innermost
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best

    def attribute(self, log_dir: Path) -> None:
        """Add every stage's task metrics and every job to its span."""
        jobs, stages = read_event_log(log_dir)
        for submitted in jobs:
            s = self.innermost(submitted)
            if s is not None:
                s.totals["jobs"] += 1
        for submitted, metrics in stages:
            s = self.innermost(submitted)
            if s is not None:
                for k, v in metrics.items():
                    s.totals[k] += v

    def inclusive(self, s: Span) -> dict:
        """A span's event-log totals including its descendants'."""
        out = dict(s.totals)
        for c in self.spans:
            if c.parent == s.id:
                for k, v in self.inclusive(c).items():
                    out[k] += v
        return out

    def dump(self) -> list[dict]:
        return [
            {
                "id": s.id, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                "start": s.start, "end": s.end, "wall_s": s.wall_s,
                "self_s": self.self_s(s), **self.inclusive(s),
            }
            for s in self.spans
        ]


def _event_lines(log_dir: Path):
    """Lines of the one application log in ``log_dir``: a single file, or a
    rolling ``eventlog_v2_*`` directory of ``events_<n>_*`` files."""
    (app,) = [p for p in log_dir.iterdir() if not p.name.startswith(".")]
    files = [app]
    if app.is_dir():
        files = sorted(
            (p for p in app.iterdir() if p.name.startswith("events_")),
            key=lambda p: int(p.name.split("_")[1]),
        )
    for path in files:
        with open(path) as f:
            yield from f


def read_event_log(log_dir: Path) -> tuple[list[float], list[tuple[float, dict]]]:
    """(job submission times, [(stage submission time, task totals)]) from
    an uncompressed Spark event log. Times are epoch seconds."""
    jobs: list[float] = []
    submitted: dict[tuple, float] = {}
    totals: dict[tuple, dict] = {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            jobs.append(ev["Submission Time"] / 1000)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            submitted[(info["Stage ID"], info["Stage Attempt ID"])] = (
                info["Submission Time"] / 1000
            )
        elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
            m = ev["Task Metrics"]
            t = totals.setdefault(
                (ev["Stage ID"], ev["Stage Attempt ID"]), dict.fromkeys(STAGE_FIELDS, 0.0)
            )
            t["task_s"] += m["Executor Run Time"] / 1000
            t["gc_s"] += m["JVM GC Time"] / 1000
            read = m["Shuffle Read Metrics"]
            t["shuffle_read_mb"] += (read["Remote Bytes Read"] + read["Local Bytes Read"]) / MB
            t["shuffle_write_mb"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"] / MB
            t["spill_mb"] += m["Disk Bytes Spilled"] / MB
            t["input_records"] += m["Input Metrics"]["Records Read"]
    return jobs, [(submitted[k], v) for k, v in totals.items() if k in submitted]
