"""Traced-run instrumentation, all of it outside the library.

- ``Tracer`` records a span (name, start, end, parent, op id) around each
  wrapped public call.  Wrapping replaces a module attribute or a class
  attribute for the length of the run and puts the original back after;
  nothing in ``cloudfabric_eventsourcing_spark`` is edited.  Spans stay in
  memory and are written out once, at exit.
- ``SparkRest`` reads job and stage counts from the Spark UI's REST API on
  localhost (the traced run turns the UI on).
- ``progress_listener`` collects Structured Streaming's own per-trigger
  progress reports.
"""

from __future__ import annotations

import dataclasses
import datetime
import functools
import itertools
import json
import threading
import time
import urllib.request
from typing import Optional


@dataclasses.dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[int]

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        #: id of the op the client is running; spans opened by other
        #: threads (the streaming micro-batch thread) inherit it too
        self.op: Optional[int] = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, name: str, fn, *args, **kwargs):
        """Run fn inside a span; the span's parent is the innermost span
        open on this thread."""
        stack = self._stack()
        sid = next(self._ids)
        parent = stack[-1] if stack else None
        stack.append(sid)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.perf_counter()
            stack.pop()
            self.spans.append(Span(sid, name, t0, t1, parent, self.op))

    def wrap(self, owner, attr: str, name: str) -> None:
        """Record a span named `name` around every call of owner.attr
        (a module function or a plain method of a class)."""
        raw = vars(owner).get(attr)  # None when inherited from a base
        original = getattr(owner, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.span(name, original, *args, **kwargs)

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            if raw is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)
        self._patches.clear()

    # -- derived numbers ----------------------------------------------------
    def named(self, name: str, ops=None) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and (ops is None or s.op in ops)
        ]

    def durations_ms(self, name: str, ops=None) -> list[float]:
        return [s.duration * 1000.0 for s in self.named(name, ops)]

    def self_ms(self, span: Span) -> float:
        """Span duration minus the part of its interval that its direct
        children cover."""
        children = sorted(
            (c.start, c.end) for c in self.spans if c.parent == span.id
        )
        covered, cur_start, cur_end = 0.0, None, None
        for s, e in children:
            s, e = max(s, span.start), min(e, span.end)
            if e <= s:
                continue
            if cur_end is None or s > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = s, e
            else:
                cur_end = max(cur_end, e)
        if cur_end is not None:
            covered += cur_end - cur_start
        return (span.duration - covered) * 1000.0

    def self_durations_ms(self, name: str, ops=None) -> list[float]:
        return [self.self_ms(s) for s in self.named(name, ops)]

    def per_op_total_ms(self, names, ops) -> list[float]:
        """Per op: summed duration of the named spans (ops without any
        such span count 0)."""
        totals = {op: 0.0 for op in ops}
        for s in self.spans:
            if s.name in names and s.op in totals:
                totals[s.op] += s.duration * 1000.0
        return list(totals.values())

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(dataclasses.asdict(s)) + "\n")


# ---------------------------------------------------------------------------
# Spark UI REST API (traced run only)
# ---------------------------------------------------------------------------

def _epoch(stamp: str) -> float:
    # "2026-10-16T23:40:01.123GMT"
    return (
        datetime.datetime.strptime(stamp, "%Y-%m-%dT%H:%M:%S.%fGMT")
        .replace(tzinfo=datetime.timezone.utc)
        .timestamp()
    )


class SparkRest:
    """Jobs and stage input rows of this application, attributed to time
    windows (one closed-loop client, so an op's window holds only its own
    jobs)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.jobs: list[dict] = []
        self.stage_rows: dict[int, int] = {}

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.loads(r.read().decode())

    def fetch(self, settle_s: float = 10.0) -> None:
        """Snapshot jobs and stages once no job is running and the job
        count has stopped changing (the UI's listener is asynchronous)."""
        deadline = time.monotonic() + settle_s
        last = -1
        while True:
            jobs = self._get("jobs")
            running = any(j.get("status") == "RUNNING" for j in jobs)
            if (not running and len(jobs) == last) or time.monotonic() > deadline:
                break
            last = len(jobs)
            time.sleep(0.3)
        self.jobs = [
            {
                "id": j["jobId"],
                "submitted": _epoch(j["submissionTime"]),
                "stages": j.get("stageIds", []),
            }
            for j in jobs
            if "submissionTime" in j
        ]
        self.stage_rows = {}
        for s in self._get("stages"):
            if s.get("status") == "COMPLETE":
                self.stage_rows[s["stageId"]] = (
                    self.stage_rows.get(s["stageId"], 0) + int(s.get("inputRecords", 0))
                )

    def window(self, t0: float, t1: float) -> tuple[int, int]:
        """(jobs submitted in [t0, t1], stage input rows of those jobs)."""
        n_jobs, rows = 0, 0
        for j in self.jobs:
            if t0 <= j["submitted"] <= t1:
                n_jobs += 1
                rows += sum(self.stage_rows.get(s, 0) for s in j["stages"])
        return n_jobs, rows


def progress_listener():
    """A StreamingQueryListener that keeps every progress report with
    input rows: batch id, input rows, per-phase durations and the trigger
    window in epoch seconds."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressLog(StreamingQueryListener):
        def __init__(self):
            self.batches: list[dict] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            durations = dict(p.durationMs)
            start = (
                datetime.datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
                .replace(tzinfo=datetime.timezone.utc)
                .timestamp()
            )
            self.batches.append({
                "batch": p.batchId,
                "rows": p.numInputRows,
                "durations_ms": durations,
                "start": start,
                "end": start + durations.get("triggerExecution", 0) / 1000.0,
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return ProgressLog()
