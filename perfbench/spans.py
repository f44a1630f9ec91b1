"""Layer spans and Spark accounting for the traced benchmark run.

``Tracer.wrap`` replaces a function at the name its caller resolves (a
module attribute or a class attribute) with a wrapper that records a span
and runs the call under its own Spark job group, so every job can be
charged to the innermost span that started it. Spans stay in memory and are
written out once, when the run ends.

Job and stage times come from the driver UI's REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``), read after the traced
iterations, outside any timed region.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from dataclasses import dataclass, field
from datetime import datetime

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ---------------------------------------------------------------
    def span(self, name: str, attrs: dict | None = None):
        return _SpanCtx(self, name, {} if attrs is None else attrs)

    def _open(self, name: str, attrs: dict) -> Span:
        parent = self._stack[-1].sid if self._stack else None
        s = Span(len(self.spans), name, parent, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", name)
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        if self._stack:
            top = self._stack[-1]
            self.sc.setJobGroup(f"{GROUP_PREFIX}{top.sid}", top.name)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, on_result=None, on_call=None) -> None:
        """Record a span around every call of ``owner.attr``.

        ``on_call(attrs, args, kwargs)`` and ``on_result(attrs, result)`` fill
        the span's attribute dict; they run just outside the span, so their
        own cost (file walks, listings) is not charged to the layer.
        """
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            attrs: dict = {}
            if on_call is not None:
                on_call(attrs, args, kwargs)
            with tracer.span(name, attrs):
                result = fn(*args, **kwargs)
            if on_result is not None:
                on_result(attrs, result)
            return result

        traced.__wrapped__ = fn
        setattr(owner, attr, traced)
        self._undo.append((owner, attr, fn))

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def descendants(self, sid: int) -> set[int]:
        out = {sid}
        for s in self.spans[sid + 1:]:
            if s.parent in out:
                out.add(s.sid)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__, default=str) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs

    def __enter__(self) -> Span:
        self.s = self.tracer._open(self.name, self.attrs)
        return self.s

    def __exit__(self, *exc) -> None:
        self.tracer._close(self.s)


# -- Spark REST accounting ----------------------------------------------------


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


@dataclass
class Job:
    job_id: int
    group: str | None
    start: float
    end: float
    stage_ids: list[int]


class SparkRest:
    """Reads job and stage accounting from the driver UI's REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def jobs_since(self, first_job_id: int) -> list[Job]:
        """Jobs with id >= ``first_job_id``, read once the UI's listener has
        caught up: every job complete and the list unchanged between polls."""
        prev, deadline = None, time.time() + 30
        while True:
            raw = [j for j in self._get("/jobs") if j["jobId"] >= first_job_id]
            ids = {j["jobId"] for j in raw}
            if all(j.get("completionTime") for j in raw) and ids == prev or time.time() > deadline:
                break
            prev = ids
            time.sleep(0.3)
        return [
            Job(j["jobId"], j.get("jobGroup"), _epoch(j["submissionTime"]),
                _epoch(j["completionTime"]), j.get("stageIds", []))
            for j in raw if j.get("completionTime")
        ]

    def stages(self, stage_ids: set[int]) -> list[dict]:
        return [s for s in self._get("/stages?status=complete") if s["stageId"] in stage_ids]

    def gc_ms(self) -> int:
        return sum(e.get("totalGCTime", 0) for e in self._get("/executors"))

    def next_job_id(self) -> int:
        return max((j.job_id for j in self.jobs_since(0)), default=-1) + 1


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur_end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur_end), min(b, hi)
        if b > a:
            total += b - a
            cur_end = b
    return total


def dir_inodes(root: str) -> dict[int, int]:
    """inode -> size of every regular file under ``root``."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.lstat(os.path.join(dirpath, f))
            out[st.st_ino] = st.st_size
    return out
