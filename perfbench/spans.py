"""Spans around the package's public calls, with Spark counters per span.

A :class:`Tracer` keeps spans (name, start, end, parent, op id) in memory
and writes them out when the run ends. Spark work is attributed to spans
from the outside: after each op the tracer reads the local UI REST API
(``/api/v1/applications/<id>/jobs`` and ``/stages``) and gives every job
submitted in the op to the innermost span whose interval holds its
submission time. Jobs run by foreachBatch on the stream thread are
attributed the same way, which a caller-side job group would miss.

A disabled tracer records nothing and makes no REST calls.
"""

from __future__ import annotations

import contextlib
import datetime
import json
import threading
import time
import urllib.request
from dataclasses import dataclass, field

COUNTERS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "input_bytes")


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    sid: int = 0
    attrs: dict = field(default_factory=dict)
    counters: dict = field(default_factory=lambda: dict.fromkeys(COUNTERS, 0))

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def rest_time(s: str) -> float:
    """Spark REST timestamps ('2026-01-01T00:00:00.123GMT') -> epoch s."""
    return datetime.datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=datetime.timezone.utc
    ).timestamp()


class SparkRest:
    """Read-only client for the driver's UI REST API on localhost."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://localhost:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def jobs_after(self, last_job: int) -> list[dict]:
        return [j for j in self.get("/jobs") if j["jobId"] > last_job]

    def settled_jobs_after(self, last_job: int, timeout: float = 5.0) -> list[dict]:
        """New jobs once the status store has caught up: none running and
        the same job list on two reads in a row."""
        prev = None
        deadline = time.monotonic() + timeout
        while True:
            jobs = self.jobs_after(last_job)
            ids = [(j["jobId"], j["status"]) for j in jobs]
            running = any(j["status"] == "RUNNING" for j in jobs)
            if (ids == prev and not running) or time.monotonic() > deadline:
                return jobs
            prev = ids
            time.sleep(0.05)

    def stages(self) -> dict[int, dict]:
        """stageId -> the last attempt of each completed stage."""
        out: dict[int, dict] = {}
        for s in self.get("/stages?status=complete"):
            out[s["stageId"]] = s
        return out

    def python_bytes_after(self, seen: int) -> tuple[int, list[tuple[float, int]]]:
        """(executions seen, [(submission time, bytes sent to and returned
        from Python workers)]) for the SQL executions after the first
        ``seen``."""
        rows = []
        execs = self.get(f"/sql?details=true&planDescription=false&offset={seen}&length=100000")
        for e in execs:
            total = 0
            for node in e.get("nodes", []):
                for m in node.get("metrics", []):
                    if "Python workers" in m.get("name", ""):
                        total += _parse_size(m.get("value", ""))
            rows.append((rest_time(e["submissionTime"]), total))
        return seen + len(execs), rows


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_size(value: str) -> int:
    """Total of a Spark size metric string ('total (min, med, max ...)
    12.3 KiB (...)' or '12.3 KiB')."""
    text = value.split("\n")[-1] if "\n" in value else value
    parts = text.replace("(", " ").split()
    for i, tok in enumerate(parts[:-1]):
        unit = parts[i + 1]
        if unit in _UNITS:
            try:
                return int(float(tok.replace(",", "")) * _UNITS[unit])
            except ValueError:
                return 0
    return 0


class Tracer:
    """Span recorder; ``enabled=False`` makes every method a no-op."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self.rest: SparkRest | None = None
        self._local = threading.local()
        self._op: int | None = None
        self._op_span: int | None = None
        self._last_job = -1
        self._execs_seen = 0
        self._stages: dict[int, dict] = {}
        self.inline_s = 0.0  # bookkeeping inside the spans' callers' timed sections

    def attach(self, spark) -> None:
        """Start counting from the session's current job and SQL ids."""
        if not self.enabled:
            return
        self.rest = SparkRest(spark)
        jobs = self.rest.settled_jobs_after(-1)
        self._last_job = max((j["jobId"] for j in jobs), default=-1)
        self._execs_seen = len(self.rest.get("/sql?length=100000"))

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Record one span. Spans opened on another thread (foreachBatch
        callbacks) take the current op's span as parent."""
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        sp = Span(name, time.time(), parent=parent, op=self._op, sid=len(self.spans), attrs=attrs)
        self.spans.append(sp)
        stack.append(sp.sid)
        self.inline_s += time.perf_counter() - t0
        try:
            yield sp
        finally:
            t0 = time.perf_counter()
            sp.end = time.time()
            stack.pop()
            self.inline_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def charge(self):
        """Count the block's time as tracing overhead inside a timed
        section (a wrapper's own bookkeeping)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.inline_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, name: str, op_id: int, **attrs):
        """A top-level op span. Call :meth:`attribute` after it ends, once
        any spans measured elsewhere (listener events) are added."""
        if not self.enabled:
            yield None
            return
        self._op = op_id
        with self.span(name, **attrs) as sp:
            self._op_span = sp.sid
            try:
                yield sp
            finally:
                self._op_span = None
                self._op = None

    def add_span(self, name: str, start: float, end: float, root: Span, **attrs) -> None:
        """Record a span measured by someone else (a listener event)
        under the op span ``root``."""
        if self.enabled:
            self.spans.append(
                Span(name, start, end, parent=root.sid, op=root.op,
                     sid=len(self.spans), attrs=attrs)
            )

    def attribute(self, root: Span) -> float:
        """Give the jobs, stages and SQL executions submitted since the
        last call to the innermost span of ``root``'s op holding them.
        Returns the seconds this bookkeeping took."""
        t0 = time.perf_counter()
        self._attribute(root)
        return time.perf_counter() - t0

    def _attribute(self, root: Span) -> None:
        jobs = self.rest.settled_jobs_after(self._last_job)
        if not jobs:
            return
        self._last_job = max(j["jobId"] for j in jobs)
        self._stages.update(self.rest.stages())
        self._execs_seen, execs = self.rest.python_bytes_after(self._execs_seen)
        spans = [s for s in self.spans if s.op == root.op]

        def innermost(t: float) -> Span:
            holding = [s for s in spans if s.start <= t <= (s.end or t)]
            return max(holding, key=lambda s: (s.start, s.sid)) if holding else root

        # REST times have millisecond resolution; widen by 1 ms
        for j in jobs:
            sp = innermost(rest_time(j["submissionTime"]) + 0.0005)
            c = sp.counters
            c["jobs"] += 1
            for sid in j.get("stageIds", []):
                st = self._stages.get(sid)
                if st is None:
                    continue  # skipped stage: its output was reused
                c["tasks"] += st.get("numCompleteTasks", 0)
                c["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                c["spill_bytes"] += st.get("memoryBytesSpilled", 0) + st.get("diskBytesSpilled", 0)
                c["input_bytes"] += st.get("inputBytes", 0)
        for t, nbytes in execs:
            if nbytes:
                sp = innermost(t + 0.0005)
                sp.counters["python_bytes"] = sp.counters.get("python_bytes", 0) + nbytes

    def self_s(self, sp: Span) -> float:
        """Span duration minus the part of it its children cover."""
        kids = sorted(
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in self.spans
            if c.parent == sp.sid and c.end > c.start
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in kids:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return max(0.0, sp.wall_s - covered)

    def children_within_parents(self) -> bool:
        """No child span's self time exceeds its parent's wall time."""
        by_id = {s.sid: s for s in self.spans}
        return all(
            self.self_s(s) <= by_id[s.parent].wall_s + 1e-6
            for s in self.spans
            if s.parent is not None
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(
                    json.dumps(
                        {
                            "sid": s.sid,
                            "name": s.name,
                            "start": s.start,
                            "end": s.end,
                            "parent": s.parent,
                            "op": s.op,
                            "self_s": self.self_s(s),
                            "counters": s.counters,
                            "attrs": s.attrs,
                        }
                    )
                    + "\n"
                )
