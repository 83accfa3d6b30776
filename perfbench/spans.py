"""Tracing for the traced run: in-memory spans around the benchmark's
calls into the package, and Spark's own job/stage/task statistics read
from an uncompressed event log.

A span is (name, start, end, parent span, op id). Spans are kept in a
list and written out once, when the run ends.
"""

from __future__ import annotations

import functools
import json
import time
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, the clock Spark's event log uses
    end: float | None
    parent: int | None
    op: int | None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return (self.end or self.start) - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """``span``'s duration minus the part of it its children cover."""
    lo, hi = span.start, span.end or span.start
    covered, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(c.start, lo), min(c.end or c.start, hi)) for c in children):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


class Tracer:
    """Collects spans; :meth:`patch` wraps a module's binding of a public
    function so every call through that binding gets a span."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[Span]:
        s = Span(name, time.time(), None, self._stack[-1] if self._stack else None, self.op, attrs)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn: Callable, around: Callable | None = None) -> Callable:
        """``fn`` with a span per call. ``around(span, fn, *args, **kwargs)``,
        when given, makes the call and may record what it needs on the span;
        the span gets the result as ``attrs["result"]``."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                if around is None:
                    result = fn(*args, **kwargs)
                else:
                    result = around(s, fn, *args, **kwargs)
                s.attrs["result"] = result
                return result

        return traced

    def patch(self, module: object, attr: str, name: str, around: Callable | None = None) -> None:
        original = getattr(module, attr)
        self._patched.append((module, attr, original))
        setattr(module, attr, self.wrap(name, original, around))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def named(self, name: str, op: int | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name and (op is None or s.op == op)]

    def dump(self, path: Path, extra: dict) -> None:
        rows = []
        for i, s in enumerate(self.spans):
            attrs = {k: v for k, v in s.attrs.items() if isinstance(v, (int, float, str))}
            rows.append(
                {
                    "name": s.name,
                    "start": s.start,
                    "end": s.end,
                    "parent": s.parent,
                    "op": s.op,
                    "self_s": self_time(s, self.children(i)),
                    "attrs": attrs,
                }
            )
        path.write_text(json.dumps({"spans": rows, **extra}, indent=1))


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


def read_event_log(log_dir: Path) -> list[dict]:
    """One record per job in every event log under ``log_dir``:
    submit time and the summed metrics of its stages' tasks."""
    jobs: dict[tuple[str, int], dict] = {}
    stage_job: dict[tuple[str, int], tuple[str, int]] = {}
    stage_submit: dict[tuple[str, int], float] = {}
    # Spark writes rolling logs: <dir>/eventlog_v2_<app>/events_<n>_<app>.
    files = sorted(log_dir.glob("*/events_*"), key=lambda p: (p.parent.name, int(p.name.split("_")[1])))
    for path in files:
        app = path.parent.name
        with path.open() as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    key = (app, ev["Job ID"])
                    jobs[key] = {
                        "submit": ev["Submission Time"] / 1000,
                        "stages": 0,
                        "tasks": 0,
                        "executor_run_s": 0.0,
                        "executor_cpu_s": 0.0,
                        "task_wait_s": 0.0,
                        "gc_s": 0.0,
                        "shuffle_bytes": 0,
                        "spill_bytes": 0,
                        "input_rows": 0,
                    }
                    for sid in ev["Stage IDs"]:
                        stage_job[(app, sid)] = key
                elif kind == "SparkListenerStageSubmitted":
                    info = ev["Stage Info"]
                    sid = (app, info["Stage ID"])
                    stage_submit[sid] = info.get("Submission Time", 0) / 1000
                    if sid in stage_job:
                        jobs[stage_job[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = (app, ev["Stage ID"])
                    if sid not in stage_job:
                        continue
                    job = jobs[stage_job[sid]]
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    job["tasks"] += 1
                    job["task_wait_s"] += max(0.0, info["Launch Time"] / 1000 - stage_submit.get(sid, info["Launch Time"] / 1000))
                    job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    job["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    return sorted(jobs.values(), key=lambda j: j["submit"])


def jobs_between(jobs: list[dict], start: float, end: float) -> dict:
    """Sum of the job records submitted inside [start, end]."""
    out = {"jobs": 0}
    for j in jobs:
        if start <= j["submit"] <= end:
            out["jobs"] += 1
            for k, v in j.items():
                if k != "submit":
                    out[k] = out.get(k, 0) + v
    return out
