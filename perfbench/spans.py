"""Spans around the package's public functions, and their roll-up from
Spark's own event log.

A span is recorded by patching a module (or class) attribute with a
wrapper, so no package file changes. While a span is open, every Spark
job it submits carries the span id in the local property
``perfbench.span``; Spark writes that property into the event log with
each stage, so the log rolls up per span with the stdlib ``json``
module. A dedicated property is used instead of the job group because
the streaming engine owns the job group of its micro-batch thread (it
cancels by it).

A span covers the Python call only: for a function that returns a lazy
DataFrame it times plan construction plus any jobs the function runs
itself (checkpoints, k-means, counts). Jobs run later by a caller's
action belong to the caller's span.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import time

SPAN_PROPERTY = "perfbench.span"


class Tracer:
    """The spans of one traced run. ``sc`` is the SparkContext whose jobs
    are tagged with the innermost open span."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: dict[int, dict] = {}
        self.stack: list[int] = []
        # time spent in span bookkeeping (the tracer's own cost)
        self.overhead_s = 0.0

    def open(self, name: str) -> int:
        t0 = time.perf_counter()
        sid = len(self.spans)
        self.spans[sid] = {
            "id": sid, "name": name,
            "parent": self.stack[-1] if self.stack else None,
            "prev": self.sc.getLocalProperty(SPAN_PROPERTY)}
        self.sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        self.stack.append(sid)
        t1 = time.perf_counter()
        self.overhead_s += t1 - t0
        self.spans[sid]["start"] = t1
        return sid

    def close(self, sid: int) -> None:
        t0 = time.perf_counter()
        span = self.spans[sid]
        span["end"] = t0
        self.stack.pop()
        self.sc.setLocalProperty(SPAN_PROPERTY, span.pop("prev"))
        self.overhead_s += time.perf_counter() - t0

    @contextlib.contextmanager
    def span(self, name: str):
        sid = self.open(name)
        try:
            yield sid
        finally:
            self.close(sid)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that records span
        ``name`` around each call."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        setattr(owner, attr, traced)


def self_times(spans: dict[int, dict]) -> dict[int, float]:
    """Span duration minus the part of its interval that its children
    cover (children may overlap each other; they are merged first)."""
    children: dict[int, list[dict]] = {}
    for s in spans.values():
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)
    out = {}
    for sid, s in spans.items():
        lo, hi = s["start"], s["end"]
        ivs = sorted((max(lo, c["start"]), min(hi, c["end"]))
                     for c in children.get(sid, []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for a, b in ivs:
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
        out[sid] = (hi - lo) - covered
    return out


def subtree(spans: dict[int, dict], roots: set[int]) -> set[int]:
    """The ids of ``roots`` and every span below them."""
    out = set(roots)
    changed = True
    while changed:
        changed = False
        for s in spans.values():
            if s["parent"] in out and s["id"] not in out:
                out.add(s["id"])
                changed = True
    return out


def _zero() -> dict:
    return {"jobs": 0, "failed_jobs": 0, "tasks": 0, "failed_tasks": 0,
            "run_ms": 0, "cpu_ns": 0, "gc_ms": 0, "shuffle_write": 0,
            "shuffle_read": 0, "spill": 0, "input_bytes": 0,
            "output_bytes": 0, "output_records": 0, "skew": 0.0}


def read_event_log(log_dir: str) -> list[dict]:
    """All events of the (uncompressed, possibly rolling) logs under
    ``log_dir``, in file order."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                        recursive=True) if os.path.isfile(p))
    events = []
    for p in files:
        with open(p, encoding="utf-8", errors="replace") as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def rollup(events: list[dict]) -> dict[int, dict]:
    """Per span id: job, task, CPU, GC, shuffle, spill and I/O totals of
    the stages that ran under it, plus ``skew`` — the largest max/median
    task run time over its stages with at least two tasks."""
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    task_times: dict[int, list[int]] = {}
    out: dict[int, dict] = {}

    def acc(sid):
        return out.setdefault(sid, _zero())

    def span_of(props) -> int | None:
        v = (props or {}).get(SPAN_PROPERTY)
        return int(v) if v not in (None, "") else None

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            sid = span_of(ev.get("Properties"))
            if sid is not None:
                job_span[ev["Job ID"]] = sid
                acc(sid)["jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            sid = job_span.get(ev["Job ID"])
            res = ev.get("Job Result", {}).get("Result")
            if sid is not None and res != "JobSucceeded":
                acc(sid)["failed_jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = span_of(ev.get("Properties"))
            if sid is not None:
                stage_span[ev["Stage Info"]["Stage ID"]] = sid
        elif kind == "SparkListenerTaskEnd":
            stage = ev.get("Stage ID")
            sid = stage_span.get(stage)
            if sid is None:
                continue
            a = acc(sid)
            a["tasks"] += 1
            if ev.get("Task End Reason", {}).get("Reason") != "Success":
                a["failed_tasks"] += 1
            m = ev.get("Task Metrics") or {}
            run = m.get("Executor Run Time", 0)
            a["run_ms"] += run
            a["cpu_ns"] += m.get("Executor CPU Time", 0)
            a["gc_ms"] += m.get("JVM GC Time", 0)
            a["spill"] += m.get("Disk Bytes Spilled", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            a["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            a["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                  + sr.get("Local Bytes Read", 0))
            a["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
            om = m.get("Output Metrics") or {}
            a["output_bytes"] += om.get("Bytes Written", 0)
            a["output_records"] += om.get("Records Written", 0)
            task_times.setdefault(stage, []).append(run)
    for stage, times in task_times.items():
        if len(times) >= 2:
            med = statistics.median(times)
            if med > 0:
                a = acc(stage_span[stage])
                a["skew"] = max(a["skew"], max(times) / med)
    return out


def totals(per_span: dict[int, dict], ids: set[int]) -> dict:
    """Sum the roll-ups of ``ids`` (``skew`` takes the maximum)."""
    t = _zero()
    for sid in ids:
        r = per_span.get(sid)
        if r is None:
            continue
        for k, v in r.items():
            t[k] = max(t[k], v) if k == "skew" else t[k] + v
    return t
