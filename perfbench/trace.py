"""Layer tracing from outside the program: spans around the calls the
benchmark makes into each module, plus Spark job attribution.

``Tracer.wrap(owner, attr, name)`` replaces ``owner.attr`` with a wrapper
that records a span around every call. ``owner`` must be the object the
caller resolves the name on: a class for methods, the *calling* module for
a function imported with ``from x import f``. While a span is open its
Spark job group is ``span-<id>``, so the Spark event log (enabled in traced
runs only) attributes every job, task and shuffle byte to the innermost
span that submitted it. Spans stay in memory until the run ends.

A disabled tracer wraps nothing and records nothing; untraced runs use it.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import statistics
import threading
import time


def percentile(values, q: float) -> float:
    """Linear-interpolation percentile (q in [0, 100]); 0.0 when empty."""
    xs = sorted(values)
    if not xs:
        return 0.0
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def covered(intervals) -> float:
    """Total length of the union of (start, end) intervals."""
    total = 0.0
    end = None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def self_time(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children cover."""
    t0, t1 = span["t0"], span["t1"]
    clipped = [(max(c["t0"], t0), min(c["t1"], t1)) for c in children]
    return (t1 - t0) - covered([iv for iv in clipped if iv[1] > iv[0]])


class Tracer:
    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.sc = None  # a SparkContext: spans then set Spark job groups
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._local = threading.local()
        self._patched: list[tuple] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _set_group(self, sid: int | None) -> None:
        if self.sc is None:
            return
        if sid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        sid = len(self.spans)
        rec = {"id": sid, "parent": stack[-1] if stack else None,
               "name": name, "t0": time.perf_counter(), "t1": None}
        self.spans.append(rec)
        stack.append(sid)
        self._set_group(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            stack.pop()
            self._set_group(stack[-1] if stack else None)

    def wrap(self, owner, attr: str, name: str) -> None:
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def count_calls(self, owner, attr: str, name: str) -> None:
        """Count calls without opening a span (keeps self times intact)."""
        if not self.enabled:
            return
        orig = owner.__dict__[attr] if isinstance(owner, type) \
            else getattr(owner, attr)

        @functools.wraps(orig)
        def counted(*args, **kwargs):
            self.counts[name] = self.counts.get(name, 0) + 1
            return orig(*args, **kwargs)

        setattr(owner, attr, counted)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ---------- queries over recorded spans ----------

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def descendants(self, sid: int) -> list[dict]:
        out, todo = [], [sid]
        while todo:
            kids = self.children(todo.pop())
            out.extend(kids)
            todo.extend(k["id"] for k in kids)
        return out

    def self_s(self, span: dict) -> float:
        return self_time(span, self.children(span["id"]))

    def durations(self, name: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.named(name)]

    def table(self) -> list[tuple]:
        """(name, calls, total_s, self_s, p50_s) per span name."""
        by: dict[str, list[dict]] = {}
        for s in self.spans:
            by.setdefault(s["name"], []).append(s)
        rows = []
        for name, ss in sorted(by.items()):
            d = [s["t1"] - s["t0"] for s in ss]
            rows.append((name, len(ss), sum(d),
                         sum(self.self_s(s) for s in ss),
                         statistics.median(d)))
        return rows


class JobLog:
    """Spark event-log digest: jobs, stages and tasks per span id."""

    def __init__(self, event_dir: str):
        self.job_span: dict[int, int | None] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: dict[int, list[dict]] = {}  # stage id -> task records
        for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
            with open(path) as f:
                for line in f:
                    self._ingest(json.loads(line))

    def _ingest(self, ev: dict) -> None:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            sid = None
            if group and group.startswith("span-"):
                sid = int(group[5:])
            jid = ev["Job ID"]
            self.job_span[jid] = sid
            for st in ev.get("Stage IDs", []):
                self.stage_job[st] = jid
        elif kind == "SparkListenerTaskEnd":
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            self.tasks.setdefault(ev["Stage ID"], []).append({
                "ms": info.get("Finish Time", 0) - info.get("Launch Time", 0),
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Memory Bytes Spilled", 0)
                + m.get("Disk Bytes Spilled", 0),
            })

    def jobs_of(self, span_ids: set[int]) -> list[int]:
        return [j for j, s in self.job_span.items() if s in span_ids]

    def stages_of(self, span_ids: set[int]) -> list[int]:
        jobs = set(self.jobs_of(span_ids))
        return [st for st, j in self.stage_job.items() if j in jobs]

    def total(self, span_ids: set[int], key: str) -> int:
        return sum(t[key] for st in self.stages_of(span_ids)
                   for t in self.tasks.get(st, []))

    def widest_stage_skew(self, span_ids: set[int]) -> float:
        """max / median task time of the stage with the most tasks."""
        stages = [st for st in self.stages_of(span_ids) if self.tasks.get(st)]
        if not stages:
            return 0.0
        st = max(stages, key=lambda s: (len(self.tasks[s]), s))
        ms = [t["ms"] for t in self.tasks[st]]
        med = statistics.median(ms)
        return max(ms) / med if med > 0 else 1.0
