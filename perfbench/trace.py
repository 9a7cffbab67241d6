"""In-memory spans, Spark job-group tagging and event-log folding.

A traced run wraps the public functions under the CLI verbs in spans.
Each span tags the Spark jobs its thread starts with a job group of its
own, so the task metrics in Spark's event log can be attributed to the
innermost span that caused them. Spans stay in memory until the run
ends; the event log is read once, after the SparkContext has stopped
and flushed it.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
COUNTERS = ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes",
            "input_rows", "output_rows")


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    end: float = 0.0
    group: str = ""

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Records spans; ``sc`` (a SparkContext) is used to set job groups."""

    sc: object = None
    spans: list[Span] = field(default_factory=list)
    _local: threading.local = field(default_factory=threading.local)
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _patches: list = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module, class or instance attribute)
        with a spanned version; ``unwrap_all`` restores it."""
        raw = vars(owner).get(attr)  # None: an attribute of the class, not the instance
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        self._patches.append((owner, attr, raw))

    def unwrap_all(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            if raw is None:
                delattr(owner, attr)
            else:
                setattr(owner, attr, raw)
        self._patches.clear()

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it its children's spans cover."""
        return span.duration - covered(
            [(c.start, c.end) for c in self.spans if c.parent == span.id])


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur = 0.0, None
    for s, e in sorted(intervals):
        if cur is None or s > cur[1]:
            total += 0 if cur is None else cur[1] - cur[0]
            cur = [s, e]
        else:
            cur[1] = max(cur[1], e)
    return total + (0 if cur is None else cur[1] - cur[0])


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.t, self.name = tracer, name

    def __enter__(self) -> Span:
        t = self.t
        stack = getattr(t._local, "stack", None)
        if stack is None:
            stack = t._local.stack = []
        with t._lock:
            sp = Span(len(t.spans), self.name, time.time(),
                      stack[-1].id if stack else None)
            t.spans.append(sp)
        sp.group = f"perfbench-{sp.id}"
        if t.sc is not None:
            self.prev = t.sc.getLocalProperty(GROUP_KEY)
            t.sc.setLocalProperty(GROUP_KEY, sp.group)
        stack.append(sp)
        self.sp = sp
        return sp

    def __exit__(self, *exc) -> None:
        self.sp.end = time.time()
        self.t._local.stack.pop()
        if self.t.sc is not None:
            self.t.sc.setLocalProperty(GROUP_KEY, self.prev)


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group over every event log in
    ``log_dir`` (uncompressed, unrolled JSON lines)."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str) -> dict[str, float]:
        return out.setdefault(group, dict.fromkeys(COUNTERS, 0.0))

    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get(GROUP_KEY) or ""
                    acc(group)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    a = acc(stage_group.get(ev.get("Stage ID"), ""))
                    a["tasks"] += 1
                    a["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    a["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0)
                    a["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    a["output_rows"] += (m.get("Output Metrics") or {}).get(
                        "Records Written", 0)
    return out
