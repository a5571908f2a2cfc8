"""Spans around calls into the engine, Spark job groups, event-log counters.

Spans are recorded from the benchmark's own files: around the calls it makes,
and around engine functions it rebinds for the traced run only (module or
class attributes, restored afterwards; no engine file changes). Each span
sets a Spark job group on the calling thread, so jobs and stages in the
event log are attributed to the innermost span that launched them.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import pathlib
import statistics
import threading
import time
from dataclasses import dataclass, field

GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "pb-"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


def _set_group(group: str | None) -> None:
    from pyspark import SparkContext

    sc = SparkContext._active_spark_context
    if sc is not None:
        sc.setLocalProperty(GROUP_KEY, group)


class Tracer:
    """In-memory span recorder. Disabled, ``span`` costs one branch."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._patched: list[tuple[object, str, object]] = []
        self.t0 = time.perf_counter()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sp = Span(next(self._ids), name, 0.0, parent=parent and parent.id,
                      op=op if op is not None else (parent and parent.op),
                      attrs=attrs)
        stack.append(sp)
        _set_group(f"{GROUP_PREFIX}{sp.id}")
        sp.start = time.perf_counter() - self.t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter() - self.t0
            stack.pop()
            _set_group(f"{GROUP_PREFIX}{parent.id}" if parent else None)
            with self._lock:
                self.spans.append(sp)

    def wrap(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Rebind ``owner.attr`` to a traced wrapper until ``unwrap_all``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*a, **kw):
            extra = attrs_fn(*a, **kw) if attrs_fn else {}
            with tracer.span(name, **extra):
                return orig(*a, **kw)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: pathlib.Path) -> None:
        path.write_text(json.dumps([
            {"id": s.id, "name": s.name, "start": round(s.start, 6),
             "end": round(s.end, 6), "parent": s.parent, "op": s.op,
             "self": round(self_time(s, self.spans), 6), **s.attrs}
            for s in sorted(self.spans, key=lambda s: s.start)
        ]))


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of it that child spans cover."""
    kids = sorted((c.start, c.end) for c in spans if c.parent == span.id)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in kids:
        s, e = max(s, span.start), min(e, span.end)
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.dur - covered


# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------

COUNTERS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
            "gc_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
            "input_mb", "task_skew")


@dataclass
class StageStat:
    group: str | None
    tasks: int = 0
    run_ms: list = field(default_factory=list)
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input: int = 0


def read_event_logs(log_dir: pathlib.Path) -> tuple[dict, dict]:
    """Parse every uncompressed event log under ``log_dir``.

    Returns (jobs, stages): job key -> group, stage key -> StageStat, keyed
    by (log file's app, id) since ids restart with each SparkContext.
    """
    jobs: dict = {}
    stages: dict = {}
    for f in sorted(p for p in log_dir.rglob("*") if p.is_file()):
        app = f.parent.name if f.parent != log_dir else f.name
        with f.open() as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a line cut short by a stopped context
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[(app, ev["Job ID"])] = props.get(GROUP_KEY)
                elif kind == "SparkListenerStageSubmitted":
                    props = ev.get("Properties") or {}
                    sid = ev["Stage Info"]["Stage ID"]
                    stages.setdefault((app, sid), StageStat(props.get(GROUP_KEY)))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault((app, ev["Stage ID"]), StageStat(None))
                    m = ev.get("Task Metrics") or {}
                    st.tasks += 1
                    st.run_ms.append(m.get("Executor Run Time", 0))
                    st.cpu_ns += m.get("Executor CPU Time", 0)
                    st.gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    st.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    st.spill += m.get("Disk Bytes Spilled", 0)
                    st.input += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    return jobs, stages


def counters_by_group(jobs: dict, stages: dict) -> dict[str | None, dict]:
    out: dict[str | None, dict] = {}

    def bucket(g):
        return out.setdefault(g, {"jobs": 0, "stages": []})

    for g in jobs.values():
        bucket(g)["jobs"] += 1
    for st in stages.values():
        if st.tasks:
            bucket(st.group)["stages"].append(st)
    return out


def summarize(buckets: list[dict]) -> dict[str, float]:
    """Spark counters over a set of group buckets."""
    stages = [st for b in buckets for st in b["stages"]]
    mb = 1024.0 * 1024.0
    longest = max(stages, key=lambda s: sum(s.run_ms), default=None)
    skew = 0.0
    if longest is not None and longest.run_ms:
        med = statistics.median(longest.run_ms)
        skew = max(longest.run_ms) / med if med > 0 else 1.0
    return {
        "jobs": sum(b["jobs"] for b in buckets),
        "stages": len(stages),
        "tasks": sum(s.tasks for s in stages),
        "executor_run_s": sum(sum(s.run_ms) for s in stages) / 1e3,
        "executor_cpu_s": sum(s.cpu_ns for s in stages) / 1e9,
        "gc_s": sum(s.gc_ms for s in stages) / 1e3,
        "shuffle_read_mb": sum(s.shuffle_read for s in stages) / mb,
        "shuffle_write_mb": sum(s.shuffle_write for s in stages) / mb,
        "spill_mb": sum(s.spill for s in stages) / mb,
        "input_mb": sum(s.input for s in stages) / mb,
        "task_skew": skew,
    }


def subtree_groups(spans: list[Span], roots: list[Span]) -> list[str]:
    """Job-group ids of ``roots`` and all their descendants."""
    kids: dict[int, list[int]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append(s.id)
    out, todo = [], [r.id for r in roots]
    while todo:
        sid = todo.pop()
        out.append(f"{GROUP_PREFIX}{sid}")
        todo.extend(kids.get(sid, ()))
    return out
