"""In-memory span tracer for the traced benchmark run.

Spans are recorded around the engine's public functions by replacing them,
for the duration of the run, with wrappers: on the defining module, on
every package module that imported the function by name, and on
``IceletTable`` for methods. Work submitted to a ``ThreadPoolExecutor``
while tracing inherits the submitting thread's current span as its parent,
so spans opened by the engine's overlap threads nest under the apply that
started them. Nothing is written until the run ends.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    t0: float
    t1: float

    @property
    def wall(self) -> float:
        return self.t1 - self.t0


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def current(self) -> int | None:
        stack = self._stack()
        return stack[-1] if stack else getattr(self._local, "inherited", None)

    def call(self, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span named ``name``; return its result."""
        parent = self.current()
        sid = next(self._ids)
        stack = self._stack()
        stack.append(sid)
        t0 = time.monotonic()
        try:
            return fn(*args, **kwargs)
        finally:
            t1 = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(Span(sid, parent, name, t0, t1))

    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)))
        setattr(owner, attr, value)

    def wrap_function(self, modules, attr: str, name: str) -> None:
        """Replace ``attr`` in each module that holds the same function."""
        original = getattr(modules[0], attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        for mod in modules:
            if getattr(mod, attr, None) is original:
                self._set(mod, attr, traced)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        original = cls.__dict__[attr]

        @functools.wraps(original)
        def traced(*args, **kwargs):
            return self.call(name, original, *args, **kwargs)

        self._set(cls, attr, traced)

    def propagate_to_threads(self) -> None:
        tracer = self
        original = ThreadPoolExecutor.submit

        def submit(pool, fn, /, *args, **kwargs):
            parent = tracer.current()

            def run(*a, **k):
                tracer._local.inherited = parent
                try:
                    return fn(*a, **k)
                finally:
                    tracer._local.inherited = None

            return original(pool, run, *args, **kwargs)

        self._set(ThreadPoolExecutor, "submit", submit)

    def restore(self) -> None:
        while self._undo:
            owner, attr, value = self._undo.pop()
            setattr(owner, attr, value)

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.t0):
                fh.write(json.dumps(s.__dict__) + "\n")


def self_times(spans: list[Span], kids: dict[int | None, list[Span]]) -> dict[int, float]:
    """Span wall minus the part of its interval covered by its children."""
    out = {}
    for s in spans:
        covered, end = 0.0, s.t0
        for a, b in sorted((max(c.t0, s.t0), min(c.t1, s.t1)) for c in kids.get(s.sid, [])):
            if b <= end:
                continue
            covered += b - max(a, end)
            end = b
        out[s.sid] = s.wall - covered
    return out


def descendants(root: Span, kids: dict[int | None, list[Span]]) -> list[Span]:
    out, todo = [], [root]
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids.get(s.sid, []))
    return out


def instrument(tracer: Tracer) -> None:
    """Wrap the engine's public functions and table methods."""
    import sys

    from game_library_enrichment_etl_spark.cdc import apply as cdc_apply
    from game_library_enrichment_etl_spark.lake import maintenance, snapshot
    from game_library_enrichment_etl_spark.lake.table import IceletTable
    from game_library_enrichment_etl_spark.sources import readers
    from game_library_enrichment_etl_spark.streaming import runner

    package = [m for n, m in sorted(sys.modules.items())
               if n.startswith("game_library_enrichment_etl_spark") and m is not None]
    tracer.wrap_function([readers] + package, "read_change_batch", "sources.read_change_batch")
    tracer.wrap_function([cdc_apply] + package, "apply_batch", "cdc.apply_batch")
    tracer.wrap_function([runner], "tail_segments", "streaming.tail_segments")
    tracer.wrap_function([maintenance], "maybe_compact", "maintenance.maybe_compact")
    tracer.wrap_function([maintenance], "compact", "maintenance.compact")
    tracer.wrap_function([snapshot] + package, "read_snapshot", "lake.read_snapshot")
    tracer.wrap_function([snapshot] + package, "write_snapshot", "lake.write_snapshot")
    for attr in ("read", "lookup", "snapshot", "commit", "write_data_files",
                 "write_data_files_prepartitioned"):
        tracer.wrap_method(IceletTable, attr, f"lake.{attr}")
    tracer.propagate_to_threads()


def event_log_metrics(log_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Job, shuffle, spill and skew figures from a Spark event log, limited
    to jobs submitted and tasks launched inside ``windows`` (epoch seconds).
    Skew is the max over the median task run time of the multi-task stage
    with the largest summed run time."""

    def inside(ms) -> bool:
        t = ms / 1000.0
        return any(a <= t <= b for a, b in windows)

    jobs = shuffle = spill = 0
    stage_tasks: dict[tuple[int, int], list[float]] = {}
    paths = sorted(os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
                   if f.startswith("events_"))
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart" and inside(ev.get("Submission Time", 0)):
                    jobs += 1
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    if not inside(info.get("Launch Time", 0)):
                        continue
                    shuffle += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    key = (ev.get("Stage ID", -1), ev.get("Stage Attempt ID", 0))
                    stage_tasks.setdefault(key, []).append(m.get("Executor Run Time", 0) / 1000.0)
    skew = 0.0
    multi = [ts for ts in stage_tasks.values() if len(ts) > 1]
    if multi:
        largest = max(multi, key=sum)
        med = sorted(largest)[len(largest) // 2]
        skew = max(largest) / med if med > 0 else 1.0
    return {"jobs": jobs, "shuffle_write_bytes": shuffle, "spill_bytes": spill, "task_skew": skew}
