"""Span tracing around the engine's public calls, from the benchmark side.

``Tracer.patched()`` wraps ``jobs.ingest``, ``jobs.validate``,
``LakeTable.stage_delta`` / ``commit_staged_delta`` / ``compact`` /
``read`` / ``lookup`` / ``scan_changes`` and
``LineageStore.record_batch``; the benchmark wraps its own calls of the
corpus ``QUERIES[...]`` entries with ``Tracer.span``. The package is not
edited: the wrappers are installed on the classes and module for the
traced run only and removed afterwards.

Each span records name, start, end, parent, thread and run id; spans stay
in memory until the run writes its detail file. Every span also sets
``spark.job.description`` to ``pb:<span id>`` in its own thread, so the
Spark event log attributes each job's shuffle, spill and I/O bytes to the
innermost open span of the thread that launched it. ``stage_delta`` runs
on ``ingest``'s pool threads, which is why the description is set per
thread and restored on exit.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass

DESC_KEY = "spark.job.description"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    thread: str = ""
    run_id: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._root: list[Span] = []  # open spans of the thread that installed the tracer
        self._main = threading.get_ident()

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str):
        stack = self._stack()
        # a pool thread's first span hangs off the innermost open span of
        # the installing thread (ingest's staging workers -> jobs.ingest)
        parent = stack[-1] if stack else (self._root[-1] if self._root else None)
        with self._lock:
            sp = Span(len(self.spans), name, 0.0, parent=parent.id if parent else None,
                      thread=threading.current_thread().name, run_id=self.run_id)
            self.spans.append(sp)
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty(DESC_KEY)
        sc.setLocalProperty(DESC_KEY, f"pb:{sp.id}")
        stack.append(sp)
        if threading.get_ident() == self._main:
            self._root.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if threading.get_ident() == self._main:
                self._root.pop()
            sc.setLocalProperty(DESC_KEY, prev)

    def wrap(self, name: str, fn, before=None, after=None):
        """``fn`` inside a span; ``before(args)`` runs first (outside the
        span) and its value reaches ``after(span, args, result, value)``."""

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            pre = before(args) if before is not None else None
            with self.span(name) as sp:
                out = fn(*args, **kwargs)
            if after is not None:
                after(sp, args, out, pre)
            return out

        return wrapper

    @contextlib.contextmanager
    def patched(self, targets: list[tuple]):
        """Install wrappers: ``(owner, attribute, span name, before, after)``."""
        saved = []
        try:
            for owner, attr, name, before, after in targets:
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self.wrap(name, orig, before, after))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    # ------------------------------------------------------------ rollups
    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.id]

    def self_time(self, sp: Span) -> tuple[float, float]:
        """(covered, self): the part of ``sp`` its children's union covers,
        and the rest. Children overlap (staging runs two deep), so the
        union is taken, not the sum; covered + self == duration."""
        ivs = sorted((max(c.start, sp.start), min(c.end, sp.end)) for c in self.children(sp))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return covered, sp.dur - covered


def event_log_counters(log_dir: str) -> dict[int, dict[str, int]]:
    """Per span id: shuffle write, spill and input/output bytes of every
    task whose stage was submitted under that span's job description."""
    stage_span: dict[tuple[int, int], int] = {}
    out: dict[int, dict[str, int]] = defaultdict(lambda: defaultdict(int))
    # Spark 4 writes ``eventlog_v2_<app>/events_<n>_<app>`` (rolling layout)
    for path in sorted(glob.glob(f"{log_dir}/**/events_*", recursive=True)):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:  # a line still being written
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerStageSubmitted":
                    desc = (ev.get("Properties") or {}).get(DESC_KEY) or ""
                    if desc.startswith("pb:"):
                        si = ev["Stage Info"]
                        stage_span[(si["Stage ID"], si["Stage Attempt ID"])] = int(desc[3:])
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get((ev["Stage ID"], ev["Stage Attempt ID"]))
                    tm = ev.get("Task Metrics")
                    if sid is None or not tm:
                        continue
                    c = out[sid]
                    c["shuffle_bytes"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    c["spill_bytes"] += tm["Disk Bytes Spilled"]
                    c["input_bytes"] += tm["Input Metrics"]["Bytes Read"]
                    c["output_bytes"] += tm["Output Metrics"]["Bytes Written"]
                    c["tasks"] += 1
    return out
