"""Spans around pompspark's public functions, and the Spark task metrics
of each span from the event log.

``Tracer.install()`` replaces each function in ``TARGETS`` with a
wrapper that records a span (name, parent, start, end, returned count)
in memory and tags every Spark job the call starts with the job group
``<name>#<span id>``. With ``spark.eventLog.*`` writing to a local
directory, ``event_log`` then attributes each task to the span
whose call started its job. The originals are restored when the
``with`` block exits.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass

import pompspark.frontier as frontier_mod
from pompspark.engine import CrawlEngine
from pompspark.frontier import FrontierStore
from pompspark.seen import SeenFilter
from pompspark.tables import Catalog

TARGETS = [
    (frontier_mod, "materialize_batch", "frontier.materialize_batch"),
    (frontier_mod, "dequeue_banded", "frontier.dequeue_banded"),
    (FrontierStore, "append_delta", "FrontierStore.append_delta"),
    (FrontierStore, "index_append", "FrontierStore.index_append"),
    (FrontierStore, "compact", "FrontierStore.compact"),
    (Catalog, "append_with", "Catalog.append_with"),
    (Catalog, "append_rows", "Catalog.append_rows"),
    (Catalog, "append_dir", "Catalog.append_dir"),
    (SeenFilter, "add", "SeenFilter.add"),
    (SeenFilter, "compact", "SeenFilter.compact"),
    (SeenFilter, "maybe_compact", "SeenFilter.maybe_compact"),
    (CrawlEngine, "run_round", "CrawlEngine.run_round"),
    (CrawlEngine, "seed", "CrawlEngine.seed"),
]


@dataclass
class Span:
    sid: int
    parent: int | None
    name: str
    start: float  # time.monotonic()
    end: float
    count: int | None  # the int the call returned (rows, urls), if any

    @property
    def dur(self) -> float:
        return self.end - self.start


def _count(result) -> int | None:
    if isinstance(result, tuple) and result and isinstance(result[0], int):
        result = result[0]
    return result if isinstance(result, int) and not isinstance(result, bool) else None


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()

    def _stack(self) -> list[tuple[int, str]]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _set_group(self, frame: tuple[int, str] | None) -> None:
        if frame is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"{frame[1]}#{frame[0]}", frame[1])

    def _wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = self._stack()
            parent = stack[-1] if stack else None
            frame = (next(self._ids), name)
            stack.append(frame)
            self._set_group(frame)
            result = None
            t0 = time.monotonic()
            try:
                result = fn(*args, **kwargs)
                return result
            finally:
                t1 = time.monotonic()
                stack.pop()
                self._set_group(parent)
                self.spans.append(Span(frame[0], parent and parent[0], name,
                                       t0, t1, _count(result)))

        return traced

    @contextlib.contextmanager
    def install(self):
        originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in TARGETS]
        try:
            for (owner, attr, name), (_, _, fn) in zip(TARGETS, originals):
                setattr(owner, attr, self._wrap(name, fn))
            yield self
        finally:
            for owner, attr, fn in originals:
                setattr(owner, attr, fn)

    # ---------------------------------------------------------- queries
    def by_id(self) -> dict[int, Span]:
        return {s.sid: s for s in self.spans}

    def ancestors(self, sid: int, index: dict[int, Span]):
        """``sid``, its parent, and so on up to its root span."""
        while sid is not None:
            yield sid
            sid = index[sid].parent

    def layer(self, round_sid: int, names: set[str]) -> list[Span]:
        """Spans named in ``names`` under ``round_sid`` that have no
        ancestor also named in ``names`` (so nested calls of one layer
        are not counted twice)."""
        index = self.by_id()
        out = []
        for s in self.spans:
            if s.name not in names:
                continue
            up = list(self.ancestors(s.parent, index))
            if (s.sid == round_sid or round_sid in up) and not any(
                    index[p].name in names for p in up):
                out.append(s)
        return out

    def children(self, sid: int) -> list[Span]:
        return [s for s in self.spans if s.parent == sid]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


def _events(log_dir: str):
    """Events of every event-log file under ``log_dir`` (Spark writes
    a rolling ``eventlog_v2_*`` directory of ``events_*`` files)."""
    for d, _, files in sorted(os.walk(log_dir)):
        for fn in sorted(files, key=lambda f: [int(p) if p.isdigit() else p
                                               for p in f.split("_")]):
            with open(os.path.join(d, fn)) as f:
                for line in f:
                    if line.startswith("{"):
                        yield json.loads(line)


def event_log(log_dir: str) -> tuple[dict[str, int], dict[str, list[dict]]]:
    """(job group id -> Spark jobs started under it, job group id ->
    task-end records of every stage its jobs ran). A stage shared by
    several jobs is counted once, for the first."""
    group_of_job: dict[int, str | None] = {}
    stage_job: dict[int, int] = {}
    jobs: dict[str, int] = {}
    tasks: list[dict] = []
    for ev in _events(log_dir):
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jid = ev["Job ID"]
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            group_of_job[jid] = group
            if group:
                jobs[group] = jobs.get(group, 0) + 1
            for st in ev.get("Stage IDs", []):
                stage_job.setdefault(st, jid)
        elif kind == "SparkListenerTaskEnd":
            tasks.append(ev)
    by_group: dict[str, list[dict]] = {}
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        group = group_of_job.get(jid) if jid is not None else None
        if group:
            by_group.setdefault(group, []).append(ev)
    return jobs, by_group


def task_digest(evs: list[dict]) -> dict[str, float]:
    """Sum of executor run time, GC time, shuffle and spill bytes,
    input/output bytes; max/median task time; retried tasks."""
    times, d = [], dict.fromkeys(
        ["task_s", "gc_s", "shuffle_bytes", "spill_bytes", "input_bytes",
         "output_bytes", "tasks_retried"], 0.0)
    for ev in evs:
        info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1000.0
        times.append(run_s)
        d["task_s"] += run_s
        d["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
        d["shuffle_bytes"] += (sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                               + sw.get("Shuffle Bytes Written", 0))
        d["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
        d["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
        d["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
        d["tasks_retried"] += bool(info.get("Attempt", 0) or info.get("Speculative"))
    med = statistics.median(times) if times else 0.0
    d["task_skew"] = max(times) / med if med > 0 else 1.0
    return d
