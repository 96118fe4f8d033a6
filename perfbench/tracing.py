"""Tracing from outside the program: spans, py4j and Spark job counts,
and on-disk storage accounting.

Spans are recorded around calls into the package's public functions by
rebinding every module-level reference to each function (the package's
modules hold their own references through from-imports, so rebinding
only the defining module would miss most callers). Spans stay in memory
and are written as JSON lines when the run ends.

A span's parent is the span active in the calling context. The context
is a ``contextvars`` variable, so a thunk submitted to a thread pool is
linked to its parent only when the pool is handed a copied context;
``propagate_context`` wraps a function that runs thunks in threads so
that each thunk runs in a copy of the caller's context.
"""

from __future__ import annotations

import contextvars
import functools
import itertools
import json
import os
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "weather_etl_pipeline_spark"


@dataclass
class Span:
    id: int
    parent: int | None
    op: int | None
    name: str
    t0: float
    t1: float = 0.0
    result: int | None = None
    jobs: int | None = None
    stages: int | None = None
    tasks: int | None = None

    @property
    def duration(self) -> float:
        return self.t1 - self.t0


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


@dataclass
class Tracer:
    """Span recorder. ``enabled`` gates recording, so wrappers can stay
    installed while alternate operations run untraced."""

    enabled: bool = False
    spans: list[Span] = field(default_factory=list)
    py4j_calls: int = 0
    _ids: itertools.count = field(default_factory=lambda: itertools.count(1))
    _lock: threading.Lock = field(default_factory=threading.Lock)
    _current: contextvars.ContextVar = field(
        default_factory=lambda: contextvars.ContextVar("perfbench_span", default=None)
    )
    _restore: list[tuple[object, str, object]] = field(default_factory=list)
    job_ids = None  # callable returning the set of Spark job ids so far

    @contextmanager
    def span(self, name: str, op: int | None = None, count_jobs: bool = False):
        if not self.enabled:
            yield None
            return
        parent = self._current.get()
        sp = Span(
            id=next(self._ids),
            parent=parent.id if parent else None,
            op=op if op is not None else (parent.op if parent else None),
            name=name,
            t0=time.perf_counter(),
        )
        jobs_before = self.job_ids() if count_jobs and self.job_ids else None
        token = self._current.set(sp)
        try:
            yield sp
        finally:
            sp.t1 = time.perf_counter()
            self._current.reset(token)
            if jobs_before is not None:
                sp.jobs = len(self.job_ids() - jobs_before)
            with self._lock:
                self.spans.append(sp)

    # --- wrapping ----------------------------------------------------------

    def wrap(self, func, name: str) -> None:
        """Record a span named ``name`` around every call of ``func``,
        rebinding each module-level reference to it in the package."""

        @functools.wraps(func)
        def traced(*args, **kwargs):
            if not self.enabled:
                return func(*args, **kwargs)
            with self.span(name) as sp:
                out = func(*args, **kwargs)
                if isinstance(out, int) and not isinstance(out, bool):
                    sp.result = out
                return out

        self._rebind(func, traced)

    def propagate_context(self, func) -> None:
        """Rebind ``func(*thunks)`` so every thunk runs in a copy of the
        caller's context (child spans then link to the caller's span)."""

        @functools.wraps(func)
        def linked(*thunks):
            return func(*(functools.partial(contextvars.copy_context().run, t)
                          for t in thunks))

        self._rebind(func, linked)

    def _rebind(self, old, new) -> None:
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(PACKAGE):
                continue
            for attr, value in list(vars(mod).items()):
                if value is old:
                    setattr(mod, attr, new)
                    self._restore.append((mod, attr, old))

    def count_py4j(self, spark) -> None:
        """Count every py4j command the driver sends to the JVM."""
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted(*args, **kwargs):
            with self._lock:
                self.py4j_calls += 1
            return send(*args, **kwargs)

        client.send_command = counted
        self._restore.append((client, "send_command", send))

    def count_jobs_with(self, spark) -> None:
        tracker = spark.sparkContext.statusTracker()
        self.job_ids = lambda: set(tracker.getJobIdsForGroup(None) or [])

    def uninstall(self) -> None:
        for obj, attr, old in reversed(self._restore):
            if attr == "send_command":
                delattr(obj, attr)  # drop the instance override
            else:
                setattr(obj, attr, old)
        self._restore.clear()

    # --- reading spans -----------------------------------------------------

    def per_op(self, name: str, ops: set[int]) -> list[Span]:
        return [s for s in self.spans if s.name == name and s.op in ops]

    def self_time(self, span: Span) -> float:
        kids = [(c.t0, c.t1) for c in self.spans if c.parent == span.id]
        return span.duration - covered(kids)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.t0):
                f.write(json.dumps(s.__dict__ | {"duration": s.duration}) + "\n")


def job_shape(spark, job_ids: set[int]) -> tuple[int, int]:
    """(stages, tasks) of the given Spark jobs, from the status tracker."""
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for j in job_ids:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for s in info.stageIds:
            st = tracker.getStageInfo(s)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return stages, tasks


# --- storage accounting ----------------------------------------------------

_LEASE_STEM = ".__lease."


def _label_of(top: str, labels: dict[str, str]) -> str | None:
    """Directory label a top-level entry belongs to; lease sidecars
    (``<dir>.__lease.*`` and their hidden temp files) count toward the
    directory they guard."""
    base = top.lstrip(".").split(_LEASE_STEM, 1)[0]
    return labels.get(base)


class StorageMeter:
    """Files and bytes under a root, per labelled top-level directory.
    ``labels`` maps a directory name under ``root`` to its label."""

    def __init__(self, root: str, labels: dict[str, str]):
        self.root = root
        self.labels = labels
        self.prev: dict[str, tuple[int, int]] = {}
        self.prev_leases: dict[str, int] = {}

    def _walk(self) -> dict[str, tuple[int, int]]:
        out: dict[str, tuple[int, int]] = {}
        if not os.path.isdir(self.root):
            return out
        for dirpath, _, files in os.walk(self.root):
            for f in files:
                p = os.path.join(dirpath, f)
                try:
                    st = os.stat(p)
                except FileNotFoundError:
                    continue
                out[os.path.relpath(p, self.root)] = (st.st_mtime_ns, st.st_size)
        return out

    def step(self) -> dict[str, dict[str, int]]:
        """Per label: files and bytes written since the last step (new
        or rewritten files), the change in the number of lease sidecars
        present (the ones left behind), and totals."""
        cur = self._walk()
        stats = {
            lab: {"files_written": 0, "bytes_written": 0, "lease_files_left": 0,
                  "files": 0, "bytes": 0}
            for lab in self.labels.values()
        }
        leases: dict[str, int] = {}
        for rel, (mtime, size) in cur.items():
            top = rel.split(os.sep, 1)[0]
            lab = _label_of(top, self.labels)
            if lab is None:
                continue
            s = stats[lab]
            s["files"] += 1
            s["bytes"] += size
            if _LEASE_STEM in os.path.basename(rel):
                leases[lab] = leases.get(lab, 0) + 1
            if self.prev.get(rel) != (mtime, size):
                s["files_written"] += 1
                s["bytes_written"] += size
        self.prev = cur
        for lab, s in stats.items():
            s["lease_files_left"] = leases.get(lab, 0) - self.prev_leases.get(lab, 0)
        self.prev_leases = leases
        return stats
