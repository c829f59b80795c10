"""Spans around the package's public functions, installed from outside.

The traced run replaces selected functions and methods of the package
with wrappers that record a span (name, start, end, parent, op id)
and restore the originals afterwards; the package itself is not
edited. Spans are kept in memory and written out when the run ends.

Spans marked ``group=True`` also tag the Spark jobs they start: the
wrapper sets the ``spark.jobGroup.id`` local property to the span's
index on entry and restores the enclosing value on exit, so the event
log attributes every job to its innermost tagged span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

JOB_GROUP = "spark.jobGroup.id"


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None
    group: bool


def targets(pkg: str) -> list[tuple[str, str, str, bool]]:
    """(module, attribute path, span name, tags jobs) for each wrapped call.

    Module-level functions are patched where the caller looks them up
    (``runner`` imports the step functions by name, ``cdc`` imports
    ``merge_into``), methods on their class.
    """
    return [
        (f"{pkg}.pipeline.runner", "MedallionPipeline.run_once", "pipeline.run_once", True),
        (f"{pkg}.pipeline.runner", "ingest_raw_to_bronze", "ingest.step", True),
        (f"{pkg}.pipeline.ingest", "HadoopIncrementalFileSource.new_files", "ingest.list", False),
        (f"{pkg}.pipeline.ingest", "read_csv_batch", "ingest.read_csv", True),
        (f"{pkg}.pipeline.runner", "bronze_to_silver", "cdc.step", True),
        (f"{pkg}.pipeline.cdc", "merge_into", "merge", True),
        (f"{pkg}.lakehouse.table", "Table.append", "table.append", True),
        (f"{pkg}.lakehouse.table", "Table.replace_files", "table.replace_files", True),
        (f"{pkg}.lakehouse.table", "Table.read_incremental", "table.read_incremental", True),
        (f"{pkg}.lakehouse.table", "Table.snapshots", "table.snapshots", False),
        (f"{pkg}.lakehouse.table", "Table.current_snapshot", "table.current_snapshot", False),
        (f"{pkg}.lakehouse.sql", "SqlSession.sql", "sql.dispatch", True),
    ]


class Tracer:
    """Span recorder. ``install`` patches the targets; ``uninstall``
    puts the originals back."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: int | None = None
        # time spent in span bookkeeping, outside the wrapped calls
        self.overhead_s = 0.0
        # (owner, attribute, original, whether owner defined it itself)
        self._patched: list[tuple[object, str, object, bool]] = []

    # -- spans -----------------------------------------------------------
    def _group_of(self, idx: int | None) -> str | None:
        while idx is not None:
            if self.spans[idx].group:
                return f"span{idx}"
            idx = self.spans[idx].parent
        return None

    @contextmanager
    def span(self, name: str, group: bool = False):
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        span = Span(name, 0.0, 0.0, parent, self._op, group)
        self.spans.append(span)
        self._stack.append(idx)
        if group:
            self.sc.setLocalProperty(JOB_GROUP, f"span{idx}")
        span.start = time.perf_counter()
        self.overhead_s += span.start - t0
        try:
            yield idx
        finally:
            span.end = time.perf_counter()
            self._stack.pop()
            if group:
                self.sc.setLocalProperty(JOB_GROUP, self._group_of(parent))
            self.overhead_s += time.perf_counter() - span.end

    @contextmanager
    def op(self, op_id: int, kind: str):
        """Top-level span of one timed operation."""
        self._op = op_id
        try:
            with self.span(f"op.{kind}", group=True) as idx:
                yield idx
        finally:
            self._op = None

    # -- patching --------------------------------------------------------
    def _wrap(self, fn, name: str, group: bool):
        def wrapper(*args, **kwargs):
            with self.span(name, group):
                return fn(*args, **kwargs)

        wrapper.__wrapped__ = fn
        return wrapper

    def install(self, pkg: str) -> None:
        import importlib

        for module, path, name, group in targets(pkg):
            owner = importlib.import_module(module)
            *outer, attr = path.split(".")
            for part in outer:
                owner = getattr(owner, part)
            fn = getattr(owner, attr)
            self._patched.append((owner, attr, fn, attr in vars(owner)))
            setattr(owner, attr, self._wrap(fn, name, group))

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, fn, own = self._patched.pop()
            if own:
                setattr(owner, attr, fn)
            else:
                delattr(owner, attr)  # inherited: uncover the base's

    # -- analysis --------------------------------------------------------
    def self_times(self) -> list[float]:
        """Span duration minus the time its direct children cover
        (children of one span never overlap: one caller thread)."""
        own = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                own[s.parent] -= s.end - s.start
        return own

    def by_name(self) -> dict[str, dict]:
        """Per span name: calls, inclusive seconds, self seconds."""
        out: dict[str, dict] = {}
        for s, own in zip(self.spans, self.self_times()):
            d = out.setdefault(s.name, {"calls": 0, "s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["s"] += s.end - s.start
            d["self_s"] += own
        return out

    def ancestors(self, idx: int):
        while idx is not None:
            yield idx
            idx = self.spans[idx].parent

    def records(self) -> list[dict]:
        return [
            {
                "id": i,
                "name": s.name,
                "start": round(s.start, 6),
                "end": round(s.end, 6),
                "parent": s.parent,
                "op": s.op,
            }
            for i, s in enumerate(self.spans)
        ]
