"""Spans around the engine's layer boundaries, recorded from outside.

``Tracer.install`` wraps the public methods of each layer class in place
(``ControlTable``, ``FileSource``, both file sinks, ``WindowPipeline``)
and ``Tracer.uninstall`` puts the originals back, so the program itself
carries no tracing code. Calls the engine makes through ``self`` (for
example ``claim`` → ``update_where`` → ``read``) are seen too, which is
what makes nested spans and self time possible.

A span is ``(name, start, end, parent, op)``: ``parent`` is the index of
the enclosing span, ``op`` the id of the benchmark operation it belongs
to. Spans stay in memory until the run ends. The tracer also times its
own bookkeeping, so a traced run can say how much of its wall time the
tracer itself took.
"""

from __future__ import annotations

import functools
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass

from bench import _dir_bytes

#: (layer, module, class, methods). Span names are ``<layer>.<method>``.
LAYERS = (
    (
        "control_table",
        "data_pipeline_001_spark.plans.control_table",
        "ControlTable",
        (
            "read", "append_records", "update_where", "claim", "complete_stage",
            "fail_stage", "reset_after_audit_mismatch", "reset_stale_in_progress",
            "delete_records", "merge_audit_results",
        ),
    ),
    (
        "source",
        "data_pipeline_001_spark.sources.file_connectors",
        "FileSource",
        ("count", "extract"),
    ),
    (
        "sink",
        "data_pipeline_001_spark.sources.file_connectors",
        "PartitionedParquetSink",
        ("load", "count", "exists", "clean", "read_all"),
    ),
    (
        "sink",
        "data_pipeline_001_spark.sources.file_connectors",
        "DayPartitionedTableSink",
        ("load", "load_all", "count", "exists", "clean", "read_all"),
    ),
    (
        "pipeline",
        "data_pipeline_001_spark.plans.pipeline",
        "WindowPipeline",
        ("run", "run_window", "run_batch", "populate", "validate_in_progress",
         "pending_records"),
    ),
)

#: control-table methods that can rewrite the table; the tracer sizes the
#: table directory after each one that did
REWRITES = {
    "append_records", "update_where", "merge_audit_results", "delete_records",
    "reset_stale_in_progress",
}


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int | None


def _inode(path: str) -> int | None:
    try:
        return os.stat(path).st_ino
    except FileNotFoundError:
        return None


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.bytes_rewritten = 0
        self.bookkeeping_s = 0.0
        self.op: int | None = None
        self._stack: list[int] = []
        self._saved: list[tuple[type, str, object]] = []

    # -- recording ---------------------------------------------------------

    def open(self, name: str) -> int:
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, 0.0, 0.0, parent, self.op))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        self.spans[idx].start = time.perf_counter()
        self.bookkeeping_s += self.spans[idx].start - t
        return idx

    def close(self, idx: int) -> None:
        end = time.perf_counter()
        self.spans[idx].end = end
        self._stack.pop()
        self.bookkeeping_s += time.perf_counter() - end

    @contextmanager
    def span(self, name: str):
        idx = self.open(name)
        try:
            yield
        finally:
            self.close(idx)

    def _wrap(self, name: str, fn, rewrites: bool):
        tracer = self

        @functools.wraps(fn)
        def traced(obj, *args, **kwargs):
            before = _inode(obj.path) if rewrites else None
            idx = tracer.open(name)
            try:
                return fn(obj, *args, **kwargs)
            finally:
                tracer.close(idx)
                # the control table swaps in a new directory on every
                # rewrite; a call that wrote nothing keeps the old one
                if rewrites and _inode(obj.path) != before:
                    t = time.perf_counter()
                    tracer.bytes_rewritten += _dir_bytes(obj.path)
                    tracer.bookkeeping_s += time.perf_counter() - t

        return traced

    def install(self) -> None:
        import importlib

        for layer, module, cls_name, methods in LAYERS:
            cls = getattr(importlib.import_module(module), cls_name)
            for m in methods:
                orig = cls.__dict__[m]
                self._saved.append((cls, m, orig))
                rewrites = layer == "control_table" and m in REWRITES
                setattr(cls, m, self._wrap(f"{layer}.{m}", orig, rewrites))

    def uninstall(self) -> None:
        for cls, m, orig in reversed(self._saved):
            setattr(cls, m, orig)
        self._saved.clear()

    # -- reading -----------------------------------------------------------

    def named(self, name: str) -> list[Span]:
        """Spans called ``name`` that are not nested in another span of
        the same name (so busy time never counts an interval twice)."""
        out = []
        for s in self.spans:
            if s.name != name:
                continue
            p = s.parent
            while p is not None and self.spans[p].name != name:
                p = self.spans[p].parent
            if p is None:
                out.append(s)
        return out

    def calls(self, name: str) -> int:
        return sum(1 for s in self.spans if s.name == name)

    def busy_s(self, name: str) -> float:
        return sum(s.end - s.start for s in self.named(name))

    def self_s(self, name: str) -> float:
        """Σ over spans called ``name`` of duration minus the time their
        direct children cover (children run one after another)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + s.end - s.start
        return sum(
            s.end - s.start - child_time.get(i, 0.0)
            for i, s in enumerate(self.spans)
            if s.name == name
        )

    def p50_s(self, name: str) -> float:
        durations = [s.end - s.start for s in self.spans if s.name == name]
        return statistics.median(durations) if durations else 0.0
