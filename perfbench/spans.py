"""In-memory spans recorded around the calls the benchmark makes into each
layer of the library.

Spans are recorded from the benchmark's own code only: ``wrap_layers``
replaces the public reader/writer/stream entry points on their modules
before the query registry imports them, so every call a query makes goes
through a wrapper that opens a span. Spans are kept in a list and written
out once, when the run ends.
"""

from __future__ import annotations

import functools
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: "int | None" = None
    op: "str | None" = None
    wall_start: float = 0.0  # time.time(), to line spans up with the event log

    @property
    def duration(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    spans: "list[Span]" = field(default_factory=list)
    op: "str | None" = None
    # bytes and files found under the path a writer was given, per op
    written: "dict[str, list[int]]" = field(default_factory=dict)
    _stack: "list[int]" = field(default_factory=list)
    _thread: int = field(default_factory=threading.get_ident)

    @contextmanager
    def span(self, name: str):
        """Open a child span of the innermost open span. Calls made from
        other threads (streaming callbacks) are not recorded: their time
        overlaps the calling span and would be counted twice."""
        if threading.get_ident() != self._thread:
            yield None
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent,
                               op=self.op, wall_start=time.time()))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def wrap(self, module, attr: str, layer: str) -> None:
        fn = getattr(module, attr)
        name = f"{layer}:{attr}"
        count_output = layer == "io.write"

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                out = fn(*args, **kwargs)
            if count_output and self.op is not None:
                path = kwargs.get("path", args[1] if len(args) > 1 else None)
                files, size = _tree_size(path)
                acc = self.written.setdefault(self.op, [0, 0])
                acc[0] += files
                acc[1] += size
            return out

        setattr(module, attr, traced)


def _tree_size(path) -> "tuple[int, int]":
    if not isinstance(path, str) or not os.path.exists(path):
        return 0, 0
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    files = size = 0
    for root, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(root, n))
    return files, size


def wrap_layers(tracer: Tracer) -> None:
    """Wrap the public entry points of the I/O and streaming layers. Must run
    before ``fireworks_spark.registry`` is imported: the query modules bind
    some of these names at import time."""
    from fireworks_spark import (
        edge_formats,
        io_formats,
        publish,
        sources,
        streaming,
    )

    for mod in (sources, io_formats, edge_formats):
        for attr in sorted(vars(mod)):
            if attr.startswith("read_"):
                tracer.wrap(mod, attr, "io.read")
            elif attr.startswith("write_"):
                tracer.wrap(mod, attr, "io.write")
    for attr in ("new_generation", "commit_generation", "sweep_generations"):
        tracer.wrap(publish, attr, "io.publish")
    for attr in ("run_to_memory", "read_event_stream"):
        tracer.wrap(streaming, attr, "stream")


def self_times(spans: "list[Span]") -> "list[float]":
    """Each span's duration minus the part of its interval its children
    cover. Children of one span never overlap (one thread records them),
    but are clipped to the parent in case a clock step shifted them."""
    children: "dict[int, list[int]]" = {}
    for i, s in enumerate(spans):
        if s.parent is not None:
            children.setdefault(s.parent, []).append(i)
    out = []
    for i, s in enumerate(spans):
        covered = 0.0
        for c in children.get(i, ()):
            lo = max(spans[c].start, s.start)
            hi = min(spans[c].end, s.end)
            covered += max(0.0, hi - lo)
        out.append(s.duration - covered)
    return out


def layer_self_times(spans: "list[Span]") -> "dict[str, float]":
    """Self time summed per layer (the span name up to its first ':')."""
    total: "dict[str, float]" = {}
    for s, t in zip(spans, self_times(spans)):
        layer = s.name.split(":", 1)[0]
        total[layer] = total.get(layer, 0.0) + t
    return total
