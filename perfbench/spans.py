"""In-memory span tracing for the traced benchmark run.

The tracer wraps the public functions of each ``dce_spark`` layer
module from the outside (the program carries no instrumentation) and
records one span per call: name, layer, start, end, parent and op id.
Per-layer busy time, self time and call counts are derived from the
spans after the run; the spans themselves are written out at exit.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass
from typing import Any, Callable, Iterable, Optional

# layer name -> module whose public functions form the layer boundary
LAYER_MODULES = {
    "parser": "dce_spark.parser",
    "compiler": "dce_spark.compiler",
    "checks.schema": "dce_spark.checks.schema",
    "checks.constraints": "dce_spark.checks.constraints",
    "checks.quality": "dce_spark.checks.quality",
    "checks.ml": "dce_spark.checks.ml",
    "checks.custom": "dce_spark.checks.custom",
    "state": "dce_spark.state",
    "api": "dce_spark.api",
    "sinks": "dce_spark.sinks",
    "ext.text": "dce_spark.ext.text",
    "ext.dedup": "dce_spark.ext.dedup",
    "ext.similarity": "dce_spark.ext.similarity",
}
ROOT = "op"  # name and layer of the span around one timed operation


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: Optional[int]
    op: Optional[int]


class Tracer:
    """Collects spans on one thread; ``enabled=False`` makes every hook
    a no-op so the untraced run pays nothing but a flag test."""

    def __init__(self, enabled: bool = True) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._op: Optional[int] = None
        self.counts: dict[int, dict[str, float]] = {}  # op id -> work counts
        self._patched: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str, layer: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, layer, time.perf_counter(), 0.0, parent, self._op))
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def count(self, key: str, value: float) -> None:
        """Add ``value`` to the current op's work count ``key``."""
        if self.enabled and self._op is not None:
            d = self.counts.setdefault(self._op, {})
            d[key] = d.get(key, 0.0) + value

    @contextmanager
    def op(self, op_id: int):
        """Root span of one timed operation; nested spans carry its id."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        try:
            with self.span(ROOT, ROOT):
                yield
        finally:
            self._op = None

    def _wrap(self, fn: Callable, name: str, layer: str) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name, layer):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> int:
        """Replace every public function of the layer modules with a
        traced wrapper, in every loaded ``dce_spark`` module that holds
        a reference to it (``from x import f`` copies the binding).
        Returns the number of functions wrapped."""
        wrapped: dict[int, Callable] = {}
        for layer, modname in LAYER_MODULES.items():
            mod = importlib.import_module(modname)
            for attr, fn in vars(mod).items():
                if inspect.isfunction(fn) and fn.__module__ == modname and not attr.startswith("_"):
                    wrapped[id(fn)] = self._wrap(fn, f"{layer}.{attr}", layer)
        for modname, mod in list(sys.modules.items()):
            if not (modname == "dce_spark" or modname.startswith("dce_spark.")):
                continue
            for attr, val in list(vars(mod).items()):
                w = wrapped.get(id(val))
                if w is not None:
                    self._patched.append((mod, attr, val))
                    setattr(mod, attr, w)
        return len(wrapped)

    def uninstall(self) -> None:
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def dump(self, path: str, meta: dict[str, Any]) -> None:
        with open(path, "w") as fh:
            json.dump({"meta": meta, "spans": [asdict(s) for s in self.spans]}, fh)


# ------------------------------------------------------------- arithmetic


def _covered(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        (s.end - s.start) - _covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


def _outermost(spans: list[Span], key: Callable[[Span], str]) -> list[bool]:
    """True for spans with no ancestor sharing the same key."""
    out = []
    for s in spans:
        k, p, top = key(s), s.parent, True
        while p is not None:
            if key(spans[p]) == k:
                top = False
                break
            p = spans[p].parent
        out.append(top)
    return out


def per_op_summary(spans: list[Span]) -> dict[int, dict[str, float]]:
    """Per op id: ``<layer>.busy_s`` / ``<layer>.calls`` (outermost spans
    of the layer), ``<layer>.self_s``, the same three keyed by function
    name, and ``op_s`` / ``unattributed_s`` (root duration / self)."""
    selfs = self_times(spans)
    top_layer = _outermost(spans, lambda s: s.layer)
    top_name = _outermost(spans, lambda s: s.name)
    ops: dict[int, dict[str, float]] = {}
    for i, s in enumerate(spans):
        if s.op is None:
            continue
        d = ops.setdefault(s.op, {})
        dur = s.end - s.start
        if s.layer == ROOT:
            d["op_s"] = d.get("op_s", 0.0) + dur
            d["unattributed_s"] = d.get("unattributed_s", 0.0) + selfs[i]
            continue
        d["layer_self_sum_s"] = d.get("layer_self_sum_s", 0.0) + selfs[i]
        for key, top in ((s.layer, top_layer[i]), (s.name, top_name[i])):
            d[f"{key}.self_s"] = d.get(f"{key}.self_s", 0.0) + selfs[i]
            if top:
                d[f"{key}.busy_s"] = d.get(f"{key}.busy_s", 0.0) + dur
                d[f"{key}.calls"] = d.get(f"{key}.calls", 0.0) + 1
    return ops
