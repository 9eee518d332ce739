"""Span recorder for the traced benchmark run.

Wraps public engine functions in spans (name, start, end, parent) kept
in memory until the run ends. Each span runs its Spark jobs under a job
group of its own, so the jobs a layer fires are attributed to it from
Spark's public status tracker. The engine itself is not modified: the
wrappers are installed by rebinding module attributes.
"""

from __future__ import annotations

import functools
import importlib
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    group: str = ""
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)


def self_times(spans: list[Span]) -> list[float]:
    """Per span: its duration minus the part of it covered by its
    direct children (the union of their intervals, clipped to it)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            p = spans[s.parent]
            kids.setdefault(s.parent, []).append(
                (max(s.start, p.start), min(s.end, p.end))
            )
    out = []
    for i, s in enumerate(spans):
        covered, reach = 0.0, s.start
        for a, b in sorted(kids.get(i, [])):
            a = max(a, reach)
            if b > a:
                covered += b - a
                reach = b
        out.append((s.end - s.start) - covered)
    return out


def summarize(spans: list[Span]) -> dict[str, dict[str, float]]:
    """``{span name: {"calls", "self_s", "jobs"}}`` over all spans."""
    out: dict[str, dict[str, float]] = {}
    for s, st in zip(spans, self_times(spans)):
        agg = out.setdefault(s.name, {"calls": 0, "self_s": 0.0, "jobs": 0})
        agg["calls"] += 1
        agg["self_s"] += st
        agg["jobs"] += len(s.jobs)
    return out


class Recorder:
    """Collects spans; ``sc`` (a SparkContext) enables job attribution."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.enabled = False
        self.opened = 0  # spans ever opened: job group ids never repeat
        self.on_exit = None  # callback(span) after a span closes
        self._patched: list[tuple[object, str, object]] = []

    def _group(self, idx: int | None) -> None:
        if self.sc is None:
            return
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.spans[idx].group, self.spans[idx].name)

    @contextmanager
    def span(self, name: str):
        parent = self.stack[-1] if self.stack else None
        idx = len(self.spans)
        self.opened += 1
        group = f"perfbench-{self.opened}"
        self.spans.append(Span(name, time.perf_counter(), parent, group))
        self.stack.append(idx)
        self._group(idx)
        try:
            yield self.spans[idx]
        finally:
            s = self.spans[idx]
            s.end = time.perf_counter()
            self.stack.pop()
            self._group(parent)
            if self.sc is not None:
                s.jobs.extend(self.sc.statusTracker().getJobIdsForGroup(s.group))
            if self.on_exit is not None:
                self.on_exit(s)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not self.enabled:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        wrapper.__perfbench_original__ = fn
        return wrapper

    def install(self, module: str, attr: str, name: str | None = None) -> int:
        """Wrap ``module.attr`` and rebind every ``emma_spark`` module
        attribute that *is* the original function — modules that did
        ``from x import f`` hold their own reference. Returns the
        number of rebound references."""
        orig = getattr(importlib.import_module(module), attr)
        return self.rebind(orig, self.wrap(name or f"{module}.{attr}", orig))

    def rebind(self, orig, new) -> int:
        """Point every ``emma_spark`` module attribute that is ``orig``
        at ``new``; :meth:`uninstall` undoes it."""
        n = 0
        for mname, mod in list(sys.modules.items()):
            if mod is None or not (mname == "emma_spark" or mname.startswith("emma_spark.")):
                continue
            for k, v in list(vars(mod).items()):
                if v is orig:
                    setattr(mod, k, new)
                    self._patched.append((mod, k, orig))
                    n += 1
        return n

    def uninstall(self) -> None:
        for mod, k, orig in reversed(self._patched):
            setattr(mod, k, orig)
        self._patched.clear()

    def reset(self) -> None:
        self.spans.clear()
        self.stack.clear()
