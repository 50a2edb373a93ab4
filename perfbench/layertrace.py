"""Layer spans recorded from outside the package.

``Tracer.install`` replaces each layer's public functions with a wrapper
that records a span and sets the Spark job group to the layer's name on
entry. The group stays set until the next layer is entered, so the lazy
jobs a layer's DataFrames trigger later (a stage write, a ``count()``) are
charged to that layer. Wrapped functions are patched in every
``rdf_indexes_spark`` module that imported them by name, and restored by
``uninstall``.

``attribute`` then splits the wall time of the benchmark's timed windows
between layers, one instant at a time:

1. while a job runs, the instant belongs to the running job's group
   (the most recently started one when jobs overlap);
2. otherwise to the innermost open span (driver-side work of a layer:
   planning, file commits, manifests);
3. otherwise to the job group in effect.

The parts therefore add up to the window wall exactly. Time a wrapped
``run_pipeline`` keeps for itself is the pipeline's driver time.
"""

from __future__ import annotations

import bisect
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from eventlog import Job

IDLE = "bench"  # group of the benchmark's own untimed jobs (checks)


@dataclass
class Span:
    layer: str
    name: str
    start: float
    depth: int
    end: float = 0.0


@dataclass
class _Patch:
    owner: object
    attr: str
    original: object


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    windows: list[tuple[str, float, float]] = field(default_factory=list)
    group_changes: list[tuple[float, str]] = field(default_factory=list)
    _stack: list[tuple[Span, bool]] = field(default_factory=list)
    _patches: list[_Patch] = field(default_factory=list)

    def set_group(self, layer: str) -> None:
        self.sc.setJobGroup(layer, layer)
        self.group_changes.append((time.time(), layer))

    def _wrapper(self, fn, layer: str, absorbs: bool, label):
        def traced(*args, **kwargs):
            # an absorbing layer (sparql, querylog, delta) owns everything
            # it calls: nested router or pipeline-operator calls stay
            # charged to it
            if self._stack and self._stack[-1][1]:
                return fn(*args, **kwargs)
            span = Span(layer, label(args) if label else fn.__name__, time.time(), len(self._stack))
            self._stack.append((span, absorbs))
            self.set_group(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.time()
                self._stack.pop()
                self.spans.append(span)

        traced.__wrapped__ = fn
        return traced

    def wrap(self, module, attr: str, layer: str, absorbs: bool = False, label=None) -> None:
        """Wrap ``module.attr`` wherever the package refers to that object."""
        fn = getattr(module, attr)
        wrapped = self._wrapper(fn, layer, absorbs, label)
        owners = [module] + [
            m
            for name, m in list(sys.modules.items())
            if name.startswith("rdf_indexes_spark") and m is not module and getattr(m, attr, None) is fn
        ]
        for owner in owners:
            self.patch(owner, attr, wrapped)

    def patch(self, owner, attr: str, value) -> None:
        self._patches.append(_Patch(owner, attr, getattr(owner, attr)))
        setattr(owner, attr, value)

    def uninstall(self) -> None:
        while self._patches:
            p = self._patches.pop()
            setattr(p.owner, p.attr, p.original)

    @contextmanager
    def window(self, name: str):
        """A timed section of the benchmark; only windows are attributed.
        On exit the group returns to IDLE so untimed checks are not
        charged to the last layer."""
        t0 = time.time()
        try:
            yield
        finally:
            self.windows.append((name, t0, time.time()))
            self.set_group(IDLE)


def attribute(
    windows: list[tuple[str, float, float]],
    spans: list[Span],
    jobs: list[Job],
    group_changes: list[tuple[float, str]],
) -> dict[str, float]:
    """Seconds of window wall owned by each layer (see module docstring)."""
    owned: dict[str, float] = {}
    change_t = [t for t, _ in group_changes]
    for _, w0, w1 in windows:
        cuts = {w0, w1}
        for s in spans:
            cuts.update(t for t in (s.start, s.end) if w0 < t < w1)
        for j in jobs:
            cuts.update(t for t in (j.start_s, j.end_s) if w0 < t < w1)
        pts = sorted(cuts)
        for a, b in zip(pts, pts[1:]):
            mid = (a + b) / 2
            running = [j for j in jobs if j.start_s <= mid < j.end_s]
            if running:
                owner = max(running, key=lambda j: j.start_s).group
            else:
                open_ = [s for s in spans if s.start <= mid < s.end]
                if open_:
                    owner = max(open_, key=lambda s: s.depth).layer
                else:
                    i = bisect.bisect_right(change_t, mid) - 1
                    owner = group_changes[i][1] if i >= 0 else IDLE
            owned[owner] = owned.get(owner, 0.0) + (b - a)
    return owned
