"""Layer spans for the traced run.

Entering a layer sets the Spark job group to the layer's name; every job runs
under that group until the next layer is entered, and the span's wall time
runs from one entry to the next.  The pipeline materializes each stage right
after building it, so the jobs that follow a layer's call are that layer's
work.  Spans are kept in memory and reported when the run ends.
"""
from __future__ import annotations

import functools
import time
from collections import defaultdict

IDLE = "bench"  # group of the benchmark's own jobs (input generation, checks)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.wall: dict[str, float] = defaultdict(float)
        self._cur: str | None = None
        self._t0 = 0.0
        self._patched: list = []
        sc.setJobGroup(IDLE, IDLE)

    def enter(self, layer: str) -> None:
        now = time.perf_counter()
        if self._cur is not None:
            self.wall[self._cur] += now - self._t0
        self._cur, self._t0 = layer, now
        self.sc.setJobGroup(layer, layer)

    def leave(self) -> None:
        """Close the open span; later jobs belong to the benchmark itself."""
        if self._cur is not None:
            self.wall[self._cur] += time.perf_counter() - self._t0
            self._cur = None
        self.sc.setJobGroup(IDLE, IDLE)

    def wrap(self, module, name: str, layer: str, after=None) -> None:
        """Replace ``module.name`` so that calling it enters ``layer``;
        ``after`` may post-process the result.  Callers that look the
        function up through the module attribute pick up the wrapper."""
        fn = getattr(module, name)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            self.enter(layer)
            out = fn(*args, **kwargs)
            return after(out) if after else out

        setattr(module, name, traced)
        self._patched.append((module, name, fn))

    def unwrap(self) -> None:
        for module, name, fn in reversed(self._patched):
            setattr(module, name, fn)
        self._patched.clear()


class NullTracer:
    """Tracing off: no job groups, no spans."""

    def enter(self, layer: str) -> None:
        pass

    def leave(self) -> None:
        pass

    def unwrap(self) -> None:
        pass
