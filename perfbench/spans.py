"""Spans around the engine's public layer functions, recorded from outside.

``Tracer.install()`` replaces each wrapped function at the name its caller
resolves (``plans.checkpoint.run_checks``, ``checks.core.psi_by_partition``,
...) and ``uninstall()`` restores the originals. Spans live in memory and
are written once, at the end of the run.

``run_checks`` and ``CheckResult.materialize`` hand work to thread pools, so
a span opened on a thread with no open span of its own takes as parent the
most recent still-open span of one of those two.
"""

from __future__ import annotations

import functools
from collections import Counter
import json
import threading
import time
from dataclasses import asdict, dataclass

from pyanomalydetector_spark.checks import core, fused
from pyanomalydetector_spark.plans import checkpoint

RUN_CHECKS = "checks.core.run_checks"
MATERIALIZE = "checks.core.materialize"
RUN_WITH_CHECKPOINT = "plans.checkpoint.run_with_checkpoint"
_SPAWNERS = (RUN_CHECKS, MATERIALIZE)

# (span name, owner object, attribute): every owner whose attribute a caller
# resolves at call time gets the wrapper
WRAPPED = (
    (RUN_CHECKS, core, "run_checks"),
    (RUN_CHECKS, checkpoint, "run_checks"),
    ("checks.fused.run_fused", fused, "run_fused"),
    ("checks.drift.psi_by_partition", core, "psi_by_partition"),
    ("checks.drift.ks_by_partition", core, "ks_by_partition"),
    (MATERIALIZE, core.CheckResult, "materialize"),
    (RUN_WITH_CHECKPOINT, checkpoint, "run_with_checkpoint"),
    ("plans.checkpoint.compute_baseline", checkpoint, "compute_baseline"),
    ("plans.checkpoint.pin_suite", checkpoint, "pin_suite"),
    ("plans.checkpoint.save_baseline", checkpoint.CheckpointStore,
     "save_baseline"),
    ("plans.checkpoint.load_baseline", checkpoint.CheckpointStore,
     "load_baseline"),
    ("plans.checkpoint.done_partitions", checkpoint.CheckpointStore,
     "done_partitions"),
    ("plans.checkpoint.merge", checkpoint.CheckpointStore, "merge"),
    ("plans.checkpoint.read_verdicts", checkpoint.CheckpointStore,
     "read_verdicts"),
    ("plans.checkpoint.read_violations", checkpoint.CheckpointStore,
     "read_violations"),
)


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    iteration: str


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.iteration = ""
        self._lock = threading.Lock()
        self._open: list[Span] = []          # open spans, in opening order
        self._local = threading.local()      # per-thread stack of open spans
        self._saved: list = []

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            stack = getattr(tracer._local, "stack", None)
            if stack is None:
                stack = tracer._local.stack = []
            with tracer._lock:
                if stack:
                    parent = stack[-1].id
                else:
                    parent = next((s.id for s in reversed(tracer._open)
                                   if s.name in _SPAWNERS), None)
                span = Span(len(tracer.spans), name, time.perf_counter(),
                            float("nan"), parent, tracer.iteration)
                tracer.spans.append(span)
                tracer._open.append(span)
            stack.append(span)
            try:
                return fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
                with tracer._lock:
                    tracer._open.remove(span)
        return wrapper

    def install(self) -> None:
        wrappers: dict = {}
        for name, owner, attr in WRAPPED:
            orig = owner.__dict__[attr]
            if id(orig) not in wrappers:
                wrappers[id(orig)] = self._wrap(name, orig)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, wrappers[id(orig)])

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # ------------------------------------------------------------ queries ---
    def named(self, name: str, iteration: str | None = None) -> list[Span]:
        return [s for s in self.spans if s.name == name
                and (iteration is None or s.iteration == iteration)]

    def total(self, name: str, iteration: str) -> float:
        return sum(s.end - s.start for s in self.named(name, iteration))

    def self_time(self, span: Span) -> float:
        """Duration minus the part of it that child spans cover."""
        kids = [(max(c.start, span.start), min(c.end, span.end))
                for c in self.spans if c.parent == span.id]
        return (span.end - span.start) - union_length(
            [k for k in kids if k[1] > k[0]])

    def counts(self) -> dict[str, int]:
        return dict(Counter(s.name for s in self.spans))

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)
