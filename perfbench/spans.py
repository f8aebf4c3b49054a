"""Spans for the traced run.

Spans nest as pass -> query -> build | action -> module call -> Spark job
-> stage.  Python-side spans are opened by the benchmark: around passes,
queries and their two phases, and by wrappers it installs on the public
functions of the repository's modules (no source edits).  Job and stage
spans come from the status store afterwards, each job with its submit
and completion times and its stage ids.  A job belongs to the innermost
span that was open when it was submitted, found exactly by job id: each
Python span records the next job id at open and at close.

Self time is a span's duration minus the part of it that its children
(nested spans and its own jobs) cover.  Spans stay in memory; the
benchmark writes them out when it ends.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import sys
import time
from collections import defaultdict
from dataclasses import dataclass, field

from status import covered_s

# Module boundaries that get wrappers, named as in the per-layer metrics.
MODULES = (
    "frame",
    "operators.graph", "operators.dedup", "operators.reductions",
    "operators.sort", "operators.joins", "operators.groupby",
    "operators.window", "operators.similarity", "operators.cluster",
    "functions.text", "functions.vector", "functions.multimodal",
)


@dataclass
class Span:
    kind: str            # pass | query | build | action | module
    name: str
    start: float
    job_lo: int
    parent: int | None
    end: float = 0.0
    job_hi: int = 0
    children: list[int] = field(default_factory=list)
    jobs: list = field(default_factory=list)  # status.Job

    def self_s(self, spans: list["Span"]) -> float:
        """Duration minus the union of child spans and own jobs."""
        iv = [(spans[c].start, spans[c].end) for c in self.children]
        iv += [(j.start, j.end) for j in self.jobs]
        return self.end - self.start - covered_s(iv, self.start, self.end)


class Tracer:
    def __init__(self, next_job_id):
        self._next_job_id = next_job_id
        self.enabled = False
        self.spans: list[Span] = []
        self._stack: list[int] = []

    def open(self, kind: str, name: str) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(kind, name, time.time(), self._next_job_id(),
                               parent))
        idx = len(self.spans) - 1
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        assert self._stack.pop() == idx
        s = self.spans[idx]
        s.end, s.job_hi = time.time(), self._next_job_id()

    def attach_jobs(self, root: int, jobs) -> None:
        """Give each job of ``root``'s subtree to the innermost span whose
        job-id range holds it."""
        for job in jobs:
            idx = root
            while True:
                inner = [c for c in self.spans[idx].children
                         if self.spans[c].job_lo <= job.job_id < self.spans[c].job_hi]
                if not inner:
                    break
                idx = inner[0]
            self.spans[idx].jobs.append(job)

    def module_totals(self) -> dict[str, dict[str, float]]:
        """calls, self seconds and owned jobs per wrapped module, over the
        module spans recorded so far."""
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"calls": 0, "self_s": 0.0, "jobs": 0})
        for s in self.spans:
            if s.kind == "module":
                m = out[s.name.split(":")[0]]
                m["calls"] += 1
                m["self_s"] += s.self_s(self.spans)
                m["jobs"] += len(s.jobs)
        return out

    def dump(self) -> list[dict]:
        return [
            {"kind": s.kind, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent,
             "jobs": [{"job": j.job_id, "start": j.start, "end": j.end,
                       "stages": j.stage_ids} for j in s.jobs],
             "self_s": round(s.self_s(self.spans), 6)}
            for s in self.spans
        ]

    # -- wrappers ---------------------------------------------------------
    def _wrap(self, fn, label: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            idx = tracer.open("module", f"{label}:{fn.__qualname__}")
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(idx)

        return traced

    def install(self, package: str) -> int:
        """Wrap every public function and public method defined in the
        ``MODULES`` of ``package``, and rebind names other loaded modules
        imported from them.  Returns the number of wrapped callables."""
        swapped = {}
        for label in MODULES:
            mod = importlib.import_module(f"{package}.{label}")
            for name, obj in list(vars(mod).items()):
                if name.startswith("_") or getattr(obj, "__module__", None) != mod.__name__:
                    continue
                if inspect.isfunction(obj):
                    swapped[id(obj)] = self._wrap(obj, label)
                    setattr(mod, name, swapped[id(obj)])
                elif inspect.isclass(obj):
                    for attr, fn in list(vars(obj).items()):
                        if not attr.startswith("_") and inspect.isfunction(fn):
                            setattr(obj, attr, self._wrap(fn, label))
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith(package):
                continue
            for name, obj in list(vars(mod).items()):
                if id(obj) in swapped and inspect.isfunction(obj):
                    setattr(mod, name, swapped[id(obj)])
        return len(swapped)
