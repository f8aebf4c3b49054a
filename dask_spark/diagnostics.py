"""``dask.diagnostics``-shaped namespace (reference:
dask/diagnostics/__init__.py — ProgressBar, Profiler,
ResourceProfiler, CacheProfiler, Callback, visualize).

dask's profilers are scheduler-callback hooks; Spark's equivalent
signals are the status store (jobs and stages), the storage status
(cached blocks), and the driver process itself (resources).
``Profiler`` reads the stages of the ``with`` block exactly from the
status store when the block exits (``plans.profiler.StatusReader``).
``ResourceProfiler`` and ``CacheProfiler`` are time series, so they
poll their signal from a daemon thread — the same pattern as
ProgressBar. All of them work around ANY action run inside the block
and compose like dask's (nest the context managers).

``visualize`` renders text tables instead of bokeh plots (no plotting
stack in this environment; the data is the same shape as dask's
``prof.results``)."""

from __future__ import annotations

import os
import threading
import time
from collections import namedtuple
from timeit import default_timer

from dask_spark.plans.progress import ProgressBar, format_time  # noqa: F401

#: reference dask/diagnostics/profile.py TaskData analog — one row per
#: Spark STAGE (the schedulable unit here; dask's rows are tasks)
StageData = namedtuple(
    "StageData", ["stage_id", "name", "num_tasks", "start", "end"]
)
ResourceData = namedtuple("ResourceData", ["time", "mem_mb", "cpu_s"])
CacheData = namedtuple(
    "CacheData", ["time", "rdd_id", "name", "mem_bytes", "disk_bytes"]
)


class Callback:
    """reference dask/callbacks.py Callback — the hook-structure base
    the profilers share: _on_start/_poll/_on_finish over a daemon
    thread (``Profiler`` replaces enter/exit with a status-store read)."""

    _dt = 0.05

    def __init__(self, spark=None, dt: float | None = None):
        self._spark = spark
        if dt is not None:
            self._dt = dt
        self._running = False
        self._thread: threading.Thread | None = None
        self.results: list = []

    def _sc(self):
        if self._spark is None:
            from dask_spark.session import get_spark

            self._spark = get_spark()
        return self._spark.sparkContext

    def __enter__(self):
        self.results = []
        self._t0 = default_timer()
        self._on_start()
        self._running = True
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._running = False
        if self._thread is not None:
            self._thread.join(timeout=max(1.0, 4 * self._dt))
            self._thread = None
        try:
            self._poll()  # one final sample so short blocks record
        except Exception:
            pass
        self._on_finish()

    register = __enter__

    def unregister(self):
        self.__exit__(None, None, None)

    def _loop(self):
        while self._running:
            try:
                self._poll()
            except Exception:
                # polling must never take the computation down
                pass
            time.sleep(self._dt)

    # hooks
    def _on_start(self):
        pass

    def _poll(self):
        pass

    def _on_finish(self):
        pass


class Profiler(Callback):
    """reference dask/diagnostics/profile.py Profiler — per-task
    timings. The Spark schedulable unit visible from Python is the
    STAGE; ``results`` holds one StageData per stage that ran in the
    block, read exactly from the status store on exit (no polling
    thread, so ``dt`` is accepted and unused). ``start``/``end`` are
    the stage's submission/completion times in seconds after entering
    the block."""

    def __enter__(self):
        from dask_spark.plans.profiler import StatusReader

        self.results = []
        self._t0 = time.time()
        self._reader = StatusReader(self._sc())
        return self

    def __exit__(self, *exc):
        _, stages = self._reader.read()
        self.results = [
            StageData(s.stage_id, s.name, s.tasks,
                      s.start - self._t0, s.end - self._t0)
            for s in stages
        ]

    register = __enter__


class ResourceProfiler(Callback):
    """reference profile.py ResourceProfiler — (time, memory, cpu)
    samples. Sampled from the DRIVER process tree via /proc (RSS of
    this python process; cumulative user+sys CPU seconds) — on a
    cluster the executor-side twin is the Spark UI's executor metrics."""

    _dt = 0.1

    def _poll(self):
        now = default_timer() - self._t0
        with open("/proc/self/statm") as fh:
            rss_pages = int(fh.read().split()[1])
        mem_mb = rss_pages * os.sysconf("SC_PAGE_SIZE") / 1e6
        t = os.times()
        self.results.append(ResourceData(now, mem_mb, t.user + t.system))


class CacheProfiler(Callback):
    """reference profile.py CacheProfiler — cache events. Spark's
    cache is block storage: each poll snapshots every persisted RDD's
    memory/disk footprint (py4j ``getRDDStorageInfo``), so the results
    trace cache growth/eviction over the block."""

    def _poll(self):
        now = default_timer() - self._t0
        jsc = self._sc()._jsc.sc()
        for info in jsc.getRDDStorageInfo():
            self.results.append(CacheData(
                now, info.id(), info.name(),
                info.memSize(), info.diskSize(),
            ))


def visualize(profilers, filename: str | None = None, **kwargs) -> str:
    """reference dask/diagnostics/profile_visualize.py visualize —
    renders profiler results; text tables here (the bokeh stack is
    absent, and the numbers matter more than the glyphs)."""
    if not isinstance(profilers, (list, tuple)):
        profilers = [profilers]
    lines = []
    for p in profilers:
        lines.append(f"== {type(p).__name__} ==")
        rows = getattr(p, "results", [])
        if not rows:
            lines.append("(no samples)")
            continue
        header = rows[0]._fields
        lines.append(" | ".join(header))
        for r in rows:
            lines.append(" | ".join(
                f"{v:.3f}" if isinstance(v, float) else str(v) for v in r
            ))
    text = "\n".join(lines)
    if filename:
        with open(filename, "w") as fh:
            fh.write(text)
    return text
