"""Execution profiler (reference: dask/diagnostics/profile.py
Profiler/ResourceProfiler — dask records per-task (key, start, end,
worker) tuples through scheduler callbacks).

Two exact readers, both consulted AFTER the work ran, so profiling adds
no listeners, no extra jobs and no overhead to the measured run:

- ``sql_metrics``/``profile`` execute a plan once and walk the final
  AQE plan tree reading each operator's SQLMetrics: output rows, data
  size, shuffle bytes written/read, spill size, scan files/partitions.
- ``StatusReader`` reads the jobs a block of driver code ran, and their
  completed stages, from the driver's always-on status store (the UI
  can stay off): tasks, executor run time, shuffle and input bytes,
  spill, submission/completion times. ``diagnostics.Profiler`` and
  ``bench.py``'s per-query counts both come from it.

``checksum`` is the one materialization routine: the profiler and the
bench both force a frame through it."""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Any

import pandas as pd
from py4j.protocol import Py4JJavaError

def _scala_map_items(m):
    it = m.iterator()
    while it.hasNext():
        kv = it.next()
        yield kv._1(), kv._2()


def _children(node):
    out = []
    # AQE wraps materialized stages in *QueryStageExec whose subtree
    # hangs off .plan(), not .children()
    if "QueryStage" in node.getClass().getSimpleName():
        try:
            out.append(node.plan())
        except Exception:
            pass
    it = node.children().iterator()
    while it.hasNext():
        out.append(it.next())
    return out


def _walk(node, depth, rows):
    metrics = {}
    for name, metric in _scala_map_items(node.metrics()):
        try:
            metrics[name] = metric.value()
        except Exception:
            continue
    rows.append((depth, node.nodeName(), metrics))
    for child in _children(node):
        _walk(child, depth + 1, rows)


def checksum(sdf):
    """One-row aggregate that forces FULL evaluation of ``sdf``: its
    row count (``__rows``) plus Σ pmod(xxhash64(columns), 1000003)
    (``__checksum``) and one ``count`` per map column (xxhash64 rejects
    maps, recursively). A bare count() would let Catalyst prune unused
    columns, so projection-only queries would skip their expensive
    expressions; and a plain checksum aggregate lets EliminateSorts drop
    a final orderBy. The nondeterministic ``__pos`` column stays
    referenced (its max) so a final sort still runs, as it does for a
    real consumer collecting ordered results, but it is left out of the
    hash: it encodes partition ids, not values."""
    import pyspark.sql.functions as F

    maps = [c for c, t in sdf.dtypes if "map<" in t]
    hashable = [c for c, _ in sdf.dtypes if c not in maps]
    aggs = [F.count(F.lit(1)).alias("__rows"), F.max("__pos").alias("__pos")]
    if hashable:
        aggs.append(F.sum(F.pmod(
            F.xxhash64(*[F.col(c) for c in hashable]), F.lit(1_000_003),
        )).alias("__checksum"))
    aggs += [F.count(F.col(c)).alias(f"__n_{i}") for i, c in enumerate(maps)]
    return sdf.withColumn("__pos", F.monotonically_increasing_id()).agg(*aggs)


def _opt_s(opt) -> float | None:
    """A scala ``Option[java.util.Date]`` as epoch seconds."""
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


@dataclass(frozen=True)
class StageCounts:
    """One completed stage as the status store recorded it; ``start``
    and ``end`` are epoch seconds."""

    stage_id: int
    name: str
    tasks: int
    run_s: float
    input_b: int
    shuffle_read_b: int
    shuffle_write_b: int
    shuffle_write_records: int
    spill_b: int
    start: float
    end: float


class StatusReader:
    """Exact jobs and stages of a block of driver code, read from
    ``sc.statusStore()`` rather than sampled from the status tracker.

    Job ids are handed out in submission order, so the ids issued
    between ``mark()`` and ``read()`` belong to the code that ran
    between them (given one driver thread submitting work). ``read``
    first drains the listener bus: without that the last job or stage
    of the block is missing from the store at random."""

    def __init__(self, sc):
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self.mark()

    def mark(self) -> None:
        """Start a block at the next job id."""
        self._mark = self._dag.numTotalJobs()

    def read(self) -> tuple[int, list[StageCounts]]:
        """(number of jobs, their completed stages in stage-id order)
        since ``mark()``. Skipped stages, whose shuffle output an
        earlier job left behind, did not run and are left out."""
        self._bus.waitUntilEmpty()
        job_ids = range(self._mark, self._dag.numTotalJobs())
        # A job or stage can be missing from the store: a submission
        # that failed before the job started, or more than
        # spark.ui.retainedJobs/retainedStages ran since mark().
        stage_ids: set[int] = set()
        for jid in job_ids:
            try:
                ids = self._store.job(jid).stageIds()
            except Py4JJavaError:
                continue
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        stages = []
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue
            if s.status().toString() != "COMPLETE":
                continue
            stages.append(StageCounts(
                sid, s.name(), s.numTasks(), s.executorRunTime() / 1e3,
                s.inputBytes(), s.shuffleReadBytes(), s.shuffleWriteBytes(),
                s.shuffleWriteRecords(), s.diskBytesSpilled(),
                _opt_s(s.submissionTime()), _opt_s(s.completionTime()),
            ))
        return len(job_ids), stages


def sql_metrics(frame, action: str = "count") -> pd.DataFrame:
    """Execute ``frame``'s plan once (``action``: count | collect) and
    return one row per (operator, metric): columns
    (depth, node, metric, value). The walk descends through the FINAL
    adaptive plan, so AQE re-plans (broadcast conversions, coalesced
    shuffle reads, skew splits) are what you see — not the static
    guess."""
    sdf = frame._sdf if hasattr(frame, "_sdf") else frame
    # A bare count() would execute a DERIVED Dataset: the walked plan
    # below would never run and every metric would read 0 — and count()
    # also lets Catalyst prune all columns, so the profiled plan would
    # not be the plan a real consumer runs. The checksum aggregate
    # forces every column and any final sort, one row reaches the
    # driver, and the executed plan we walk is the one that ran.
    target = sdf if action == "collect" else checksum(sdf)
    target.collect()
    ep = target._jdf.queryExecution().executedPlan()
    if "Adaptive" in ep.getClass().getName():
        ep = ep.executedPlan()
    walked: list[tuple[int, str, dict]] = []
    _walk(ep, 0, walked)
    out = []
    for depth, name, metrics in walked:
        for metric, value in metrics.items():
            out.append((depth, name, metric, value))
    return pd.DataFrame(out, columns=["depth", "node", "metric", "value"])


def profile(frame, action: str = "count") -> dict[str, Any]:
    """One-call profile summary (the dask ``with Profiler()`` shape):
    wall seconds plus the scale-health aggregates — total shuffle bytes
    written, total spill, rows out of every exchange, and the full
    per-operator table under ``"metrics"``."""
    t0 = time.time()
    m = sql_metrics(frame, action=action)
    wall = time.time() - t0

    def total(name: str) -> int:
        v = m[m.metric == name]["value"]
        return int(v.sum()) if len(v) else 0

    exchanges = m[(m.node.str.contains("Exchange")) & (m.metric == "dataSize")]
    return {
        "wall_sec": round(wall, 3),
        "shuffle_bytes_written": total("shuffleBytesWritten"),
        "spill_bytes": total("spillSize"),
        "exchange_rows": int(
            m[
                (m.node.str.contains("Exchange"))
                & (m.metric == "shuffleRecordsWritten")
            ]["value"].sum()
        ),
        "exchange_data_bytes": int(exchanges["value"].sum()) if len(exchanges) else 0,
        "metrics": m,
    }
