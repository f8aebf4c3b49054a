"""UI-free Spark counters, read from the driver's always-on status stores.

One ``StatusReader`` serves the traced and the untraced run.  Jobs and SQL
executions are attributed to a query by id range: the benchmark's driver
runs one thread, and ids are handed out in submission order, so the ids
issued between two marks belong to the code that ran between them.

Before each read the listener bus is drained; without that the last job
or stage of a query is missing from the store at random.  Reading after
every query keeps the store under ``spark.ui.retainedJobs/Stages``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

# Executed-plan node names that run Python (Arrow or pickled batches).
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


@dataclass
class Stage:
    stage_id: int
    tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_b: int
    shuffle_read_b: int
    shuffle_write_b: int
    spill_b: int
    result_b: int
    start: float
    end: float
    python: bool = False


@dataclass
class Job:
    job_id: int
    start: float
    end: float
    stage_ids: list[int]


@dataclass
class Census:
    """Node counts over the final (AQE) plans of SQL executions."""
    executions: int = 0
    nodes: int = 0
    exchanges: int = 0
    smj: int = 0
    bhj: int = 0
    scans: int = 0
    python_nodes: int = 0
    plan_s: float = 0.0
    python_rows: int = 0
    python_sent_b: float = 0.0
    python_recv_b: float = 0.0
    python_worker_init_s: float = 0.0

    def add(self, other: "Census") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


@dataclass
class Window:
    """Everything Spark ran between two marks."""
    jobs: list[Job] = field(default_factory=list)
    stages: list[Stage] = field(default_factory=list)
    census: Census = field(default_factory=Census)

    @property
    def task_s(self) -> float:
        return sum(s.run_s for s in self.stages)

    def covered_s(self, lo: float, hi: float) -> float:
        """Seconds of [lo, hi] during which at least one stage ran."""
        return covered_s([(s.start, s.end) for s in self.stages], lo, hi)


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total


_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1, "m": 60, "h": 3600}


def _metric_total(text: str | None, kind: str) -> float:
    """Total of a formatted SQL metric: ``1,234`` for sums, or
    ``total (min, med, max ...)\\n12.3 MiB (...)`` for sizes and times
    (in bytes and seconds)."""
    if not text:
        return 0.0
    if kind == "sum":
        return float(text.replace(",", "").split()[0])
    m = re.search(r"([\d.,]+) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b", text)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


class StatusReader:
    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._dag = sc.dagScheduler()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_exec = 0
        self._new_executions()  # skip what ran before the reader

    def _new_executions(self) -> list:
        """SQL executions started since the last call, oldest first."""
        out = []
        while (opt := self._sql.execution(self._next_exec)).isDefined():
            out.append(opt.get())
            self._next_exec += 1
        return out

    def next_job_id(self) -> int:
        return self._dag.numTotalJobs()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def read(self, job_lo: int, job_hi: int, traced: bool) -> Window:
        """Jobs [job_lo, job_hi) and their completed stages.  ``traced``
        adds the plan census of the SQL executions started since the
        previous read and marks the stages that ran Python."""
        self.drain()
        w = Window()
        seen: set[int] = set()
        for jid in range(job_lo, job_hi):
            j = self._store.job(jid)
            ids = _seq(j.stageIds())
            w.jobs.append(Job(jid, _opt_ms(j.submissionTime()),
                              _opt_ms(j.completionTime()), ids))
            for sid in ids:
                if sid in seen:
                    continue
                seen.add(sid)
                s = self._store.lastStageAttempt(sid)
                if s.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                w.stages.append(Stage(
                    sid, s.numTasks(), s.executorRunTime() / 1e3,
                    s.executorCpuTime() / 1e9, s.jvmGcTime() / 1e3,
                    s.inputBytes(), s.shuffleReadBytes(),
                    s.shuffleWriteBytes(), s.diskBytesSpilled(),
                    s.resultSize(), _opt_ms(s.submissionTime()),
                    _opt_ms(s.completionTime()),
                    traced and self._stage_runs_python(sid),
                ))
        executions = self._new_executions()
        if traced:
            w.census = self._census(executions, w.jobs)
        return w

    def _stage_runs_python(self, stage_id: int) -> bool:
        stack = [self._store.operationGraphForStage(stage_id).rootCluster()]
        while stack:
            c = stack.pop()
            if PYTHON_NODE.search(c.name()):
                return True
            stack.extend(_seq(c.childClusters()))
        return False

    def _census(self, executions: list, jobs: list[Job]) -> Census:
        total = Census()
        job_start = {j.job_id: j.start for j in jobs}
        for ex in executions:
            eid = ex.executionId()
            c = Census(executions=1)
            started = ex.submissionTime() / 1000.0
            job_ids = [int(k) for k in _seq(ex.jobs().keys().toSeq())]
            starts = [job_start[k] for k in job_ids if k in job_start]
            done = _opt_ms(ex.completionTime())
            c.plan_s = max(0.0, (min(starts) if starts else (done or started))
                           - started)
            metrics = self._sql.executionMetrics(eid)
            for node in _seq(self._sql.planGraph(eid).allNodes()):
                name = node.name()
                c.nodes += 1
                c.exchanges += name == "Exchange"
                c.smj += name == "SortMergeJoin"
                c.bhj += name == "BroadcastHashJoin"
                c.scans += name.startswith("Scan ")
                if PYTHON_NODE.search(name):
                    c.python_nodes += 1
                    for m in _seq(node.metrics()):
                        text = metrics.get(m.accumulatorId())
                        text = text.get() if text.isDefined() else None
                        v = _metric_total(text, m.metricType())
                        if m.name() == "number of output rows":
                            c.python_rows += int(v)
                        elif m.name() in ("time to start Python workers",
                                          "time to initialize Python workers"):
                            c.python_worker_init_s += v
                        elif m.name() == "data sent to Python workers":
                            c.python_sent_b += v
                        elif m.name() == "data returned from Python workers":
                            c.python_recv_b += v
            total.add(c)
        return total
