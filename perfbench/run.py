"""Layer-attributed, oracle-checked benchmark of the dask_spark engine.

Usage (from the repository root):

    python3 perfbench/run.py --workload iterative --seed 1 --seconds 20 --trace 0

One closed-loop client: the driver process runs the workload's registry
queries serially, in a seed-shuffled order, on local[nproc], clearing the
cache after each.  A query's time is ``fn(spark, dir)`` plus one
materializing checksum action.

1. Inputs are generated from the seed (perfbench/inputs.py) and cached.
2. Set-up: ``get_spark`` plus one warm pass over the inputs.  Outside
   that time, each warm query's collected result is compared with its
   DuckDB oracle (``scripts/verify_local.compare``); the warm checksums
   become the reference every timed pass must reproduce.
3. ``--seconds`` divided by a nominal pass time gives the number of
   timed passes, each checked and started after a full GC.
   ``wall_s`` sums each query's median over them.  Counters come from
   Spark's status store, read after every query (perfbench/status.py).
4. ``--trace 1`` also wraps the engine's module boundaries and records
   spans (perfbench/spans.py) on a symmetric subset of the timed passes,
   and prints per-layer metrics instead of end-to-end ones.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  A per-query result file, with the environment, goes to
``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path.cwd()
STATE = ROOT / ".perfbench"
sys.path.insert(0, str(Path(__file__).resolve().parent))

from spans import MODULES, Tracer  # noqa: E402
from status import Census, StatusReader  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

END_TO_END = {"setup_s": "s", "wall_s": "s", "jobs": "count"}
# The JVM compiles with C1 only.  With the default tiered C2 compiler, in
# a run this short the compiler threads burn as much CPU as the queries
# (53 against 52 CPU-seconds in one relational_scaled run) and each pass
# is faster than the last, so a median over a few passes measures how far
# the JIT got; with C1 the passes level off after the first.
JIT = "-XX:TieredStopAtLevel=1"
# Nominal seconds of one timed pass on a 4-core host.  A run makes
# round(seconds / PASS_S) timed passes, a fixed count, so that a median
# never depends on how fast the host happened to be.
PASS_S = 5.0


def traced_pass(i: int, n: int) -> bool:
    """Whether pass ``i`` of ``n`` is traced in a traced run: the pattern
    T U T T U T ... is symmetric about the middle pass, so traced and
    untraced passes sit at the same mean point of the JVM's warm-up."""
    return min(i, n - 1 - i) % 2 == 0


def checksum(df) -> tuple:
    """Order-insensitive result checksum, computed by one Spark action:
    (rows, sum of pmod(xxhash64(user columns))), plus a count per map
    column (xxhash64 rejects maps).  A monotonically_increasing_id column
    is kept referenced so that a final sort still executes, but it stays
    out of the hash: it encodes partition ids, not values."""
    import pyspark.sql.functions as F

    cols = [f"`{c}`" for c, t in df.dtypes if "map<" not in t]
    maps = [f"`{c}`" for c, t in df.dtypes if "map<" in t]
    aggs = [F.count(F.lit(1)), F.max("__pos")]
    aggs.append(F.sum(F.pmod(F.xxhash64(*cols), F.lit(1_000_003)))
                if cols else F.lit(None))
    aggs += [F.count(c) for c in maps]
    r = df.withColumn("__pos", F.monotonically_increasing_id()).agg(*aggs).first()
    return (r[0], r[2], *r[3:])


def _status_mb(pid: int, field: str) -> float:
    """A memory field (such as VmHWM) of /proc/<pid>/status, in MB."""
    for line in Path(f"/proc/{pid}/status").read_text().splitlines():
        if line.startswith(f"{field}:"):
            return int(line.split()[1]) / 1024
    return 0.0


def _median(xs):
    return statistics.median(xs) if xs else 0.0


class Bench:
    def __init__(self, args):
        self.args = args
        self.wl = WORKLOADS[args.workload]
        self.rng = random.Random(args.seed)
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.rows: list[dict] = []

    # -- set-up -----------------------------------------------------------
    def start(self, data: Path) -> None:
        from dask_spark.queries import REGISTRY
        from dask_spark.session import get_spark

        self.registry, self.data = REGISTRY, str(data)
        tmp = STATE / "tmp"
        tmp.mkdir(parents=True, exist_ok=True)
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", **{
            "spark.driver.extraJavaOptions":
                f"-XX:-UsePerfData {JIT} -Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        })
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - t0
        self.pids = (os.getpid(),
                     self.spark.sparkContext._jvm.ProcessHandle.current().pid())
        self.reader = StatusReader(self.spark)
        self.tracer = Tracer(self.reader.next_job_id)

    def warm_and_verify(self) -> dict[str, tuple]:
        """The warm pass: each query once, its fn+checksum time summed
        into set-up.  The result is cached by that checksum action, so
        that outside the timed part it can be collected without running
        the query again and compared with its DuckDB oracle.  Returns the
        verified checksums, which every timed pass must reproduce."""
        import duckdb
        from scripts.verify_local import compare

        con = duckdb.connect()
        for t in sorted(p.name[:-8] for p in Path(self.data).glob("*.parquet")):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.data}/{t}.parquet/*.parquet')")
        ref, self.warm_s = {}, 0.0
        for name in self.wl.queries:
            fn, oracle = self.registry[name]
            self.attempted += 1
            j0 = self.reader.next_job_id()
            try:
                t0 = time.perf_counter()
                df = fn(self.spark, self.data).persist()
                ck = checksum(df)
                wall = time.perf_counter() - t0
                self.warm_s += wall
                err = None if oracle is None else compare(
                    df.toPandas(), con.sql(oracle).df())
                verify = time.perf_counter() - t0 - wall
            except Exception as exc:  # one broken query must not stop the run
                err = f"{type(exc).__name__}: {exc}"
            self.spark.catalog.clearCache()
            self.reader.read(j0, self.reader.next_job_id(), False)
            if err:
                self._fail(name, "warm", err)
            else:
                ref[name] = ck
            self.rows.append({"pass": "warm", "query": name,
                              "wall_s": round(wall, 4) if not err else None,
                              "verify_s": round(verify, 4) if not err else None,
                              "oracle": "fail" if err else "pass" if oracle else
                              "checksum-only: the registry has no oracle_sql",
                              "checksum": None if err else list(ck)})
        con.close()
        return ref

    def _fail(self, name: str, where: str, err: str) -> None:
        self.failed += 1
        self.errors.append(f"{where} {name}: {err[:300]}")
        print(f"# {where} {name}: {err[:300]}", file=sys.stderr)

    # -- timed passes -----------------------------------------------------
    def collect_garbage(self) -> None:
        """Start a pass from the same heap state: release the Python
        proxies of the last pass's JVM objects, then run a full JVM GC so
        that Spark's context cleaner drops their checkpoint blocks,
        shuffle files and broadcasts before the pass, not during it."""
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def run_pass(self, ref: dict, traced: bool, index: int | str) -> dict:
        self.collect_garbage()
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        tr = self.tracer
        tr.enabled = traced
        p = {"traced": traced, "walls": {}, "jobs": 0, "build_jobs": 0,
             "build_s": 0.0, "uncovered_s": 0.0, "stages": [], "census": None}
        if traced:
            p["census"] = Census()
            pass_span = tr.open("pass", str(index))
        for name in order:
            fn = self.registry[name][0]
            self.attempted += 1
            j0 = self.reader.next_job_id()
            w0 = time.time()
            try:
                if traced:
                    q = tr.open("query", name)
                    b = tr.open("build", name)
                    df = fn(self.spark, self.data)
                    tr.close(b)
                    a = tr.open("action", name)
                    ck = checksum(df)
                    tr.close(a)
                    tr.close(q)
                else:
                    t0 = time.perf_counter()
                    ck = checksum(fn(self.spark, self.data))
                    wall = time.perf_counter() - t0
                err = None if ck == ref.get(name) else (
                    f"checksum {ck} != verified {ref.get(name)}")
            except Exception as exc:
                err = f"{type(exc).__name__}: {exc}"
                while traced and tr._stack[-1] != pass_span:
                    tr.close(tr._stack[-1])
            if traced and not err:
                wall = tr.spans[q].end - tr.spans[q].start
            w1 = time.time()
            j1 = self.reader.next_job_id()
            self.spark.catalog.clearCache()
            win = self.reader.read(j0, j1, traced)
            if err:
                self._fail(name, f"pass{index}", err)
                continue
            p["walls"][name] = wall
            p["jobs"] += len(win.jobs)
            p["stages"] += win.stages
            p["uncovered_s"] += (w1 - w0) - win.covered_s(w0, w1)
            row = {"pass": index, "traced": traced, "query": name,
                   "wall_s": round(wall, 4), "jobs": len(win.jobs),
                   "stages": len(win.stages),
                   "tasks": sum(s.tasks for s in win.stages),
                   "task_s": round(win.task_s, 3),
                   "cpu_s": round(sum(st.cpu_s for st in win.stages), 3),
                   "shuffle_write_b": sum(s.shuffle_write_b for s in win.stages),
                   "shuffle_read_b": sum(s.shuffle_read_b for s in win.stages)}
            if traced:
                tr.attach_jobs(q, win.jobs)
                build = tr.spans[b]
                p["build_s"] += build.end - build.start
                p["build_jobs"] += build.job_hi - build.job_lo
                p["census"].add(win.census)
                row["census"] = vars(win.census)
            self.rows.append(row)
        if traced:
            tr.close(pass_span)
        tr.enabled = False
        return p

    # -- metrics ----------------------------------------------------------
    def end_to_end(self, passes: list[dict]) -> dict:
        med = lambda f: _median([f(p) for p in passes])  # noqa: E731
        return {
            "setup_s": self.start_s + self.warm_s,
            # Each query's median over the passes, summed: a stall in one
            # query (host noise only ever adds time) then moves that
            # query's sample alone, not the whole pass it fell in.
            "wall_s": sum(_median([p["walls"][q] for p in passes if q in p["walls"]])
                          for q in self.wl.queries),
            "jobs": med(lambda p: p["jobs"]),
        }

    def per_layer(self, passes: list[dict], module_totals: dict) -> dict:
        traced = [p for p in passes if p["traced"]]
        plain = [p for p in passes if not p["traced"]]
        med = lambda f: _median([f(p) for p in traced])  # noqa: E731
        st = lambda f: med(lambda p: sum(f(s) for s in p["stages"]))  # noqa: E731
        cen = lambda k: med(lambda p: getattr(p["census"], k))  # noqa: E731
        wall = med(lambda p: sum(p["walls"].values()))
        task = st(lambda s: s.run_s)
        mb = 1e6
        m = {
            "session.start_s": (self.start_s, "s"),
            "session.warm_s": (self.warm_s, "s"),
            "queries.build_s": (med(lambda p: p["build_s"]), "s"),
            "queries.build_jobs": (med(lambda p: p["build_jobs"]), "count"),
            "plan.catalyst_s": (cen("plan_s"), "s"),
            "plan.executions": (cen("executions"), "count"),
            "plan.exchanges": (cen("exchanges"), "count"),
            "plan.smj": (cen("smj"), "count"),
            "plan.bhj": (cen("bhj"), "count"),
            "plan.scans": (cen("scans"), "count"),
            "plan.python_nodes": (cen("python_nodes"), "count"),
            "plan.nodes": (cen("nodes"), "count"),
            "sched.jobs": (med(lambda p: p["jobs"]), "count"),
            "sched.stages": (med(lambda p: len(p["stages"])), "count"),
            "sched.tasks": (st(lambda s: s.tasks), "count"),
            "sched.shuffle_partitions": (int(self.spark.conf.get(
                "spark.sql.shuffle.partitions")), "count"),
            "exec.task_s": (task, "s"),
            "exec.cpu_s": (st(lambda s: s.cpu_s), "s"),
            "exec.gc_s": (st(lambda s: s.gc_s), "s"),
            "exec.shuffle_write_mb": (st(lambda s: s.shuffle_write_b) / mb, "MB"),
            "exec.shuffle_read_mb": (st(lambda s: s.shuffle_read_b) / mb, "MB"),
            "exec.spill_mb": (st(lambda s: s.spill_b) / mb, "MB"),
            "exec.input_mb": (st(lambda s: s.input_b) / mb, "MB"),
            "exec.busy_cores": (task / wall if wall else 0.0, "cores"),
            "python.rows": (cen("python_rows"), "count"),
            "python.sent_mb": (cen("python_sent_b") / mb, "MB"),
            "python.recv_mb": (cen("python_recv_b") / mb, "MB"),
            "python.worker_init_s": (cen("python_worker_init_s"), "s"),
            "python.stage_tasks": (st(lambda s: s.tasks if s.python else 0), "count"),
            "python.task_s": (st(lambda s: s.run_s if s.python else 0.0), "s"),
            "driver.uncovered_s": (med(lambda p: p["uncovered_s"]), "s"),
            "driver.result_mb": (st(lambda s: s.result_b) / mb, "MB"),
            "trace.wall_s": (wall, "s"),
            "trace.overhead_s": (
                wall - _median([sum(p["walls"].values()) for p in plain]) if plain else 0.0,
                "s"),
        }
        n = len(traced) or 1
        for label in MODULES:
            t = module_totals.get(label, {"calls": 0, "self_s": 0.0, "jobs": 0})
            m[f"{label}.calls"] = (t["calls"] / n, "count")
            m[f"{label}.self_s"] = (t["self_s"] / n, "s")
            m[f"{label}.jobs"] = (t["jobs"] / n, "count")
        return {k: (v, u) for k, (v, u) in m.items()}

    def environment(self) -> dict:
        import pyspark
        try:
            commit = subprocess.run(
                ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                text=True, timeout=10).stdout.strip() or None
        except OSError:
            commit = None
        jvm = self.spark.sparkContext._jvm
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
            "shuffle_partitions": self.spark.conf.get("spark.sql.shuffle.partitions"),
            "pyspark": pyspark.__version__,
            "jdk": jvm.System.getProperty("java.version"),
            "workload": self.wl.name, "sf": self.wl.sf,
            "replicas": self.wl.replicas, "files": self.wl.files,
            "seed": self.args.seed, "git_commit": commit,
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # The engine under test must come from this checkout.
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    import dask_spark  # noqa: F401  (fails fast outside a checkout)

    from inputs import materialize_inputs

    wl = WORKLOADS[args.workload]
    clock = time.perf_counter()
    data = materialize_inputs(STATE / "inputs", wl.sf, args.seed,
                              wl.replicas, wl.files)
    phases = {"inputs_s": time.perf_counter() - clock}
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ["SPARK_LOCAL_DIRS"] = str(STATE / "spark-local")
    os.environ["TMPDIR"] = str(STATE / "tmp")

    bench = Bench(args)
    bench.start(data)
    try:
        clock = time.perf_counter()
        ref = bench.warm_and_verify()
        phases["warm_and_verify_s"] = time.perf_counter() - clock
        if args.trace:
            bench.tracer.install("dask_spark")
        clock, passes = time.perf_counter(), []
        n = max(1 + 2 * args.trace, round(args.seconds / PASS_S))
        for i in range(n):
            traced = bool(args.trace) and traced_pass(i, n)
            passes.append(bench.run_pass(ref, traced, i))
        metrics = (bench.per_layer(passes, bench.tracer.module_totals())
                   if args.trace else
                   {k: (v, END_TO_END[k]) for k, v in bench.end_to_end(passes).items()})
        env = bench.environment()
        hwm = [_status_mb(p, "VmHWM") for p in bench.pids]
        phases["timed_s"] = time.perf_counter() - clock
    finally:
        bench.stop()

    out = STATE / "results"
    out.mkdir(parents=True, exist_ok=True)
    (out / f"{wl.name}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps({"environment": env, "phases": phases,
                    "vm_hwm_mb": hwm,
                    "passes": len(passes),
                    "metrics": {k: v for k, (v, _) in metrics.items()},
                    "errors": bench.errors, "queries": bench.rows,
                    "spans": bench.tracer.dump() if args.trace else []},
                   indent=1, default=str))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
