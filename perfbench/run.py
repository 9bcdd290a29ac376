"""Closed-loop benchmark of spark_query_engine: one client, one query at a time.

Run from the repository root (Python workers find the package through the
working directory, as they do under the tests and bench.py)::

    python3 perfbench/run.py --workload jvm --seed 1 --seconds 12 --trace 0

One run is a fresh process:

1. set-up: imports, ``session.get_session()``, ``queries.queries()``;
2. with ``--trace 1`` only, the first pass, cold (``first_pass_s``);
3. the oracle pass, untimed: every result is collected and compared with
   its DuckDB oracle (without ``--trace`` this is the cold pass);
4. settle passes, untimed, as many as the workload needs (workloads.py):
   after the cold pass the JIT is still warming;
5. timed passes until ``--seconds`` have elapsed.

A pass runs every query of the workload once, in an order shuffled by the
seed, each into a ``noop`` sink and followed by ``spark.catalog.clearCache()``.
The inputs are the fixed tables under ``perfbench/data``; the seed only
orders the queries.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates traced
and untraced timed passes and prints the per-layer metrics (medians over
the traced passes; /proc CPU over the untraced ones) plus the tracing
overhead, and writes the spans to ``perfbench/out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median

import procfs
from tracing import SparkStatus, Tracer, instrument, plan_counts, union_length
from workloads import SETTLE_PASSES, WORKLOADS

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SF = "0.01"
DATA = HERE / "data" / f"sf{SF}"
OUT = HERE / "out"
DRIVER_MEM = "4g"

# per-query numbers a traced pass sums
LAYER_SUMS = (
    "queries.build_s", "queries.build_jobs", "queries.load_calls",
    "operators.cut_lineage_calls", "operators.cut_lineage_s",
    "plan.plan_s", "plan.exchanges", "plan.python_nodes",
    "exec.exec_s", "exec.jobs", "exec.stages", "exec.tasks", "exec.idle_s",
    "exec.executor_run_s", "exec.task_cpu_s", "exec.gc_s",
    "exec.shuffle_write_mb", "exec.spill_mb", "exec.failed_tasks",
)
PHASE_TIME = {"build": "queries.build_s", "plan": "plan.plan_s", "exec": "exec.exec_s"}


def process_age_s() -> float:
    """Seconds since this process started, interpreter start-up included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass
class PassResult:
    order: list[str]
    wall_s: float
    latencies: list[float]
    cpu: procfs.CpuSample
    layers: dict[str, float] = field(default_factory=dict)


@dataclass
class Tally:
    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok


class Bench:
    """Runs passes over one workload's queries on one SparkSession."""

    def __init__(self, spark, fns: dict, sf_dir: str, cores: int, jvm_pid: int, tracer: Tracer) -> None:
        self.spark = spark
        self.sc = spark.sparkContext
        self.fns = fns
        self.sf_dir = sf_dir
        self.cores = cores
        self.jvm_pid = jvm_pid
        self.tracer = tracer
        self.status = SparkStatus(self.sc)
        self.tally = Tally()

    def _fail(self, name: str, what: str) -> None:
        print(f"FAIL {name}: {what}", file=sys.stderr, flush=True)

    def run_pass(self, order: list[str], label: str, traced: bool = False) -> PassResult:
        cpu0 = procfs.cpu_sample(self.jvm_pid)
        layers: dict[str, float] = {}
        latencies = []
        t0 = time.perf_counter()
        with self.tracer.span("pass", trace_id=label) if traced else contextlib.nullcontext():
            for name in order:
                if traced:
                    ok, lat = self._traced_query(name, f"{label}.{name}", layers)
                else:
                    ok, lat = self._query(name)
                self.tally.record(ok)
                latencies.append(lat)
        wall = time.perf_counter() - t0
        cpu = procfs.cpu_sample(self.jvm_pid) - cpu0
        if traced:
            layers["exec.core_busy_ratio"] = layers["exec.executor_run_s"] / (sum(latencies) * self.cores)
        return PassResult(order, wall, latencies, cpu, layers)

    def _query(self, name: str) -> tuple[bool, float]:
        t = time.perf_counter()
        ok = True
        try:
            self.fns[name](self.spark, self.sf_dir).write.format("noop").mode("overwrite").save()
        except Exception:  # a failing query stays in the mix and is counted
            ok = False
            self._fail(name, traceback.format_exc(limit=2))
        lat = time.perf_counter() - t
        self.spark.catalog.clearCache()
        return ok, lat

    def _traced_query(self, name: str, qid: str, layers: dict[str, float]) -> tuple[bool, float]:
        tr = self.tracer
        phases: dict[str, int] = {}

        @contextlib.contextmanager
        def phase(p: str):
            self.sc.setJobGroup(f"{qid}.{p}", name)
            with tr.span(p) as idx:
                phases[p] = idx
                yield idx

        ok = True
        t = time.perf_counter()
        with tr.span("query", trace_id=qid) as q:
            try:
                with phase("build"):
                    df = self.fns[name](self.spark, self.sf_dir)
                with phase("plan") as p:
                    plan = df._jdf.queryExecution().executedPlan().toString()
                tr.spans[p].counts.update(zip(("plan.exchanges", "plan.python_nodes"), plan_counts(plan)))
                with phase("exec"):
                    df.write.format("noop").mode("overwrite").save()
            except Exception:
                ok = False
                self._fail(name, traceback.format_exc(limit=2))
            finally:
                self.sc._jsc.clearJobGroup()
        lat = time.perf_counter() - t
        self.spark.catalog.clearCache()
        ok = self._account(q, qid, phases, layers) and ok
        return ok, lat

    def _account(self, q: int, qid: str, phases: dict[str, int], layers: dict[str, float]) -> bool:
        """Attach the query's Spark stages as spans and add its numbers to the pass."""
        tr = self.tracer
        self.status.settle()
        query = tr.spans[q]
        add = dict.fromkeys(LAYER_SUMS, 0.0)
        intervals = []
        for phase, idx in phases.items():
            span = tr.spans[idx]
            add.update(span.counts)
            add[PHASE_TIME[phase]] += span.end - span.start
            jobs = self.status.jobs(f"{qid}.{phase}")
            if phase == "build":
                add["queries.build_jobs"] += len(jobs)
            add["exec.jobs"] += len(jobs)
            for st in self.status.stages(jobs):
                tr.add(
                    "stage", idx, st.start, st.end, tasks=st.tasks, failed_tasks=st.failed_tasks,
                    executor_run_s=st.run_s, shuffle_write_b=st.shuffle_write_b,
                )
                intervals.append((max(st.start, query.start), min(st.end, query.end)))
                add["exec.stages"] += 1
                add["exec.tasks"] += st.tasks
                add["exec.failed_tasks"] += st.failed_tasks
                add["exec.executor_run_s"] += st.run_s
                add["exec.task_cpu_s"] += st.cpu_s
                add["exec.gc_s"] += st.gc_s
                add["exec.shuffle_write_mb"] += st.shuffle_write_b / 2**20
                add["exec.spill_mb"] += st.spill_b / 2**20
        for s in tr.spans[q:]:
            if s.trace_id == qid and s.name == "load":
                add["queries.load_calls"] += 1
            elif s.trace_id == qid and s.name == "cut_lineage":
                add["operators.cut_lineage_calls"] += 1
                add["operators.cut_lineage_s"] += s.end - s.start
        add["exec.idle_s"] = (query.end - query.start) - union_length(intervals)
        query.counts.update(add)
        for k, v in add.items():
            layers[k] = layers.get(k, 0) + v
        return add["exec.failed_tasks"] == 0

    def oracle_pass(self, order: list[str], oracles: dict[str, str]) -> None:
        """Collect every result and compare it with its DuckDB oracle over the same tables."""
        # imported here, after set-up is timed: the checker is not part of the engine
        import duckdb

        from tools.check_correctness import TABLES, compare

        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')")
        for name in order:
            group = f"oracle.{name}"
            self.sc.setJobGroup(group, name)
            try:
                got = self.fns[name](self.spark, self.sf_dir).toPandas()
            except Exception:
                self.tally.record(False)
                self._fail(name, traceback.format_exc(limit=2))
                continue
            finally:
                self.sc._jsc.clearJobGroup()
                self.spark.catalog.clearCache()
            self.status.settle()
            failed_tasks = sum(s.failed_tasks for s in self.status.stages(self.status.jobs(group)))
            try:
                ok, msg = compare(got, con.sql(oracles[name]).df())
            except Exception as e:  # an oracle that cannot run cannot vouch for the result
                ok, msg = False, f"oracle error: {e}"
            if failed_tasks:
                ok, msg = False, f"{failed_tasks} failed tasks"
            self.tally.record(ok)
            if not ok:
                self._fail(name, f"oracle mismatch: {msg}")
        con.close()


def shutdown(spark) -> None:
    """Stop Spark and wait for the JVM (and the Python workers it owns) to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def bench(args, cores: int) -> int:
    names = WORKLOADS[args.workload]
    print(f"# start workload={args.workload} seed={args.seed} cores={cores} sf={SF} driver_mem={DRIVER_MEM} cwd={os.getcwd()} "
          f"{procfs.ambient()}", flush=True)
    sys.path.insert(0, str(ROOT))
    try:
        import pyspark

        from spark_query_engine import operators, queries, session
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2

    t = time.monotonic()
    spark = session.get_session()
    session_start_s = time.monotonic() - t
    fns = queries.queries()
    setup_s = process_age_s()
    try:
        oracles = queries.oracle_sql()
        missing = [n for n in names if n not in fns or n not in oracles]
        if missing:
            print(f"perfbench: no such query, or no oracle for it: {missing}", file=sys.stderr)
            return 2
        java = spark.sparkContext._jvm.System.getProperty("java.version")
        print(f"# versions pyspark={pyspark.__version__} java={java}", flush=True)

        jvm_pid = spark.sparkContext._gateway.proc.pid
        tracer = Tracer()
        if args.trace:
            instrument(tracer, queries, operators)
        b = Bench(spark, fns, str(DATA), cores, jvm_pid, tracer)
        rng = random.Random(args.seed)

        def order() -> list[str]:
            return rng.sample(names, len(names))

        # first_pass_s is a per-layer metric: without --trace the oracle pass is
        # the cold pass, which leaves more of the run's time for timed passes
        first = b.run_pass(order(), "first") if args.trace else None
        b.oracle_pass(order(), oracles)
        for i in range(SETTLE_PASSES[args.workload]):
            b.run_pass(order(), f"settle{i}")

        plain: list[PassResult] = []
        traced: list[PassResult] = []
        t0 = time.monotonic()
        with tracer.span("run", trace_id=f"{args.workload}.seed{args.seed}") if args.trace else contextlib.nullcontext():
            while True:
                trace_this = bool(args.trace) and len(traced) <= len(plain)
                tracer.active = trace_this
                res = b.run_pass(order(), f"p{len(plain) + len(traced)}", traced=trace_this)
                tracer.active = False
                (traced if trace_this else plain).append(res)
                if time.monotonic() - t0 >= args.seconds and plain and (traced or not args.trace):
                    break
        peak_rss = procfs.peak_rss_mb()
    finally:
        shutdown(spark)
    print(f"# end wall_s={process_age_s():.1f} {procfs.ambient()}", flush=True)

    # each query's median latency over the timed passes; their median is the
    # query p50 (a pass lists its latencies in its own shuffled order)
    per_query: dict[str, list[float]] = {}
    for p in plain:
        for name, lat in zip(p.order, p.latencies):
            per_query.setdefault(name, []).append(lat)
    e2e = {
        "setup_s": (setup_s, "s"),
        "pass_s": (median([p.wall_s for p in plain]), "s"),
        "query_p50_s": (median([median(v) for v in per_query.values()]), "s"),
        "cpu_s": (median([p.cpu.total for p in plain]), "s"),
    }
    tally = b.tally
    print(f"# timed passes={len(plain)} traced passes={len(traced)} query samples={sum(map(len, per_query.values()))}")
    print("# passes wall_s=" + " ".join(f"{p.wall_s:.2f}" for p in plain)
          + " cpu_s=" + " ".join(f"{p.cpu.total:.2f}" for p in plain))
    print(f"failed_ratio {tally.failed / max(tally.attempted, 1):.4f} ({tally.failed}/{tally.attempted})")
    # one sample a run each, too spread across runs to hold a bound: per-layer only
    once = {"peak_rss_mb": (peak_rss, "MB")}
    if first is not None:
        once["first_pass_s"] = (first.wall_s, "s")
    for k, (v, u) in {**once, **e2e}.items():
        print(f"{k} {v:.4f} {u}")
    if args.trace:
        layer = {"session.start_s": (session_start_s, "s"), **once}
        units = {"s": "s", "mb": "MB", "ratio": "ratio"}
        for k in traced[0].layers:
            unit = units.get(k.rsplit("_", 1)[-1], "count")
            layer[k] = (median([p.layers[k] for p in traced]), unit)
        for name, attr in (("pyworker.cpu_s", "pyworker"), ("driver.cpu_s", "driver"), ("jvm.cpu_s", "jvm")):
            layer[name] = (median([getattr(p.cpu, attr) for p in plain]), "s")
        traced_pass = median([p.wall_s for p in traced])
        layer["trace.pass_s"] = (traced_pass, "s")
        layer["trace.overhead_s"] = (traced_pass - e2e["pass_s"][0], "s")
        for k, (v, u) in layer.items():
            print(f"{k} {v:.4f} {u}")
        OUT.mkdir(exist_ok=True)
        dump = OUT / f"trace-{args.workload}-seed{args.seed}-{os.getpid()}.json"
        dump.write_text(json.dumps(tracer.to_json()))
        print(f"# spans written to {dump.relative_to(ROOT)}")
        metrics = layer
    else:
        metrics = e2e
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0


def pin_environment() -> tuple[int, str]:
    """Pin cores, driver heap and temp directories for this process and the JVM it starts.

    Returns the core count and a fresh temp directory the caller removes.
    """
    cores = len(os.sched_getaffinity(0))
    OUT.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=OUT)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # the engine's default 16g driver heap lets one run grow past 8 GB resident
    os.environ["SPARK_QE_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # the JVM would otherwise write its temp files and perf-data file under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return cores, tmp


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not DATA.is_dir():
        print(f"perfbench: input tables missing at {DATA}", file=sys.stderr)
        return 2
    cores, tmp = pin_environment()
    # on SIGTERM, unwind so Spark is stopped and the temp directory removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return bench(args, cores)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
