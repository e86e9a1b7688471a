"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload compute --seed 1 --seconds 10 --trace 0

Run it from the repository root. Traffic model: a closed loop with one
client. One driver process runs one operation at a time on
``local[N]``, N being the CPU cores this process may run on; the next
operation starts when the previous one has finished. Every other engine
setting keeps the package's default.

A run builds the seed's inputs (once per seed, reused after) and starts
the JVM. It then sets the workload up ``SETUPS`` times (a new session
plus the workload's preparation) and runs one warm-up pass over the
operations. The timed window then runs the operations in order, round
after round, until ``--seconds`` have passed (each at least once), and
each per-operation figure is the median over that operation's runs:
``pass_s`` sums the wall times, ``query_geomean_s`` is their geometric
mean and ``jobs_per_pass`` sums the Spark jobs. ``setup_s`` is the
median set-up plus the warm-up pass, so work moved out of the timed
window into preparation or into a first call shows. The outputs are
checked after the timed window, so the checks stay outside every timed
metric. With ``--trace 1`` the first half of the window runs untraced
and the second half traced; the per-layer metrics come from the traced
half (``pass_s`` and ``query_geomean_s`` from the untraced one) and
``trace.overhead_frac`` compares the two halves.

The end-to-end metrics are ``setup_s`` and ``jobs_per_pass``. The wall
times of the timed window are per-layer metrics: on a shared 4-core
host they move with CPU steal by more than any bound a gate could use.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``; the lines before
it are a readable report and the host stamp. Spans of a traced run are
written to ``.perfbench/runs/``.
"""

from __future__ import annotations

import argparse
import itertools
import json
import math
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
SETUPS = 3

# name -> unit; the JSON carries exactly these (BENCHMARK.json lists them)
END_TO_END = {"setup_s": "s", "jobs_per_pass": "count"}
PER_LAYER = {
    "pass_s": "s", "query_geomean_s": "s",
    "registry.call_s": "s", "registry.call_jobs": "count",
    "pipeline.call_s": "s", "pipeline.call_jobs": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.driver_s": "s",
    "spark.job_s": "s", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.core_busy_frac": "ratio", "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB", "spark.task_failures": "count",
    "python.run_s": "s", "python.startup_s": "s", "python.sent_mb": "MB",
    "python.returned_mb": "MB", "parquet.read_mb": "MB",
    "parquet.written_mb": "MB", "parquet.files_written": "count",
    "sources.save_s": "s", "sources.load_s": "s",
    "operators.slice_rows_s": "s", "sources.read_csv_s": "s",
    "session.get_spark_s": "s", "plans.cached_rdds_left": "count",
    "host.peak_rss_mb": "MB", "host.cpu_s": "s",
    "host.steal_frac": "ratio", "trace.overhead_frac": "ratio",
    "save_rows_per_s": "rows/s", "load_rows_per_s": "rows/s",
    "csv_rows_per_s": "rows/s", "slice_s": "s",
    "stored_bytes_per_row": "B/row",
}


def _tmp() -> str:
    """This run's temporary directory, removed when the run ends."""
    return os.path.join(WORK, "tmp", str(os.getpid()))


def _environment() -> int:
    """Pin what the engine reads from the environment: the core count,
    the import path of its Python workers (they fail to import the
    package when it is not on PYTHONPATH), and every temporary directory
    inside the checkout. Returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = _tmp()
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(WORK, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(WORK, "warehouse"),
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp}",
    })
    sys.path.insert(0, ROOT)
    return cores


class Runner:
    """Runs operations and remembers, per operation, the result, CPU
    seconds and Spark jobs of each run and how often it raised or had a
    failed task."""

    def __init__(self, ctx, ops, stores, cpu_clock):
        self.ctx, self.ops, self.stores = ctx, ops, stores
        self.cpu_clock = cpu_clock
        self.cached0 = stores.cached()  # the workload's own, from prepare
        self.results: dict[str, list] = {op.name: [] for op in ops}
        self.failed: dict[str, int] = {op.name: 0 for op in ops}
        self.cpu: dict[str, list[float]] = {op.name: [] for op in ops}
        self.jobs: dict[str, list[int]] = {op.name: [] for op in ops}

    def one(self, op, tracer=None, rnd: int = 0) -> float:
        failed_before = self.stores.failed_tasks()
        cpu0, jobs0 = self.cpu_clock(), self.stores.jobs_started()
        t0 = time.time()
        t1 = None
        try:
            df = op.call(self.ctx)
            t1 = time.time()
            result = op.action(df) if op.action is not None else None
            self.results[op.name].append(result)
        except Exception:  # an operation that raises is a failure, not the end
            traceback.print_exc(file=sys.stderr)
            self.failed[op.name] += 1
        t2 = time.time()
        self.cpu[op.name].append(self.cpu_clock() - cpu0)
        self.jobs[op.name].append(self.stores.jobs_started() - jobs0)
        if self.stores.failed_tasks() > failed_before:
            self.failed[op.name] += 1
        if tracer is not None:
            tracer.record(rnd, op, t0, t1 or t2, t2,
                          self.stores.cached() - self.cached0)
        return t2 - t0

    def window(self, seconds: float, tracer=None) -> dict[str, list[float]]:
        """Runs the operations in order, round after round, until
        ``seconds`` have passed; each runs at least once. Returns the
        wall times of each operation."""
        times: dict[str, list[float]] = {op.name: [] for op in self.ops}
        deadline = time.perf_counter() + seconds
        for rnd in itertools.count():
            for op in self.ops:
                if rnd and time.perf_counter() >= deadline:
                    return times
                times[op.name].append(self.one(op, tracer, rnd))

    def reset(self) -> None:
        for name in self.failed:
            self.results[name], self.failed[name] = [], 0
            self.cpu[name], self.jobs[name] = [], []


def _stop(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM has ended
    (it exits when its standard input closes)."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)


def _medians(times: dict[str, list[float]]) -> dict[str, float]:
    return {name: statistics.median(ts) for name, ts in times.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tablite_spark", "session.py")):
        print(f"no tablite_spark package under {ROOT}", file=sys.stderr)
        return 2
    cores = _environment()

    from perfbench import host, inputs
    from perfbench.check import Checker
    from perfbench.trace import StatusStores, Tracer, summarize
    from perfbench.workloads import WORKLOADS, Ctx
    import __spark_entry__ as registry
    from tablite_spark.session import get_spark

    wl = WORKLOADS.get(args.workload)
    if wl is None:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    phases = {"start": time.perf_counter() - T_START}
    data = inputs.build(os.path.join(WORK, "inputs"), args.seed, wl.sizes)
    out = os.path.join(WORK, "out", f"{wl.name}-{os.getpid()}")

    phases["inputs"] = time.perf_counter() - T_START
    spark = get_spark("perfbench")  # launches the JVM; not set-up time
    phases["jvm"] = time.perf_counter() - T_START
    setups, get_spark_s = [], []
    for _ in range(SETUPS):
        spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        get_spark_s.append(time.perf_counter() - t0)
        ctx = Ctx(spark, data, out)
        wl.prepare(ctx)
        setups.append(time.perf_counter() - t0)
    stores = StatusStores(spark)
    runner = Runner(ctx, wl.ops, stores,
                    lambda: host.cpu_s(host.process_tree(os.getpid())))
    warmup = {op.name: runner.one(op) for op in wl.ops}
    warmup_s = sum(warmup.values())
    runner.reset()  # the warm-up pass does not count
    phases["setups"] = time.perf_counter() - T_START

    stamp = host.stamp(spark)
    cpu0 = host.cpu_times()
    rss = host.PeakRss(spark.sparkContext._jvm.ProcessHandle.current().pid())
    rss.start()
    untraced_s = args.seconds / 2 if args.trace else args.seconds
    untraced = runner.window(untraced_s)
    traced, tracer = {}, None
    if args.trace:
        tracer = Tracer(stores)
        traced = runner.window(args.seconds - untraced_s, tracer)
    peak_rss = rss.stop()
    stamp["steal_frac"] = host.steal_frac(cpu0, host.cpu_times())
    phases["timed"] = time.perf_counter() - T_START

    checker = Checker(ROOT, data, registry.oracle_sql())
    problems: dict[str, list[str]] = {}
    try:
        for op in wl.ops:
            if not runner.results[op.name]:
                continue  # every run raised; counted below
            try:
                found = checker.check(ctx, op, runner.results[op.name])
            except Exception as e:  # a check that raises is a wrong result
                found = [f"{type(e).__name__}: {str(e)[:300]}"]
            if found:
                problems[op.name] = found
    finally:
        checker.close()
    op_s = _medians(untraced)
    extra = wl.report(ctx, op_s) if wl.report else {}
    _stop(spark)
    shutil.rmtree(out, ignore_errors=True)
    shutil.rmtree(_tmp(), ignore_errors=True)
    phases["checked"] = time.perf_counter() - T_START

    runs = {name: len(ts) + len(traced.get(name, ()))
            for name, ts in untraced.items()}
    attempted = sum(runs.values())
    failed = sum(n if name in problems else min(runner.failed[name], n)
                 for name, n in runs.items())
    e2e = {
        "setup_s": statistics.median(setups) + warmup_s,
        "jobs_per_pass": sum(_medians(runner.jobs).values()),
        "pass_s": sum(op_s.values()),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(t) for t in op_s.values())),
    }
    op_cpu_s = _medians(runner.cpu)
    report = {"workload": wl.name, "seed": args.seed, "cores": cores,
              "runs": runs, "setups_s": setups, "warmup_s": warmup,
              "phases_s": phases, "failed_frac": failed / attempted,
              "op_s": op_s, "op_cpu_s": op_cpu_s,
              "pass_cpu_s": sum(op_cpu_s.values()), **e2e,
              "peak_rss_mb": peak_rss / 2.0 ** 20, **extra,
              "problems": problems}
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(e2e)
        layers.update(summarize(tracer.spans, cores))
        layers["host.peak_rss_mb"] = report["peak_rss_mb"]
        layers["host.cpu_s"] = report["pass_cpu_s"]
        layers.update(extra)
        layers["session.get_spark_s"] = statistics.median(get_spark_s)
        layers["host.steal_frac"] = stamp["steal_frac"]
        layers["trace.overhead_frac"] = (
            sum(_medians(traced).values()) / e2e["pass_s"] - 1)
        report["layers"] = layers
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
        spans_dir = os.path.join(WORK, "runs")
        os.makedirs(spans_dir, exist_ok=True)
        with open(os.path.join(spans_dir, f"{wl.name}-seed{args.seed}-"
                               f"{os.getpid()}.json"), "w") as fh:
            json.dump({"report": report, "host": stamp,
                       "spans": tracer.spans}, fh)
    else:
        metrics = {k: {"value": e2e[k], "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"report": report}, default=str))
    print(json.dumps({"host": stamp}))
    print(json.dumps({"correct": not problems and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
