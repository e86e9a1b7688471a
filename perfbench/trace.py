"""Span recorder for the traced run.

A span wraps one call into a layer (a registry query callable, a
``pipeline`` function, ``sources.io.save`` ...) or the final action
that forces its result. After each operation the recorder waits for
Spark's listener bus to drain and reads what ran inside the operation
from two status stores:

- the SparkContext store: jobs and stage attempts (run, CPU and GC
  time, shuffle write, spill, failed tasks);
- the SQL store: per-operator SQL metrics (Python-worker time and
  bytes, parquet bytes read and written).

Jobs, stage attempts and SQL executions belong to the span in which
they were submitted, not to a job group: streaming micro-batches and
thread pools inside an operation do not inherit the group, and the
benchmark runs one operation at a time, so the time window is exact.
The stores are read right after each operation, before Spark's
retention limits (1000 jobs, stages and executions) evict anything.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

from py4j.protocol import Py4JJavaError

_UNITS = {"B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_MB = 2.0 ** -20

# (layer metric, operator-name prefix, SQL metric name, scale to unit)
SQL_METRICS = (
    ("python.run_s", "", "time to run Python workers", 1.0),
    ("python.startup_s", "", "time to start Python workers", 1.0),
    ("python.startup_s", "", "time to initialize Python workers", 1.0),
    ("python.sent_mb", "", "data sent to Python workers", _MB),
    ("python.returned_mb", "", "data returned from Python workers", _MB),
    ("parquet.read_mb", "Scan parquet", "size of files read", _MB),
    ("parquet.written_mb", "", "written output", _MB),
    ("parquet.files_written", "", "number of written files", 1.0),
)
# summed per run of an operation; summarize() takes medians over runs
SPAN_SUMS = ("spark.jobs", "spark.tasks", "spark.driver_s", "spark.job_s",
             "spark.executor_run_s", "spark.executor_cpu_s", "spark.gc_s",
             "spark.shuffle_write_mb", "spark.spill_mb", "spark.task_failures",
             "plans.cached_rdds_left") + tuple(
                 dict.fromkeys(m[0] for m in SQL_METRICS))
CALL_LAYERS = ("registry", "pipeline")  # reported as <layer>.call_s/_jobs
OP_LAYERS = ("sources.save", "sources.load", "operators.slice_rows",
             "sources.read_csv")        # reported as <layer>_s


def metric_value(text: str) -> float:
    """A formatted SQL metric in base units (bytes, seconds or a count):
    '1.2 s', '12.0 MiB', '1,234', or the many-task form
    'total (min, med, max (stageId: taskId))\\n<total> (<min>, ...)'."""
    head = text.rsplit("\n", 1)[-1].split("(", 1)[0].split()
    if not head:
        return 0.0
    value = float(head[0].replace(",", ""))
    return value * _UNITS[head[1]] if len(head) > 1 else value


def _walk(nodes):
    for node in nodes:
        yield node
        yield from _walk(node.get("nodes") or ())


def _sql_metrics(nodes: list, values: dict) -> dict[str, float]:
    out: dict[str, float] = defaultdict(float)
    for node in _walk(nodes):
        for m in node["metrics"]:
            text = values.get(str(m["accumulatorId"]))
            for key, prefix, name, scale in SQL_METRICS:
                if text and m["name"] == name and node["name"].startswith(prefix):
                    out[key] += metric_value(text) * scale
    return out


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


class StatusStores:
    """Read-only JSON view of one session's status stores."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        self._sc = sc._jsc.sc()
        self._jsc = sc._jsc
        self._core = self._sc.statusStore()
        shared = spark._jsparkSession.sharedState()
        self._sql = shared.statusStore()
        self._cache = shared.cacheManager()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the status stores hold every event posted so far."""
        self._sc.listenerBus().waitUntilEmpty()

    def failed_tasks(self) -> int:
        self.drain()
        return sum(e["failedTasks"]
                   for e in self._json(self._core.executorList(True)))

    def jobs_started(self) -> int:
        """Jobs submitted to the scheduler since the context started."""
        return self._sc.dagScheduler().nextJobId()

    def cached(self) -> int:
        """Persistent RDDs, plus one if the CacheManager holds frames."""
        return (self._jsc.getPersistentRDDs().size()
                + (0 if self._cache.isEmpty() else 1))

    def last_ids(self) -> tuple[int, int]:
        """Highest job id and SQL execution id stored so far (-1: none)."""
        jobs = self._json(self._core.jobsList(None))
        n = self._sql.executionsCount()
        last = self._sql.executionsList(n - 1, 1).head().executionId() \
            if n else -1
        return max((j["jobId"] for j in jobs), default=-1), last

    def job(self, job_id: int) -> dict | None:
        try:
            return self._json(self._core.job(job_id))
        except Py4JJavaError:
            return None

    def stage_attempts(self, stage_id: int) -> list[dict]:
        try:
            return self._json(self._core.stageData(
                stage_id, False, self._no_tasks, False, self._no_quantiles))
        except Py4JJavaError:
            return []

    def execution(self, execution_id: int) -> dict | None:
        ex = self._sql.execution(execution_id)
        if not ex.isDefined():
            return None
        values = self._json(self._sql.executionMetrics(execution_id))
        graph = self._json(self._sql.planGraph(execution_id))
        return {"id": execution_id, "submitted": ex.get().submissionTime(),
                "metrics": _sql_metrics(graph["nodes"], values)}


def _fetch(get, start: int, lookahead: int = 4) -> tuple[list, int]:
    """Records ``start``, ``start + 1``, ... until ``lookahead``
    consecutive ids are missing; returns them and the next id."""
    out, i, misses = [], start, 0
    while misses < lookahead:
        rec = get(i + misses)
        if rec is None:
            misses += 1
            continue
        out.append(rec)
        i, misses = i + misses + 1, 0
    return out, i


class Tracer:
    def __init__(self, stores: StatusStores):
        self._stores = stores
        stores.drain()
        last_job, last_exec = stores.last_ids()
        self._next_job, self._next_exec = last_job + 1, last_exec + 1
        self.spans: list[dict] = []

    def record(self, pass_no: int, op, t0: float, t1: float, t2: float,
               cached: int) -> None:
        """Attribute what ran during ``op`` to its call span [t0, t1) and
        its action span [t1, t2] (epoch seconds). ``cached`` counts the
        persistent RDDs and cached frames left after the operation."""
        s = self._stores
        s.drain()
        jobs, self._next_job = _fetch(s.job, self._next_job)
        execs, self._next_exec = _fetch(s.execution, self._next_exec)
        lo_ms, hi_ms = t0 * 1e3 - 1, t2 * 1e3 + 1
        stages = [a for sid in sorted({i for j in jobs for i in j["stageIds"]})
                  for a in s.stage_attempts(sid)
                  if a.get("submissionTime")
                  and lo_ms <= a["submissionTime"] <= hi_ms]
        for kind, lo, hi in (("call", t0, t1), ("action", t1, t2)):
            if kind == "action" and op.action is None:
                continue
            mine = (lambda ms: ms < t1 * 1e3) if kind == "call" \
                else (lambda ms: ms >= t1 * 1e3)
            js = [j for j in jobs if mine(j["submissionTime"])]
            ss = [a for a in stages if mine(a["submissionTime"])]
            job_s = _covered([(j["submissionTime"] / 1e3,
                               (j.get("completionTime") or hi * 1e3) / 1e3)
                              for j in js], lo, hi)
            span = defaultdict(float, {
                "pass": pass_no, "op": op.name, "layer": op.layer,
                "span": kind, "start": lo, "end": hi,
                "spark.jobs": len(js), "spark.job_s": job_s,
                "spark.driver_s": hi - lo - job_s,
                "spark.tasks": sum(a["numCompleteTasks"] + a["numFailedTasks"]
                                   + a["numKilledTasks"] for a in ss),
                "spark.executor_run_s": sum(a["executorRunTime"]
                                            for a in ss) / 1e3,
                "spark.executor_cpu_s": sum(a["executorCpuTime"]
                                            for a in ss) / 1e9,
                "spark.gc_s": sum(a["jvmGcTime"] for a in ss) / 1e3,
                "spark.shuffle_write_mb": sum(a["shuffleWriteBytes"]
                                              for a in ss) * _MB,
                "spark.spill_mb": sum(a["memoryBytesSpilled"]
                                      for a in ss) * _MB,
                "spark.task_failures": sum(a["numFailedTasks"] for a in ss),
                "plans.cached_rdds_left": cached if kind == "call" else 0,
            })
            for x in execs:
                if mine(x["submitted"]):
                    for key, v in x["metrics"].items():
                        span[key] += v
            self.spans.append(dict(span))


def summarize(spans: list[dict], cores: int) -> dict[str, float]:
    """Per-layer metrics of one pass: each is summed over the spans of
    one run of an operation, the median over the operation's runs is
    taken, and the medians are summed over operations."""
    runs: dict[tuple, dict] = defaultdict(lambda: defaultdict(float))
    for sp in spans:
        acc = runs[sp["op"], sp["pass"]]
        dur = sp["end"] - sp["start"]
        for key in SPAN_SUMS:
            acc[key] += sp.get(key, 0.0)
        acc["trace.pass_s"] += dur
        if sp["layer"] in CALL_LAYERS and sp["span"] == "call":
            acc[f"{sp['layer']}.call_s"] += dur
            acc[f"{sp['layer']}.call_jobs"] += sp["spark.jobs"]
        elif sp["layer"] in OP_LAYERS:
            acc[f"{sp['layer']}_s"] += dur
    keys = (set(SPAN_SUMS) | {"trace.pass_s"}
            | {f"{la}.call_{m}" for la in CALL_LAYERS for m in ("s", "jobs")}
            | {f"{la}_s" for la in OP_LAYERS})
    by_op: dict[str, list[dict]] = defaultdict(list)
    for (op, _), acc in runs.items():
        by_op[op].append(acc)
    out = {k: sum(statistics.median(r.get(k, 0.0) for r in accs)
                  for accs in by_op.values())
           for k in sorted(keys)}
    busy = out["spark.job_s"] * cores
    out["spark.core_busy_frac"] = out["spark.executor_run_s"] / busy \
        if busy else 0.0
    return out
