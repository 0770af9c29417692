"""Spans and Spark counters recorded from outside the package.

A ``Tracer`` wraps the benchmark's own calls into the package's modules in
spans (name, start, end, parent, operation id) and, after each operation,
reads Spark's status stores for the jobs that operation started:

- ``AppStatusStore`` (jobs, stages, tasks, executor run/CPU/GC time, input,
  shuffle and spill bytes), found through a job group the tracer sets
  around each phase of the operation;
- the SQL status store (SQL metrics of the Python exec nodes and the plan
  graph around them) for the SQL executions those jobs belong to;
- ``QueryExecution.tracker`` phase times of the DataFrames the benchmark
  collects, and the JVM's codegen compile counter.

Everything stays in memory until ``dump``.  A disabled tracer records
nothing and sets no job group, so an untraced operation is exactly what a
caller runs.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

#: SQL-metric names of the Python exec nodes (``PythonSQLMetrics``)
PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_NODE = re.compile(r"InPandas|InArrow|Python")

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}


def parse_metric(text: str | None) -> float:
    """Numeric total of a formatted SQL metric.

    The SQL status store keeps metrics as display strings: sums as
    ``"1,234"`` (exact), sizes as ``"12.3 MiB"`` and times as ``"1.2 s"``
    (three significant digits).  Multi-task metrics carry the total first,
    then ``(min, med, max ...)`` on a second line."""
    if not text:
        return 0.0
    parts = text.strip().splitlines()[-1].split(" (")[0].split()
    try:
        value = float(parts[0].replace(",", ""))
    except (IndexError, ValueError):
        return 0.0
    if len(parts) == 1:
        return value
    unit = parts[1]
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None
        self._groups: list[tuple[str, str]] = []
        self._collected = []
        self._last_execution = -1
        #: wall time spent in the tracer's own bookkeeping (job groups,
        #: span records, counter reads) during traced operations
        self.cost_s = 0.0

    def attach(self, spark) -> None:
        """Bind to a (new) session; setup restarts the session."""
        self.spark = spark
        self.sc = spark.sparkContext
        self._last_execution = -1
        jvm = spark._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, phase: str | None = None):
        """Time a call into ``name``; ``phase`` puts its jobs under a job
        group of that name so they can be told apart afterwards."""
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        idx = len(self.spans)
        rec = {"name": name, "op": self._op, "phase": phase,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(idx)
        if phase is not None:
            group = f"perfbench-{self._op}-{phase}-{idx}"
            self._groups.append((phase, group))
            self.sc.setJobGroup(group, name)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if phase is not None:
                self.sc.setJobGroup("perfbench-idle", "between operations")
            if self._op is not None:
                self.cost_s += rec["start"] - t0 + time.perf_counter() - rec["end"]

    def collected(self, df) -> None:
        """Note a DataFrame the operation collected, for its Catalyst phases."""
        if self.enabled:
            self._collected.append(df)

    @contextmanager
    def operation(self, op_id: int, kind: str):
        if not self.enabled:
            yield {}
            return
        t0 = time.perf_counter()
        self._op, self._groups, self._collected = op_id, [], []
        codegen0 = self._codegen.getCount()
        rec = {"op": op_id, "kind": kind}
        self.cost_s += time.perf_counter() - t0
        with self.span(f"op.{kind}"):
            yield rec
        t1 = time.perf_counter()
        rec["codegen_compiles"] = self._codegen.getCount() - codegen0
        rec.update(self._engine_counters())
        self.ops.append(rec)
        self._op = None
        self.cost_s += time.perf_counter() - t1

    # -- Spark counters ----------------------------------------------------
    def _seq(self, x) -> list:
        return list(self._conv.asJava(x))

    def _engine_counters(self) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        out = {
            "jobs": 0, "build_jobs": 0, "stages": 0, "stages_skipped": 0, "tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "scan_rows": 0, "scan_bytes": 0, "output_bytes": 0,
            "shuffle_write_bytes": 0, "shuffle_read_bytes": 0, "spill_bytes": 0,
        }
        exec_intervals, all_jobs, stage_run = [], set(), {}
        for phase, group in self._groups:
            for job_id in tracker.getJobIdsForGroup(group):
                all_jobs.add(job_id)
                jd = store.job(job_id)
                out["jobs"] += 1
                if phase == "build":
                    out["build_jobs"] += 1
                sub, done = jd.submissionTime(), jd.completionTime()
                if phase == "exec" and sub.isDefined() and done.isDefined():
                    exec_intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                for stage_id in self._seq(jd.stageIds()):
                    sd = store.lastStageAttempt(stage_id)
                    out["stages"] += 1
                    if sd.status().toString() == "SKIPPED":
                        out["stages_skipped"] += 1
                        continue
                    out["tasks"] += sd.numTasks()
                    stage_run[stage_id] = sd.executorRunTime() / 1e3
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["gc_s"] += sd.jvmGcTime() / 1e3
                    out["scan_rows"] += sd.inputRecords()
                    out["scan_bytes"] += sd.inputBytes()
                    out["output_bytes"] += sd.outputBytes()
                    out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                    out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                    out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["job_union_s"] = union_length(exec_intervals)
        out.update(self._python_counters(all_jobs, stage_run))
        out.update(self._catalyst())
        return out

    def _catalyst(self) -> dict:
        total = opt_plan = 0.0
        for df in self._collected:
            phases = df._jdf.queryExecution().tracker().phases()
            for name in self._seq(phases.keys()):
                ms = phases.apply(name).durationMs() / 1e3
                total += ms
                if name != "analysis":  # analysis ran at build time
                    opt_plan += ms
        return {"catalyst_s": total, "catalyst_collect_s": opt_plan}

    def _python_counters(self, job_ids: set, stage_run: dict) -> dict:
        """SQL metrics of the Python exec nodes in this operation's SQL
        executions, and the run time of the stages those nodes ran in."""
        out = {"python_rows_in": 0, "python_rows_out": 0, "python_bytes_in": 0.0,
               "python_bytes_out": 0.0, "python_worker_s": 0.0, "python_stage_run_s": 0.0}
        sql = self.spark._jsparkSession.sharedState().statusStore()
        for ex in self._seq(sql.executionsList()):
            ex_id = ex.executionId()
            if ex_id <= self._last_execution or not job_ids & set(self._seq(ex.jobs().keySet())):
                continue
            self._last_execution = max(self._last_execution, ex_id)
            # one call for the plan text spares walking the graph node by
            # node when no Python exec node ran
            if not PY_NODE.search(ex.physicalPlanDescription()):
                continue
            graph = sql.planGraph(ex_id)
            nodes = {n.id(): n for n in self._seq(graph.allNodes())}
            python = [n for n in nodes.values() if PY_NODE.search(n.name())]
            if not python:
                continue
            values = sql.executionMetrics(ex_id)

            def metrics(node) -> dict:
                got = {}
                for m in self._seq(node.metrics()):
                    v = values.get(m.accumulatorId())
                    got[m.name()] = v.get() if v.isDefined() else None
                return got

            children: dict[int, list[int]] = {}
            for e in self._seq(graph.edges()):
                children.setdefault(e.toId(), []).append(e.fromId())
            for node in python:
                m = metrics(node)
                if PY_SENT not in m:
                    continue
                out["python_bytes_in"] += parse_metric(m[PY_SENT])
                out["python_bytes_out"] += parse_metric(m.get(PY_RECEIVED))
                out["python_worker_s"] += parse_metric(m.get(PY_RUN))
                out["python_rows_out"] += int(parse_metric(m.get("number of output rows")))
                # rows fed in: the row counts of the nearest nodes below
                todo = list(children.get(node.id(), []))
                while todo:
                    child = nodes.get(todo.pop())
                    if child is None:
                        continue
                    rows = metrics(child).get("number of output rows")
                    if rows is not None:
                        out["python_rows_in"] += int(parse_metric(rows))
                    else:
                        todo.extend(children.get(child.id(), []))
        if out["python_bytes_in"]:
            store = self.sc._jsc.sc().statusStore()
            for stage_id, run_s in stage_run.items():
                if self._runs_python(store.operationGraphForStage(stage_id).rootCluster()):
                    out["python_stage_run_s"] += run_s
        return out

    def _runs_python(self, cluster) -> bool:
        """Whether a stage's RDD operation graph holds a Python exec scope."""
        if PY_NODE.search(cluster.name()):
            return True
        return any(self._runs_python(c) for c in self._seq(cluster.childClusters()))

    # -- output ------------------------------------------------------------
    def self_times(self) -> dict[str, float]:
        """Per span name, summed over the operations: total duration minus
        the time its child spans cover."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            if s["op"] is not None:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child_time.get(i, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({**extra, "spans": self.spans, "operations": self.ops}, fh, default=str)
