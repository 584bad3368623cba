"""Spans and per-layer counters for the traced run.

Spans are recorded here, in the benchmark, around the calls into each
layer (``session.get_spark``, a query's construction, the
``executedPlan()`` call, the action). Counters are read after each query
execution from what Spark already keeps, with the UI off:

* the SQL status store (``executionMetrics`` / ``planGraph``) for
  operator and scan metrics of every SQL execution the query started;
* the application status store for stages and per-task run times;
* the DAG scheduler's job and stage id counters for jobs and stages
  started, including jobs run while the query was being *built*;
* the code generator's compile-time counter;
* a ``StreamingQueryListener`` for micro-batch progress.

Everything is kept in memory and written out once, at the end of a run.
"""

from __future__ import annotations

import hashlib
import json
import re
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3}
_AGGREGATES = ("HashAggregate", "ObjectHashAggregate", "SortAggregate")
# Every counter one query execution contributes; a pass sums them.
COUNTERS = [
    "queries.build_s", "queries.build_jobs", "plans.plan_s", "plans.nodes",
    "spark.action_s", "spark.jobs", "spark.stages", "spark.tasks",
    "sources.scan_ms", "sources.scan_rows", "sources.scan_mb", "sources.scan_splits",
    "operators.agg_build_ms", "operators.agg_peak_mb", "operators.shuffle_write_mb",
    "operators.shuffle_records", "operators.sort_ms", "operators.spill_mb",
    "operators.broadcast_build_ms", "operators.codegen_ms",
    "operators.python_eval_ms", "operators.python_rows",
    "streaming.batches", "streaming.trigger_ms", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.commit_ms", "streaming.state_rows",
    "streaming.state_commit_ms", "streaming.state_mem_mb",
]
# Value of a counter where its layer did no work; every other counter is 0.
IDLE = {"spark.task_skew": 1.0}


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric, in ms for timings, MiB for sizes
    and as a plain number for counts ('1.0 s', '16.2 MiB', '32,496').
    Multi-line ``total (min, med, max)`` forms read their total."""
    s = text.strip().splitlines()[-1].split(" (")[0].strip()
    num, _, unit = s.partition(" ")
    value = float(num.replace(",", ""))
    if unit in _SIZE:
        return value * _SIZE[unit] / (1 << 20)
    if unit in _TIME_MS:
        return value * _TIME_MS[unit]
    return value


_DOT_NODE = re.compile(r'^\s*\d+ \[id="node\d+" labelType="html" label="((?:[^"\\]|\\.)*)"', re.M)


_METRIC_START = re.compile(
    r"^([A-Za-z][^:(]*?)(?: total \(min, med, max \(stageId: taskId\)\))?(?:: ?(.*))?$"
)


def _dot_nodes(dot: str):
    """(node name, {metric name: formatted value}) for each plan node of
    a SparkPlanGraph DOT file: ``<b>name</b><br><br>metric: value<br>...``,
    where a metric over several tasks reads ``metric total (min, med, max
    (stageId: taskId))<br>total (min, med, max (...))``."""
    for m in _DOT_NODE.finditer(dot):
        head, _, body = m.group(1).partition("</b>")
        name = head.rsplit("<b>", 1)[-1].strip()
        metrics: dict[str, str] = {}
        key = None
        for item in body.split("<br>"):
            start = _METRIC_START.match(item)
            if start:
                key = start.group(1)
                metrics[key] = start.group(2) or ""
            elif key is not None and item:  # value line of a multi-task metric
                metrics[key] += "\n" + item
        yield name, metrics


def plan_fingerprint(tree: str, data_dir: str) -> str:
    """Executed-plan text with expression and plan ids and the input
    directory stripped, so equal plans on any seed hash equal."""
    s = tree.replace(data_dir, "<data>")
    s = re.sub(r"#\d+L?", "#", s)
    s = re.sub(r"(plan_id|id)=\d+", r"\1=", s)
    s = re.sub(r"(subquery|Subquery|ReusedExchange|ReusedSubquery)(#?)\d+", r"\1", s)
    return hashlib.sha256(s.encode()).hexdigest()[:16]


class _ProgressListener(StreamingQueryListener):
    def __init__(self, sink: list) -> None:
        self._sink = sink

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self._sink.append(event.progress)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class Tracer:
    """Spans plus the status-store readers, for one SparkSession."""

    def __init__(self, t0: float) -> None:
        self.t0 = t0
        self.spans: list[dict] = []
        self.progress: list = []
        self._listener = _ProgressListener(self.progress)
        self._next_span = 0
        self.spark = None

    @contextmanager
    def span(self, name: str, parent: int | None = None, exec_id: str | None = None):
        sid = self._next_span
        self._next_span += 1
        rec = {"id": sid, "name": name, "parent": parent, "exec": exec_id,
               "start": time.perf_counter() - self.t0}
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self.spans.append(rec)

    # -- session-bound readers ------------------------------------------
    # Each Py4J round trip costs about half a millisecond, so every reader
    # fetches one whole object per call: a SQL execution as its plan-graph
    # DOT text with metric values, a stage as its REST-API JSON.

    def attach(self, spark) -> None:
        self.spark = spark
        jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._app_store = self._sc.statusStore()
        self._json = jvm.org.apache.spark.status.api.v1.JacksonMessageWriter().mapper()
        self._no_status = jvm.java.util.ArrayList()
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self._last_exec = -1

    def listen(self, on: bool) -> None:
        if on:
            self.spark.streams.addListener(self._listener)
        else:
            self.spark.streams.removeListener(self._listener)

    def counters(self) -> tuple[int, int, int]:
        dag = self._sc.dagScheduler()
        return int(dag.nextJobId()), int(dag.nextStageId()), int(self._codegen.compileTime())

    def begin(self) -> tuple[int, int, int]:
        """Mark the start of a query execution; ``read`` reports what
        happened after it."""
        self._sc.listenerBus().waitUntilEmpty()
        self._last_exec = self._max_execution_id()
        self.progress.clear()
        return self.counters()

    def read(self, before: tuple[int, int, int], after_build_jobs: int) -> dict:
        """Counters of everything started since ``before``. ``_seen``
        names the counters whose source reported a value, so a counter
        that reads 0 because its reader found nothing can be told apart
        from one that was reported as 0."""
        # deliver every pending listener event first, so the status
        # stores and the streaming listener are up to date
        self._sc.listenerBus().waitUntilEmpty()
        jobs1, stages1, compile1 = self.counters()
        jobs0, stages0, compile0 = before
        out = dict.fromkeys(COUNTERS, 0.0)
        out["_seen"] = {"queries.build_jobs", "spark.jobs", "operators.codegen_ms"}
        out["queries.build_jobs"] = after_build_jobs - jobs0
        out["spark.jobs"] = jobs1 - jobs0
        out["operators.codegen_ms"] = (compile1 - compile0) / 1e6
        self._read_sql(out)
        out["_stages"] = self._read_stages(out, range(stages0, stages1))
        self._read_progress(out)
        return out

    def _max_execution_id(self) -> int:
        store = self._sql_store
        n = int(store.executionsCount())
        return int(store.executionsList(n - 1, 1).head().executionId()) if n else -1

    def _read_sql(self, out: dict) -> None:
        """Operator and scan metrics of every SQL execution started since
        ``begin`` (execution ids are sequential)."""
        store = self._sql_store
        last = self._max_execution_id()
        out["_exchange_parts"] = out["_empty_parts"] = 0.0
        seen = out["_seen"]

        def add(counter: str, metrics: dict[str, str], key: str) -> None:
            if key in metrics:
                out[counter] += parse_metric(metrics[key])
                seen.add(counter)

        for eid in range(self._last_exec + 1, last + 1):
            try:
                dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            except Py4JJavaError:  # not retained by the store
                continue
            for name, m in _dot_nodes(dot):
                add("operators.spill_mb", m, "spill size")
                if name.startswith("Scan parquet"):
                    add("sources.scan_ms", m, "scan time")
                    add("sources.scan_rows", m, "number of output rows")
                    add("sources.scan_mb", m, "size of files read")
                elif name in _AGGREGATES:
                    add("operators.agg_build_ms", m, "time in aggregation build")
                    add("operators.agg_peak_mb", m, "peak memory")
                elif name == "Exchange":
                    add("operators.shuffle_write_mb", m, "shuffle bytes written")
                    add("operators.shuffle_records", m, "shuffle records written")
                    add("_exchange_parts", m, "number of partitions")
                elif name == "AQEShuffleRead":
                    add("_empty_parts", m, "number of empty partitions")
                elif name == "Sort":
                    add("operators.sort_ms", m, "sort time")
                elif name == "BroadcastExchange":
                    add("operators.broadcast_build_ms", m, "time to build")
                if "time to run Python workers" in m:
                    add("operators.python_eval_ms", m, "time to run Python workers")
                    add("operators.python_rows", m, "number of output rows")
        self._last_exec = max(self._last_exec, last)
        if "_empty_parts" in seen:
            seen.add("spark.empty_task_frac")

    def _read_stages(self, out: dict, stage_ids) -> list[tuple[int, float, float]]:
        """Count the stages and tasks that ran; return (tasks, total
        executor run time ms, longest task ms) for each stage."""
        stages = []
        for sid in stage_ids:
            try:
                attempts = self._app_store.stageData(
                    sid, True, self._no_status, False, self._no_quantiles)
            except Py4JJavaError:  # created but never submitted
                continue
            data = json.loads(self._json.writeValueAsString(attempts))
            if not data or data[-1]["status"] != "COMPLETE":
                continue
            stage = data[-1]
            out["spark.stages"] += 1
            out["spark.tasks"] += stage["numCompleteTasks"]
            task_ms = [float(t["taskMetrics"]["executorRunTime"])
                       for t in stage.get("tasks", {}).values() if "taskMetrics" in t]
            if task_ms:
                stages.append((len(task_ms), sum(task_ms), max(task_ms)))
        if stages:
            out["_seen"].update(("spark.stages", "spark.tasks", "spark.task_skew"))
        return stages

    def scan_splits(self, plan) -> int:
        """Input splits of the parquet scans of a (not yet executed)
        physical plan, as Spark computes them for each scan's RDD."""
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.inputPlan()
        return sum(
            int(leaf.inputRDD().getNumPartitions())
            for leaf in self._conv.asJava(plan.collectLeaves())
            if leaf.nodeName().startswith("Scan parquet")
        )

    def _read_progress(self, out: dict) -> None:
        last_by_run: dict[str, object] = {}
        if self.progress:
            out["_seen"].update(k for k in COUNTERS if k.startswith("streaming."))
        while self.progress:
            p = self.progress.pop(0)
            d = p.durationMs
            out["streaming.batches"] += 1
            out["streaming.trigger_ms"] += d.get("triggerExecution", 0)
            out["streaming.add_batch_ms"] += d.get("addBatch", 0)
            out["streaming.planning_ms"] += d.get("queryPlanning", 0)
            out["streaming.commit_ms"] += d.get("commitOffsets", 0) + d.get("walCommit", 0)
            out["streaming.state_commit_ms"] += sum(s.commitTimeMs for s in p.stateOperators)
            last_by_run[str(p.runId)] = p
        for p in last_by_run.values():
            out["streaming.state_rows"] += sum(s.numRowsTotal for s in p.stateOperators)
            out["streaming.state_mem_mb"] += (
                sum(s.memoryUsedBytes for s in p.stateOperators) / (1 << 20)
            )


def pass_layers(records: list[dict], cores: int) -> dict[str, float]:
    """Sum the per-query counters of one pass and derive its ratios."""
    total = {k: sum(r[k] for r in records) for k in COUNTERS}
    parts = sum(r["_exchange_parts"] for r in records)
    empty = sum(r["_empty_parts"] for r in records)
    total["spark.empty_task_frac"] = empty / parts if parts else 0.0
    total["spark.task_skew"] = task_skew([s for r in records for s in r["_stages"]], cores)
    return total


def task_skew(stages: list[tuple[int, float, float]], cores: int) -> float:
    """How serially the heaviest stage (most executor run time) ran: its
    longest task over its even share per core (total task time / cores),
    floored at 1. Reads 1 when the stage's work is spread over every core
    and ``cores`` when one task does all of it; 1.0 when nothing ran."""
    if not stages:
        return IDLE["spark.task_skew"]
    _, total_ms, max_ms = max(stages, key=lambda s: s[1])
    if total_ms <= 0:
        return IDLE["spark.task_skew"]
    return max(1.0, max_ms * cores / total_ms)
