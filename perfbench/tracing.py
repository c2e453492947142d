"""Per-layer tracing for the benchmark's traced run.

Everything here observes the engine from outside: it wraps public layer
functions (``sources.tables.load_table`` and the ``functions.skew`` rank
helpers) in this process, and reads Spark's own status store over py4j
after each operation.  No engine file is changed.
"""

from __future__ import annotations

import re
import sys
import time
from collections import Counter

from pyspark.sql import SparkSession

PACKAGE = "bigdataprocessingcoursework_nyc_rideshare_analysis__spark"

#: status-store retention for the traced run: the engine's session keeps only
#: 100 jobs / 100 stages / 10 SQL executions, and one event_ranking
#: operation alone can run more than 100 stages
TRACE_RETENTION = {
    "spark.ui.retainedJobs": "10000",
    "spark.ui.retainedStages": "10000",
    "spark.ui.retainedTasks": "200000",
    "spark.sql.ui.retainedExecutions": "2000",
}

SKEW_HELPERS = ("global_row_number", "keyed_row_number", "keyed_running_sum", "global_running_sum")

_SIZE_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_NODE = re.compile(r'\[id="node\d+" labelType="html" label="(.*?)" tooltip=')
_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def raise_status_retention() -> None:
    """Make every session this process builds keep deep status history.

    The engine's ``get_spark`` sets the retention caps on its builder; this
    re-applies larger ones just before ``getOrCreate`` so the traced run
    still goes through ``get_spark`` unchanged."""
    original = SparkSession.Builder.getOrCreate

    def get_or_create(builder):
        for key, value in TRACE_RETENTION.items():
            builder.config(key, value)
        return original(builder)

    SparkSession.Builder.getOrCreate = get_or_create


def _replace_everywhere(original, wrapper) -> None:
    """Rebind ``original`` to ``wrapper`` in every loaded engine module, so
    both module-level ``from x import f`` copies and call-time imports see
    the wrapper."""
    for name, module in list(sys.modules.items()):
        if module is None or not name.startswith(PACKAGE):
            continue
        for attr, value in list(vars(module).items()):
            if value is original:
                setattr(module, attr, wrapper)


def _metric_value(text: str) -> float:
    """``"1,234"`` -> 1234, ``"520.6 KiB"`` -> bytes."""
    number, _, unit = text.strip().partition(" ")
    return float(number.replace(",", "")) * _SIZE_UNITS.get(unit.strip(), 1)


def plan_nodes(dot: str) -> list[tuple[str, dict[str, str]]]:
    """(node name, {metric name: formatted value}) for every node of a
    ``SparkPlanGraph.makeDotFile`` rendering."""
    nodes = []
    for label in _NODE.findall(dot):
        parts = label.split("<br>")
        name = next((re.sub(r"<.*?>", "", p) for p in parts if "<b>" in p), "")
        metrics: dict[str, str] = {}
        i = 0
        while i < len(parts):
            part = parts[i]
            if part.endswith("(stageId: taskId))") and i + 1 < len(parts):
                # "<name> total (min, med, max (stageId: taskId))" + "<total> (...)"
                metrics[part.split(" total (")[0]] = parts[i + 1].split(" (")[0]
                i += 2
                continue
            if ": " in part:
                key, value = part.split(": ", 1)
                metrics[key] = value
            i += 1
        nodes.append((name, metrics))
    return nodes


class Tracer:
    """Per-operation layer counters, summed into the current pass."""

    def __init__(self, spark: SparkSession, cores: int):
        self.spark = spark
        self.cores = cores
        self.pass_totals: Counter = Counter()
        self.passes: list[Counter] = []
        self._op = 0
        self._groups: list[str] = []
        self._skew_depth = 0
        self._last_exec = self._max_execution_id()
        self._install()

    # -- layer wrappers ------------------------------------------------
    def _install(self) -> None:
        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.functions import skew
        from bigdataprocessingcoursework_nyc_rideshare_analysis__spark.sources import tables

        original_load = tables.load_table

        def load_table(spark, sf_dir, name):
            sc = spark.sparkContext
            parent = sc.getLocalProperty("spark.jobGroup.id")
            group = f"{parent}.load{len(self._groups)}"
            self._groups.append(group)
            sc.setLocalProperty("spark.jobGroup.id", group)
            start = time.perf_counter()
            try:
                return original_load(spark, sf_dir, name)
            finally:
                self.pass_totals["sources.load_table_s"] += time.perf_counter() - start
                self.pass_totals["sources.load_table_calls"] += 1
                sc.setLocalProperty("spark.jobGroup.id", parent)

        _replace_everywhere(original_load, load_table)

        for helper in SKEW_HELPERS:
            original = getattr(skew, helper)

            def wrapped(*args, _original=original, **kwargs):
                self._skew_depth += 1
                start = time.perf_counter()
                try:
                    return _original(*args, **kwargs)
                finally:
                    self._skew_depth -= 1
                    if self._skew_depth == 0:  # nested helper calls count once
                        self.pass_totals["skew.calls"] += 1
                        self.pass_totals["skew.build_s"] += time.perf_counter() - start

            _replace_everywhere(original, wrapped)

    # -- status store --------------------------------------------------
    def _drain(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def _max_execution_id(self) -> int:
        executions = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        size = executions.size()
        return executions.apply(size - 1).executionId() if size else -1

    def _jobs(self, group: str) -> list[int]:
        return list(self.spark.sparkContext.statusTracker().getJobIdsForGroup(group))

    def begin_op(self) -> None:
        self._op += 1
        self._groups = [f"bench-op{self._op}"]
        self.spark.sparkContext.setJobGroup(self._groups[0], self._groups[0])

    def after_build(self, build_s: float) -> None:
        self._drain()
        self.pass_totals["query.build_s"] += build_s
        self.pass_totals["query.eager_jobs"] += sum(len(self._jobs(g)) for g in self._groups)

    def plan(self, df) -> float:
        """Force Catalyst planning of ``df``; returns the seconds it took."""
        start = time.perf_counter()
        df._jdf.queryExecution().executedPlan()
        return time.perf_counter() - start

    def end_op(self, plan_s: float, exec_s: float) -> None:
        sc = self.spark.sparkContext
        self.pass_totals["cachectl.pins"] += sc._jsc.getPersistentRDDs().size()
        self._drain()
        totals = self.pass_totals
        totals["query.plan_s"] += plan_s
        totals["query.exec_s"] += exec_s
        load_jobs = sum(len(self._jobs(g)) for g in self._groups[1:])
        totals["sources.load_table_jobs"] += load_jobs
        job_ids = [j for g in self._groups for j in self._jobs(g)]
        totals["spark.jobs"] += len(job_ids)
        self._read_stages(job_ids)
        self._read_executions()
        sc.setLocalProperty("spark.jobGroup.id", None)

    def _read_stages(self, job_ids: list[int]) -> None:
        tracker = self.spark.sparkContext.statusTracker()
        store = self.spark.sparkContext._jsc.sc().statusStore()
        task_status = getattr(store, "stageData$default$3")()
        quantiles = getattr(store, "stageData$default$5")()
        stage_ids = set()
        for job in job_ids:
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        totals = self.pass_totals
        for stage_id in stage_ids:
            try:
                attempts = store.stageData(stage_id, False, task_status, False, quantiles)
            except Exception:  # noqa: BLE001 - evicted from the store: not counted
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() in ("SKIPPED", "PENDING"):
                    continue
                totals["spark.stages"] += 1
                totals["spark.tasks"] += s.numCompleteTasks()
                totals["spark.executor_run_s"] += s.executorRunTime() / 1e3
                totals["spark.executor_cpu_s"] += s.executorCpuTime() / 1e9
                totals["spark.gc_s"] += s.jvmGcTime() / 1e3
                totals["spark.input_bytes"] += s.inputBytes()
                totals["spark.shuffle_read_bytes"] += s.shuffleReadBytes()
                totals["spark.shuffle_write_bytes"] += s.shuffleWriteBytes()
                totals["spark.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()

    def _read_executions(self) -> None:
        store = self.spark._jsparkSession.sharedState().statusStore()
        last = self._max_execution_id()
        totals = self.pass_totals
        for exec_id in range(self._last_exec + 1, last + 1):
            if not store.execution(exec_id).isDefined():
                continue
            dot = store.planGraph(exec_id).makeDotFile(store.executionMetrics(exec_id))
            for name, metrics in plan_nodes(dot):
                if name == "Exchange":
                    totals["plan.exchanges"] += 1
                elif name == "ReusedExchange":
                    totals["plan.reused_exchanges"] += 1
                elif name == "BroadcastExchange":
                    totals["plan.broadcasts"] += 1
                elif name.startswith("Scan "):
                    totals["plan.scans"] += 1
                if _PY_SENT in metrics:
                    totals["plan.python_nodes"] += 1
                    totals["python.bytes_sent"] += _metric_value(metrics[_PY_SENT])
                    totals["python.bytes_received"] += _metric_value(metrics.get(_PY_RECV, "0"))
                    totals["python.rows_received"] += _metric_value(
                        metrics.get("number of output rows", "0")
                    )
        self._last_exec = max(self._last_exec, last)

    def take_pass(self) -> Counter:
        """This pass's totals, with the derived core utilisation; resets."""
        totals, self.pass_totals = self.pass_totals, Counter()
        # eager jobs run while the query is built, so the busy window is
        # build + plan + sink, not the sink alone
        busy_s = totals["query.build_s"] + totals["query.plan_s"] + totals["query.exec_s"]
        totals["spark.core_util"] = (
            totals["spark.executor_run_s"] / (busy_s * self.cores) if busy_s else 0.0
        )
        return totals
