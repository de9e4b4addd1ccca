"""Spark's own metrics, read from outside the engine.

Both readers return plan-node records of one shape,
``{"node": <nodeName>, "metrics": {<display name>: <value>}, "pipelines":
<set>}``, with every time converted to milliseconds, so one set of layer
rules (:func:`layers`) applies to either source. A pipeline is the part of
a plan that runs in one Spark stage, between shuffle boundaries:

* :func:`plan_nodes` walks the executed plan of a DataFrame that has run.
  Under AQE the plan root is an ``AdaptiveSparkPlan`` whose children are
  the *initial* plan with no metrics; the final plan hangs off
  ``executedPlan()``, and each ``*QueryStage`` node hides its subtree behind
  ``plan()``. A walk that does not unwrap both sees no metrics.
* :class:`EventLog` parses a Spark event log (one JSON event per line). It
  covers what no DataFrame plan shows: writes, checkpointed jobs, and
  per-task times, failures and GC.
"""

from __future__ import annotations

import json
import math
import statistics
from collections import Counter

_TIME_SCALE = {"timing": 1.0, "nsTiming": 1e-6}

PY_TIME = "time to run Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
ROWS = "number of output rows"
SCAN_TIME = "scan time"
SCAN_BYTES = "size of files read"
SHUFFLE_BYTES = "shuffle bytes written"
SHUFFLE_RECORDS = "shuffle records written"
SHUFFLE_TIME = "shuffle write time"
AGG_TIME = "time in aggregation build"
SPILL = "spill size"


def _scaled(metric_type: str, raw) -> float | None:
    if metric_type == "average":  # per-task averages do not add up
        return None
    return float(raw) * _TIME_SCALE.get(metric_type, 1.0)


def plan_nodes(df) -> list[dict]:
    """Node records of the executed plan of ``df``, which must have run.

    A ``ReusedExchange`` is skipped: its metrics are the ones of the
    exchange it reuses, which the walk already counts."""
    conv = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    out: list[dict] = []
    pipelines = [0]

    def visit(plan, pipeline: int) -> None:
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            visit(plan.executedPlan(), pipeline)
            return
        if cls.endswith("QueryStageExec"):
            # the stage's exchange writes its shuffle in the stage below
            pipelines[0] += 1
            visit(plan.plan(), pipelines[0])
            return
        if cls == "ReusedExchangeExec":
            return
        values: dict[str, float] = {}
        metrics = conv.asJava(plan.metrics())
        for key in metrics.keySet():
            m = metrics.get(key)
            v = _scaled(m.metricType(), m.value())
            if v is not None:
                name = m.name().get() if m.name().isDefined() else key
                values[name] = values.get(name, 0.0) + v
        out.append({"node": plan.nodeName(), "metrics": values, "pipelines": {pipeline}})
        for child in conv.asJava(plan.children()):
            visit(child, pipeline)

    visit(df._jdf.queryExecution().executedPlan(), 0)
    return out


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in [0, 1]); 0.0 for no values."""
    if not values:
        return 0.0
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


class EventLog:
    """One parsed, uncompressed, non-rolling Spark event log.

    Jobs are attributed to the job group (``SparkContext.setJobGroup``)
    that was set when they started; ``group=None`` in the queries below
    selects every job."""

    def __init__(self, path: str):
        self.stage_group: dict[int, str | None] = {}
        self.job_group: dict[int, str | None] = {}
        self.exec_group: dict[int, str | None] = {}
        # accumulator id -> (node index, display name, metric type)
        self.accums: dict[int, tuple[int, str, str]] = {}
        self.node_names: list[str] = []
        self.tasks: list[dict] = []
        self.driver_updates: list[tuple[int, int, float]] = []
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id")
            self.job_group[e["Job ID"]] = group
            for s in e["Stage IDs"]:
                self.stage_group[s] = group
        elif kind == "SparkListenerTaskEnd":
            self._task(e)
        elif kind.endswith("SQLExecutionStart"):
            self.exec_group[e["executionId"]] = e.get("jobGroupId")
            self._learn_plan(e["sparkPlanInfo"])
        elif kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._learn_plan(e["sparkPlanInfo"])
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in e["accumUpdates"]:
                self.driver_updates.append((e["executionId"], acc_id, float(value)))

    def _learn_plan(self, info: dict) -> None:
        # AQE re-plans keep the SQLMetric objects of unchanged nodes, so an
        # accumulator id keeps the node it was first seen on
        idx = len(self.node_names)
        self.node_names.append(info["nodeName"])
        for m in info.get("metrics", []):
            self.accums.setdefault(m["accumulatorId"], (idx, m["name"], m["metricType"]))
        for child in info.get("children", []):
            self._learn_plan(child)

    def _task(self, e: dict) -> None:
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        sql = {}
        for acc in info.get("Accumulables", []):
            if acc.get("Metadata") == "sql" and "Update" in acc:
                sql[acc["ID"]] = float(acc["Update"])
        self.tasks.append(
            {
                "stage": e["Stage ID"],
                "ms": info["Finish Time"] - info["Launch Time"],
                "run_ms": m.get("Executor Run Time", 0),
                "gc_ms": m.get("JVM GC Time", 0),
                "failed": bool(info.get("Failed"))
                or e["Task End Reason"]["Reason"] != "Success",
                "spill": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                "out_bytes": (m.get("Output Metrics") or {}).get("Bytes Written", 0),
                "sql": sql,
            }
        )

    def group_tasks(self, group: str | None = None) -> list[dict]:
        return [
            t for t in self.tasks
            if group is None or self.stage_group.get(t["stage"]) == group
        ]

    def jobs(self, group: str | None = None) -> int:
        return sum(1 for g in self.job_group.values() if group is None or g == group)

    def nodes(self, group: str | None = None) -> list[dict]:
        """Node records summed over the tasks and driver updates of a group;
        only nodes with at least one update appear."""
        per_node: dict[int, dict[str, float]] = {}
        stages: dict[int, set] = {}

        def add(acc_id: int, raw: float, stage: int | None) -> None:
            if acc_id not in self.accums:
                return
            idx, name, mtype = self.accums[acc_id]
            v = _scaled(mtype, raw)
            if v is not None:
                vals = per_node.setdefault(idx, {})
                vals[name] = vals.get(name, 0.0) + v
                if stage is not None:
                    stages.setdefault(idx, set()).add(stage)

        for t in self.group_tasks(group):
            for acc_id, raw in t["sql"].items():
                add(acc_id, raw, t["stage"])
        for exec_id, acc_id, raw in self.driver_updates:
            if group is None or self.exec_group.get(exec_id) == group:
                add(acc_id, raw, None)
        return [
            {"node": self.node_names[i], "metrics": vals,
             "pipelines": stages.get(i, set())}
            for i, vals in sorted(per_node.items())
        ]


def task_summary(log: EventLog, groups: list[str], python_node: str | None = None) -> dict:
    """Task count, failures, GC, run time, spill and write volume over the
    tasks of some job groups; their task-time percentiles; and the skew
    (max / median task time, median over stages) of the stages that ran a
    Python node (of type ``python_node``, if given)."""
    tasks = [t for g in groups for t in log.group_tasks(g)]
    py_ids = {
        a for a, (idx, name, _) in log.accums.items()
        if name == PY_TIME and python_node in (None, log.node_names[idx])
    }
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        if py_ids & t["sql"].keys():
            by_stage.setdefault(t["stage"], []).append(t["ms"])
    skews = [
        max(ms) / statistics.median(ms)
        for ms in by_stage.values()
        if statistics.median(ms) > 0
    ]
    times = [t["ms"] for t in tasks]
    return {
        "tasks": len(tasks),
        "failures": sum(t["failed"] for t in tasks),
        "gc_ms": float(sum(t["gc_ms"] for t in tasks)),
        "run_ms": float(sum(t["run_ms"] for t in tasks)),
        "spill_bytes": float(sum(t["spill"] for t in tasks)),
        "out_bytes": float(sum(t["out_bytes"] for t in tasks)),
        "task_ms_p50": float(percentile(times, 0.5)),
        "task_ms_p99": float(percentile(times, 0.99)),
        "python_task_skew": statistics.median(skews) if skews else 0.0,
    }


def layers(nodes: list[dict], python_node: str | None = None) -> Counter:
    """Per-layer totals over node records.

    ``python_node`` restricts the boundary totals to one Python node type
    (``"MapInArrow"`` is the extraction operator); None takes every node
    that reports Python worker time. ``agg_ms`` counts only aggregates in
    pipelines without a scan or a Python node: an aggregate in such a
    pipeline also times the rows it pulls from them, which would count that
    work twice."""
    t: Counter = Counter()
    sourced = set()
    for n in nodes:
        if n["node"].startswith("Scan ") or PY_TIME in n["metrics"]:
            sourced |= n["pipelines"]
    for n in nodes:
        m = n["metrics"]
        if PY_TIME in m and python_node in (None, n["node"]):
            t["python_ms"] += m[PY_TIME]
            t["boot_ms"] += m.get(PY_BOOT, 0.0)
            t["init_ms"] += m.get(PY_INIT, 0.0)
            t["bytes_sent"] += m.get(PY_SENT, 0.0)
            t["bytes_received"] += m.get(PY_RECV, 0.0)
            t["rows"] += m.get(ROWS, 0.0)
        if n["node"].startswith("Scan "):
            t["scan_ms"] += m.get(SCAN_TIME, 0.0)
            t["scan_bytes"] += m.get(SCAN_BYTES, 0.0)
        if SHUFFLE_BYTES in m:
            t["exchanges"] += 1
            t["shuffle_bytes"] += m[SHUFFLE_BYTES]
            t["shuffle_records"] += m.get(SHUFFLE_RECORDS, 0.0)
            t["shuffle_write_ms"] += m.get(SHUFFLE_TIME, 0.0)
        if AGG_TIME in m and not (n["pipelines"] & sourced):
            t["agg_ms"] += m[AGG_TIME]
        t["spill_bytes"] += m.get(SPILL, 0.0)
    return t
