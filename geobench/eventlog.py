"""Parser for Spark's uncompressed JSON-lines event log (stdlib only).

Jobs carry the job group the tracer set (``spark.jobGroup.id``) and their
SQL execution id; tasks carry their stage.  ``attribute`` folds every task
into the group of the job that ran its stage, summing the task metrics
ROADMAP item 1 names, plus every SQL metric accumulator, keyed by the plan
node and metric name found by walking the execution's plan infos
(``SparkListenerSQLExecutionStart`` and every AQE plan update).
"""

from __future__ import annotations

import json
from collections import defaultdict

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
SQL_AQE_METRICS = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveSQLMetricUpdates"
SQL_DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

TASK_FIELDS = (
    "tasks",
    "failed_tasks",
    "executor_cpu_s",
    "executor_run_s",
    "gc_s",
    "shuffle_write_bytes",
    "shuffle_write_ms",
    "shuffle_fetch_wait_ms",
    "shuffle_read_bytes",
    "spill_bytes",
)


def read_events(path: str) -> list[dict]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def walk_plan(info: dict, out: dict[int, tuple[str, str]] | None = None) -> dict:
    """accumulatorId -> (plan node name, metric name) for a SparkPlanInfo
    tree.  ``*QueryStage`` nodes list the stage plan as their child in the
    plan info, so a plain recursive walk reaches every node."""
    out = {} if out is None else out
    for m in info.get("metrics", ()):
        out[int(m["accumulatorId"])] = (info["nodeName"], m["name"])
    for child in info.get("children", ()):
        walk_plan(child, out)
    return out


def _task_metrics(ev: dict) -> dict[str, float]:
    tm = ev.get("Task Metrics") or {}
    info = ev.get("Task Info") or {}
    sw = tm.get("Shuffle Write Metrics") or {}
    sr = tm.get("Shuffle Read Metrics") or {}
    return {
        "tasks": 1,
        "failed_tasks": 1 if info.get("Failed") or info.get("Killed") else 0,
        "executor_cpu_s": tm.get("Executor CPU Time", 0) / 1e9,
        "executor_run_s": tm.get("Executor Run Time", 0) / 1e3,
        "gc_s": tm.get("JVM GC Time", 0) / 1e3,
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_write_ms": sw.get("Shuffle Write Time", 0) / 1e6,
        "shuffle_fetch_wait_ms": sr.get("Fetch Wait Time", 0),
        "shuffle_read_bytes": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0),
    }


def attribute(events: list[dict]) -> dict[str | None, dict]:
    """group id (None for jobs outside any group) ->
    {"jobs": n, <TASK_FIELDS>..., "sql": {(node, metric): value}}."""
    stage_group: dict[int, str | None] = {}
    exec_group: dict[int, str | None] = {}
    acc_names: dict[int, dict[int, tuple[str, str]]] = defaultdict(dict)
    out: dict[str | None, dict] = {}

    def bucket(group):
        if group not in out:
            out[group] = {"jobs": 0, **{k: 0 for k in TASK_FIELDS}, "sql": defaultdict(float)}
        return out[group]

    acc_exec: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            bucket(group)["jobs"] += 1
            for sid in ev.get("Stage IDs", ()):
                stage_group[sid] = group
            if props.get("spark.sql.execution.id") is not None:
                exec_group.setdefault(int(props["spark.sql.execution.id"]), group)
        elif kind in (SQL_START, SQL_AQE_UPDATE):
            eid = int(ev["executionId"])
            walk_plan(ev["sparkPlanInfo"], acc_names[eid])
            for acc in acc_names[eid]:
                acc_exec[acc] = eid
        elif kind == SQL_AQE_METRICS:
            eid = int(ev["executionId"])
            # these carry no node name; a plan walk that names the node wins
            for m in ev.get("sqlPlanMetrics", ()):
                acc_names[eid].setdefault(int(m["accumulatorId"]), ("AdaptiveSparkPlan", m["name"]))
                acc_exec[int(m["accumulatorId"])] = eid
        elif kind == "SparkListenerTaskEnd":
            b = bucket(stage_group.get(ev.get("Stage ID")))
            for k, v in _task_metrics(ev).items():
                b[k] += v
            for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                eid = acc_exec.get(int(acc["ID"]))
                if eid is None or acc.get("Update") is None:
                    continue
                key = acc_names[eid][int(acc["ID"])]
                b["sql"][key] += float(acc["Update"])
        elif kind == SQL_DRIVER_ACCUMS:
            eid = int(ev["executionId"])
            b = bucket(exec_group.get(eid))
            for acc_id, value in ev.get("accumUpdates", ()):
                key = acc_names[eid].get(int(acc_id))
                if key is not None:
                    b["sql"][key] += float(value)
    return out


def sql_metric(bucket: dict, metric: str, node: str | None = None) -> float:
    """Sum of one SQL metric across plan nodes (optionally one node type)."""
    return sum(
        v for (n, m), v in bucket["sql"].items() if m == metric and (node is None or n == node)
    )


def merge(buckets: list[dict]) -> dict:
    out = {"jobs": 0, **{k: 0 for k in TASK_FIELDS}, "sql": defaultdict(float)}
    for b in buckets:
        out["jobs"] += b["jobs"]
        for k in TASK_FIELDS:
            out[k] += b[k]
        for key, v in b["sql"].items():
            out["sql"][key] += v
    return out
