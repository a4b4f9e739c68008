"""Per-group totals from a Spark event log (JSON lines).

Jobs are grouped by the ``spark.jobGroup.id`` the benchmark sets around each
op phase. Jobs that carry none of the benchmark's groups (micro-batches run
on a streaming query's own thread) are assigned by the time window of the
phase they started in.

The Python-worker figures are the SQL metrics Spark ships on its Arrow
nodes (``PythonSQLMetrics``): every accumulator of a plan node that reports
"data sent to Python workers" is summed from the task-end updates.
"""

from __future__ import annotations

import json
from collections import defaultdict

MB = 1024.0 * 1024.0
PYTHON_MARKER = "data sent to Python workers"
# SQL metric name -> (result key, scale to seconds / MB / count)
PYTHON_METRICS = {
    "time to start Python workers": "python.boot_s",
    "time to initialize Python workers": "python.init_s",
    "time to run Python workers": "python.total_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.received_mb",
    "number of output rows": "python.rows_received",
}
EXEC_KEYS = (
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_run_s",
    "exec.task_cpu_s", "exec.gc_s", "exec.sched_delay_s", "exec.input_mb",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.failed_tasks",
) + tuple(PYTHON_METRICS.values())


def _python_accumulators(plan: dict, out: dict) -> None:
    """accumulatorId -> (result key, metricType) for the Arrow nodes of one
    plan tree."""
    metrics = plan.get("metrics") or []
    if any(m.get("name") == PYTHON_MARKER for m in metrics):
        for m in metrics:
            key = PYTHON_METRICS.get(m.get("name"))
            if key is not None:
                out[m["accumulatorId"]] = (key, m.get("metricType", "sum"))
    for child in plan.get("children") or []:
        _python_accumulators(child, out)


def _scale(metric_type: str, value: float) -> float:
    if metric_type == "timing":  # milliseconds
        return value / 1e3
    if metric_type == "nsTiming":
        return value / 1e9
    if metric_type == "size":
        return value / MB
    return value


def aggregate(lines, windows: "list[tuple[str, float, float]]") -> "dict[str, dict[str, float]]":
    """Totals per group from event-log ``lines``.

    ``windows`` lists (group, start_s, end_s) in wall-clock seconds; its
    group names are the job groups the benchmark set. Returns
    {group: {metric: value}} with every key of ``EXEC_KEYS``.
    """
    known = {g for g, _, _ in windows}
    stage_group: "dict[int, str]" = {}
    py_acc: "dict[int, tuple[str, str]]" = {}
    out: "dict[str, dict[str, float]]" = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
    stages_seen: "set[tuple[int, int]]" = set()

    def by_time(ms: float) -> "str | None":
        t = ms / 1e3
        for g, lo, hi in windows:
            if lo <= t <= hi:
                return g
        return None

    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id")
            if g not in known:
                g = by_time(ev["Submission Time"])
            if g is None:
                continue
            out[g]["exec.jobs"] += 1
            for sid in ev.get("Stage IDs") or []:
                stage_group[sid] = g
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            _python_accumulators(ev.get("sparkPlanInfo") or {}, py_acc)
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get(ev["Stage ID"])
            if g is None:
                continue
            o = out[g]
            info = ev.get("Task Info") or {}
            m = ev.get("Task Metrics") or {}
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            if key not in stages_seen:
                stages_seen.add(key)
                o["exec.stages"] += 1
            o["exec.tasks"] += 1
            if info.get("Failed") or (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                o["exec.failed_tasks"] += 1
            run_ms = m.get("Executor Run Time", 0)
            o["exec.task_run_s"] += run_ms / 1e3
            o["exec.task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            o["exec.gc_s"] += m.get("JVM GC Time", 0) / 1e3
            duration = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            o["exec.sched_delay_s"] += max(
                0,
                duration - run_ms - m.get("Executor Deserialize Time", 0)
                - m.get("Result Serialization Time", 0)
                - info.get("Getting Result Time", 0),
            ) / 1e3
            o["exec.input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
            sr = m.get("Shuffle Read Metrics") or {}
            o["exec.shuffle_read_mb"] += (
                sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            ) / MB
            o["exec.shuffle_write_mb"] += (
                (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / MB
            )
            o["exec.spill_mb"] += m.get("Disk Bytes Spilled", 0) / MB
            for acc in info.get("Accumulables") or []:
                hit = py_acc.get(acc.get("ID"))
                if hit is not None and acc.get("Update") is not None:
                    o[hit[0]] += _scale(hit[1], float(acc["Update"]))
    return dict(out)
