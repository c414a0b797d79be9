"""One parser for Spark's JSON event log: task-end metrics and SQL
accumulables, attributed to the benchmark's op windows.

Every event that carries a time (job and stage submission, task launch)
is assigned to the op whose wall-clock window contains it, so jobs run
by a streaming query's own thread are attributed as well as jobs run by
the benchmark's thread.  SQL metrics are resolved through the plan
descriptions of ``SparkListenerSQLExecutionStart`` and
``SparkListenerSQLAdaptiveExecutionUpdate`` (accumulator id → metric
name, and whether its node is a Python node); their values are the
per-task updates carried by ``SparkListenerTaskEnd``.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, fields

# SQL metric names of Spark's Python execution nodes (MapInPandas,
# ArrowEvalPython, Python data source scans, ...); a node that reports
# them is a Python node, and its output rows are rows from Python.
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"
OUTPUT_ROWS = "number of output rows"


@dataclass
class Totals:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    stage_wall_ms: int = 0
    python_sent_bytes: int = 0
    python_received_bytes: int = 0
    python_rows: int = 0

    def add(self, other: "Totals") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


def _walk_plan(info: dict, into: dict[int, tuple[bool, str]]) -> None:
    metrics = info.get("metrics", ())
    is_python = any(m["name"] in (PY_SENT, PY_RETURNED) for m in metrics)
    for m in metrics:
        into[int(m["accumulatorId"])] = (is_python, m["name"])
    for child in info.get("children", ()):
        _walk_plan(child, into)


def _owner(windows: dict[str, tuple[float, float]], t_ms: float | None) -> str | None:
    if t_ms is None:
        return None
    t = t_ms / 1000.0
    for op_id, (t0, t1) in windows.items():
        if t0 <= t <= t1:
            return op_id
    return None


def parse_event_log(
    lines, windows: dict[str, tuple[float, float]]
) -> dict[str, Totals]:
    """Aggregate an event log (an iterable of JSON lines) per op window.

    ``windows`` maps op id → (start, end) in epoch seconds.  Events
    outside every window (set-up, warm-up, checks) are ignored."""
    per_op: dict[str, Totals] = {op: Totals() for op in windows}
    sql_metric: dict[int, tuple[bool, str]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(ev.get("sparkPlanInfo", {}), sql_metric)
        elif kind == "SparkListenerJobStart":
            op = _owner(windows, ev.get("Submission Time"))
            if op is not None:
                per_op[op].jobs += 1
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            op = _owner(windows, info.get("Submission Time"))
            if op is None:
                continue
            tot = per_op[op]
            tot.stages += 1
            if info.get("Completion Time") and info.get("Submission Time"):
                tot.stage_wall_ms += info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            task = ev.get("Task Info", {})
            op = _owner(windows, task.get("Launch Time"))
            m = ev.get("Task Metrics")
            if op is None or not m:
                continue
            tot = per_op[op]
            for acc in task.get("Accumulables", ()):
                _add_sql_metric(tot, sql_metric.get(int(acc["ID"])), acc.get("Update"))
            tot.tasks += 1
            tot.executor_run_ms += m.get("Executor Run Time", 0)
            tot.executor_cpu_ns += m.get("Executor CPU Time", 0)
            tot.gc_ms += m.get("JVM GC Time", 0)
            tot.result_bytes += m.get("Result Size", 0)
            tot.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            sr = m.get("Shuffle Read Metrics", {})
            tot.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            tot.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
            tot.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
    return per_op


def _add_sql_metric(tot: Totals, meta: tuple[bool, str] | None, value) -> None:
    if meta is None or value is None:
        return
    is_python, name = meta
    try:
        v = int(value)
    except (TypeError, ValueError):
        return
    if name == PY_SENT:
        tot.python_sent_bytes += v
    elif name == PY_RETURNED:
        tot.python_received_bytes += v
    elif name == OUTPUT_ROWS and is_python:
        tot.python_rows += v


def parse_event_log_dir(log_dir: str, windows: dict[str, tuple[float, float]]) -> dict[str, Totals]:
    """Parse the single application log Spark wrote into ``log_dir``."""
    names = sorted(n for n in os.listdir(log_dir) if not n.startswith("."))
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    with open(os.path.join(log_dir, names[0])) as fh:
        return parse_event_log(fh, windows)
