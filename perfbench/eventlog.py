"""Fold a Spark event log into per-call counters.

The benchmark runs every timed public call under its own job group
(``SparkContext.setJobGroup``).  The event log (uncompressed, not rolling)
records which job group each job belongs to, every task's metrics and the
SQL metrics of the Python operators.  ``fold`` sums them per job group, so
each call gets:

- ``jobs`` and ``stages``: jobs started and the distinct stages they list,
  skipped stages included (with adaptive execution each job runs one);
- ``executor_cpu_s``: summed ``Executor CPU Time`` of its tasks (JVM only);
- ``shuffle_write_bytes``;
- ``python_bytes_sent``: SQL metric "data sent to Python workers";
- ``python_worker_s``: SQL metric "time to run Python workers";
- ``task_intervals``: (launch, finish) epoch-ms pairs, from which
  ``no_task_s`` is computed against the call's own wall-clock window.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

PY_SENT = "data sent to Python workers"
PY_TIME = "time to run Python workers"


@dataclass
class GroupCounters:
    jobs: int = 0
    stages: set = field(default_factory=set)
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    python_bytes_sent: int = 0
    python_worker_s: float = 0.0
    task_intervals: list = field(default_factory=list)


def _metric_types(plan: dict, out: dict[int, str]) -> None:
    """accumulator id -> SQL metric type ("timing" is ms, "nsTiming" ns)."""
    for m in plan.get("metrics", ()):
        out[m["accumulatorId"]] = m.get("metricType", "")
    for child in plan.get("children", ()):
        _metric_types(child, out)


def fold(paths) -> dict[str, GroupCounters]:
    """Read event-log files and return counters per job group id.  Jobs
    without a job group are ignored."""
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupCounters] = {}
    metric_type: dict[int, str] = {}
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            lines = fh.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                "SQLAdaptiveExecutionUpdate"
            ):
                _metric_types(ev.get("sparkPlanInfo", {}), metric_type)
            elif kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group is None:
                    continue
                c = groups.setdefault(group, GroupCounters())
                c.jobs += 1
                c.stages.update(ev["Stage IDs"])
                for sid in ev["Stage IDs"]:
                    stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if group is None:
                    continue
                c = groups[group]
                info = ev["Task Info"]
                c.task_intervals.append((info["Launch Time"], info["Finish Time"]))
                tm = ev.get("Task Metrics") or {}
                c.executor_cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                c.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                for acc in info.get("Accumulables", ()):
                    name, update = acc.get("Name"), acc.get("Update")
                    if update is None:
                        continue
                    if name == PY_SENT:
                        c.python_bytes_sent += int(update)
                    elif name == PY_TIME:
                        scale = 1e9 if metric_type.get(acc["ID"]) == "nsTiming" else 1e3
                        c.python_worker_s += int(update) / scale
    return groups


def no_task_seconds(intervals: list, start_ms: float, end_ms: float) -> float:
    """Time inside [start_ms, end_ms] during which no task of the call ran:
    driver planning, result collection and scheduling gaps."""
    busy = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        s, e = max(s, start_ms), min(e, end_ms)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return max(0.0, (end_ms - start_ms) - busy) / 1e3
