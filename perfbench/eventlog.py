"""Reader for Spark's plain-JSON event log (``spark.eventLog.compress=false``).

Attributes task work to the job group that launched it: every
``SparkListenerStageSubmitted`` carries the submitting thread's
``spark.jobGroup.id``, and every task belongs to one stage.  Per group
it sums task CPU, GC, input bytes and shuffle bytes, and measures the
wall time covered by at least one running task (the union of task
intervals), from which the caller derives dispatch idle.  It also keeps
the last physical plan of each SQL execution, so a caller can count the
scans and exchanges that actually ran.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0  # shuffle read + shuffle written
    intervals: list[tuple[int, int]] = field(default_factory=list)
    plans: list[dict] = field(default_factory=list)

    def busy_s(self) -> float:
        """Wall seconds during which at least one task of the group ran."""
        return union_s(self.intervals)


def union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of millisecond intervals."""
    total, end = 0, None
    for start, finish in sorted(intervals):
        if end is None or start > end:
            total += finish - start
            end = finish
        elif finish > end:
            total += finish - end
            end = finish
    return total / 1000.0


def find_log(log_dir: str, app_id: str) -> str:
    """The finished event log of application ``app_id``."""
    path = os.path.join(log_dir, app_id)
    if not os.path.isfile(path):
        raise RuntimeError(f"no finished event log for {app_id} in {log_dir}: {os.listdir(log_dir)}")
    return path


def read(path: str) -> dict[str, GroupStats]:
    """Per-job-group statistics of one application's event log."""
    groups: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}
    exec_group: dict[int, str] = {}
    exec_plan: dict[int, dict] = {}

    def group(props: dict | None) -> str | None:
        return (props or {}).get("spark.jobGroup.id")

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                g = group(ev.get("Properties"))
                if g is not None:
                    groups.setdefault(g, GroupStats()).jobs += 1
                    exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
                    if exec_id is not None:
                        exec_group[int(exec_id)] = g
            elif kind == "SparkListenerStageSubmitted":
                g = group(ev.get("Properties"))
                if g is not None:
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
                    groups.setdefault(g, GroupStats()).stages += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                st = groups[g]
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                st.tasks += 1
                st.intervals.append((info["Launch Time"], info["Finish Time"]))
                st.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                st.gc_s += m.get("JVM GC Time", 0) / 1e3
                st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                read_m = m.get("Shuffle Read Metrics") or {}
                write_m = m.get("Shuffle Write Metrics") or {}
                st.shuffle_bytes += (
                    read_m.get("Remote Bytes Read", 0)
                    + read_m.get("Local Bytes Read", 0)
                    + write_m.get("Shuffle Bytes Written", 0)
                )
            elif kind in (
                "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
                "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate",
            ):
                exec_plan[ev["executionId"]] = ev["sparkPlanInfo"]
    for exec_id, g in exec_group.items():
        if exec_id in exec_plan:
            groups[g].plans.append(exec_plan[exec_id])
    return groups


def plan_nodes(plan: dict):
    """Every node of a ``sparkPlanInfo`` tree, depth first."""
    yield plan
    for child in plan.get("children", []):
        yield from plan_nodes(child)
