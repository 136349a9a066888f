"""Roll a Spark event log up into per-job-group layer counters.

The benchmark puts every traced span in its own job group
(``SparkContext.setJobGroup``), so each Spark job, and through it each
stage, task and SQL metric update, belongs to exactly one span.  This
module reads the JSON-lines event log Spark writes with
``spark.eventLog.enabled`` and sums what each group cost.  It is pure
Python and reads only the lines it is given.
"""

from __future__ import annotations

import json
from collections import defaultdict
from collections.abc import Iterable
from dataclasses import dataclass
from pathlib import Path

_SQL = "org.apache.spark.sql.execution.ui."
_JOIN_NODES = ("Join", "CartesianProduct")
_LISTING = "Listing leaf files"


@dataclass
class GroupStats:
    """What the jobs of one job group cost.  Times are in milliseconds
    except ``executor_cpu_ns``; sizes are bytes."""

    jobs: int = 0
    listing_jobs: int = 0
    first_job_ms: int | None = None
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    executor_run_ms: int = 0
    executor_cpu_ns: int = 0
    gc_ms: int = 0
    task_wait_ms: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    files_read: int = 0
    scans: int = 0
    python_run_ms: int = 0
    python_boot_ms: int = 0
    python_bytes_sent: int = 0
    join_output_rows: int = 0


def read_lines(log_dir: str | Path) -> list[str]:
    """Every line of every event log file under ``log_dir``."""
    lines: list[str] = []
    for p in sorted(Path(log_dir).rglob("*")):
        if p.is_file() and not p.name.startswith(".") and not p.name.startswith("appstatus"):
            lines.extend(p.read_text().splitlines())
    return lines


def _plan_accumulators(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[int(m["accumulatorId"])] = (node.get("nodeName", ""), m["name"])
    for child in node.get("children", ()):
        _plan_accumulators(child, out)


def _add_sql(stats: GroupStats, node: str, name: str, value: int) -> None:
    if name == "number of files read":
        stats.files_read += value
        stats.scans += 1
    elif name == "time to run Python workers":
        stats.python_run_ms += value
    elif name == "time to start Python workers":
        stats.python_boot_ms += value
    elif name == "data sent to Python workers":
        stats.python_bytes_sent += value
    elif name == "number of output rows" and any(j in node for j in _JOIN_NODES):
        stats.join_output_rows += value


def parse(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Per job group counters from event-log ``lines``.

    Jobs without a group are ignored.  A stage counts toward the group of
    the first job that lists it; a SQL execution toward the group of its
    first job, which is where driver-side metrics such as the number of
    files a scan read are attributed.
    """
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    stage_submit: dict[tuple[int, int], int] = {}
    exec_group: dict[int, str] = {}
    accum_meta: dict[int, tuple[str, str]] = {}
    driver_updates: list[tuple[int, int, int]] = []
    task_updates: list[tuple[str, int, str]] = []

    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            g = groups[group]
            g.jobs += 1
            if _LISTING in (props.get("spark.job.description") or ""):
                g.listing_jobs += 1
            t = int(ev["Submission Time"])
            g.first_job_ms = t if g.first_job_ms is None else min(g.first_job_ms, t)
            for sid in ev.get("Stage IDs", ()):
                stage_group.setdefault(int(sid), group)
            if (eid := props.get("spark.sql.execution.id")) is not None:
                exec_group.setdefault(int(eid), group)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            key = (int(info["Stage ID"]), int(info.get("Stage Attempt ID", 0)))
            if info.get("Submission Time") is not None:
                stage_submit[key] = int(info["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(int(ev["Stage Info"]["Stage ID"]))
            if group is not None:
                groups[group].stages += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(int(ev["Stage ID"]))
            if group is None:
                continue
            _add_task(groups[group], ev, stage_submit, task_updates, group)
        elif kind in (_SQL + "SparkListenerSQLExecutionStart", _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            _plan_accumulators(ev.get("sparkPlanInfo") or {}, accum_meta)
        elif kind == _SQL + "SparkListenerDriverAccumUpdates":
            eid = int(ev["executionId"])
            for acc_id, value in ev.get("accumUpdates", ()):
                driver_updates.append((eid, int(acc_id), int(value)))

    for group, acc_id, update in task_updates:
        if acc_id in accum_meta:
            _add_sql(groups[group], *accum_meta[acc_id], int(update))
    for eid, acc_id, value in driver_updates:
        group = exec_group.get(eid)
        if group is not None and acc_id in accum_meta:
            _add_sql(groups[group], *accum_meta[acc_id], value)
    return dict(groups)


def _add_task(
    g: GroupStats,
    ev: dict,
    stage_submit: dict[tuple[int, int], int],
    task_updates: list[tuple[str, int, str]],
    group: str,
) -> None:
    info = ev.get("Task Info") or {}
    g.tasks += 1
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    if info.get("Failed") or reason != "Success":
        g.failed_tasks += 1
    submitted = stage_submit.get((int(ev["Stage ID"]), int(ev.get("Stage Attempt ID", 0))))
    if submitted is not None and info.get("Launch Time") is not None:
        g.task_wait_ms += max(0, int(info["Launch Time"]) - submitted)
    m = ev.get("Task Metrics") or {}
    g.executor_run_ms += int(m.get("Executor Run Time", 0))
    g.executor_cpu_ns += int(m.get("Executor CPU Time", 0))
    g.gc_ms += int(m.get("JVM GC Time", 0))
    g.spill_bytes += int(m.get("Disk Bytes Spilled", 0))
    inp = m.get("Input Metrics") or {}
    g.input_bytes += int(inp.get("Bytes Read", 0))
    g.input_records += int(inp.get("Records Read", 0))
    rd = m.get("Shuffle Read Metrics") or {}
    g.shuffle_read_bytes += int(rd.get("Remote Bytes Read", 0)) + int(rd.get("Local Bytes Read", 0))
    g.shuffle_write_bytes += int((m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0))
    for acc in info.get("Accumulables", ()):
        if acc.get("Metadata") == "sql" and acc.get("Update") is not None:
            task_updates.append((group, int(acc["ID"]), acc["Update"]))
