"""Reader for Spark's uncompressed, non-rolling JSON event log.

Builds per-SQL-execution task aggregates from ``SparkListenerTaskEnd``
(run time, GC, input bytes, shuffle write, spill, failures and the SQL
accumulables such as ``scan time`` and the Python-worker metrics) and
attaches each execution to the benchmark span whose interval contains
its start. Attribution is by time, not by job description: the
validation job issues writes and collects from its own threads, which do
not inherit the caller's description.
"""

from __future__ import annotations

import json
import re
import statistics
from dataclasses import dataclass
from pathlib import Path

PY_SENT = "data sent to Python workers"
PY_RECEIVED = "data returned from Python workers"
PY_RUN_TIME = "time to run Python workers"  # milliseconds
SCAN_TIME = "scan time"  # milliseconds


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int | None = None
    plan: str = ""

    @property
    def seconds(self) -> float:
        return ((self.end_ms or self.start_ms) - self.start_ms) / 1000.0


@dataclass
class Task:
    stage: int
    duration_ms: int
    run_ms: int
    gc_ms: int
    input_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int
    failed: bool
    accums: dict


class EventLog:
    def __init__(self, path: Path):
        self.executions: dict[int, Execution] = {}
        self.stage_exec: dict[int, int] = {}
        self.stage_wall_ms: dict[int, int] = {}
        self.tasks: list[Task] = []
        with open(path) as fh:
            for line in fh:
                self._event(json.loads(line))

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind.endswith("SparkListenerSQLExecutionStart"):
            self.executions[ev["executionId"]] = Execution(
                ev["executionId"], ev["time"], plan=ev.get("physicalPlanDescription", "")
            )
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            ex = self.executions.get(ev["executionId"])
            if ex is not None:
                ex.end_ms = ev["time"]
        elif kind == "SparkListenerJobStart":
            exec_id = (ev.get("Properties") or {}).get("spark.sql.execution.id")
            if exec_id is not None:
                for sid in ev.get("Stage IDs", []):
                    self.stage_exec[sid] = int(exec_id)
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if "Completion Time" in info and "Submission Time" in info:
                self.stage_wall_ms[info["Stage ID"]] = (
                    info["Completion Time"] - info["Submission Time"]
                )
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(_task(ev))

    def tasks_of(self, exec_ids: set[int]) -> list[Task]:
        return [t for t in self.tasks if self.stage_exec.get(t.stage) in exec_ids]

    def attach(self, spans: list[dict]) -> dict[int, list[Execution]]:
        """Executions per span id: each execution goes to the innermost
        span (latest start) whose interval contains the execution's
        start."""
        out: dict[int, list[Execution]] = {}
        for ex in self.executions.values():
            t = ex.start_ms / 1000.0
            best = None
            for s in spans:
                if s["start"] <= t <= (s["end"] or t):
                    if best is None or s["start"] >= best["start"]:
                        best = s
            if best is not None:
                out.setdefault(best["id"], []).append(ex)
        return out


def _task(ev: dict) -> Task:
    info = ev.get("Task Info", {})
    m = ev.get("Task Metrics") or {}
    accums: dict[str, float] = {}
    for a in info.get("Accumulables", []):
        try:
            accums[a["Name"]] = accums.get(a["Name"], 0.0) + float(a.get("Update", 0))
        except (KeyError, TypeError, ValueError):
            continue
    return Task(
        stage=ev.get("Stage ID", -1),
        duration_ms=info.get("Finish Time", 0) - info.get("Launch Time", 0),
        run_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        input_bytes=(m.get("Input Metrics") or {}).get("Bytes Read", 0),
        shuffle_write_bytes=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        failed=bool(info.get("Failed", False)),
        accums=accums,
    )


def accum_sum(tasks: list[Task], name: str) -> float:
    return sum(t.accums.get(name, 0.0) for t in tasks)


def spark_layer(log: EventLog, exec_ids: set[int], n_ops: int) -> dict[str, float]:
    """``spark.*`` metrics over the given executions, per operation."""
    tasks = log.tasks_of(exec_ids)
    stages = {t.stage for t in tasks}
    n = max(n_ops, 1)
    skew = 1.0
    if stages:
        longest = max(stages, key=lambda s: log.stage_wall_ms.get(s, 0))
        durs = [t.duration_ms for t in tasks if t.stage == longest]
        p50 = statistics.median(durs) if durs else 0
        skew = max(durs) / p50 if p50 else 1.0
    return {
        "spark.scan_s": accum_sum(tasks, SCAN_TIME) / 1000.0 / n,
        "spark.scan_bytes": sum(t.input_bytes for t in tasks) / n,
        "spark.shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks) / n,
        "spark.task_s": sum(t.run_ms for t in tasks) / 1000.0 / n,
        "spark.gc_s": sum(t.gc_ms for t in tasks) / 1000.0 / n,
        "spark.spill_bytes": sum(t.spill_bytes for t in tasks) / n,
        "spark.task_skew": skew,
        "spark.tasks_failed": float(sum(t.failed for t in tasks)),
        "spark.stages": len(stages) / n,
    }


#: The write command's detail block in a formatted physical plan.
_WRITE_TARGET = re.compile(r"Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: ([^,\s]+)")


def write_target(plan: str) -> str | None:
    """Output path of a write execution's plan, or None for reads."""
    m = _WRITE_TARGET.search(plan)
    return m.group(1) if m else None


def find_log(event_dir: Path) -> Path | None:
    """The newest application's event log file."""
    files = [p for p in event_dir.iterdir() if p.is_file()]
    return max(files, key=lambda p: p.stat().st_mtime) if files else None
