"""Spark event-log reader: per-task metrics and SQL plan-node metrics,
grouped by the ``perfbench.phase`` local property of the job that ran
them.

The session must run with ``spark.eventLog.enabled=true`` and
``spark.eventLog.compress=false`` (the zstd default needs a
``zstandard`` module). Spark 4 writes one directory per application
(``eventlog_v2_<app>/events_<n>_<app>``); older single-file logs are
read too.
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from pathlib import Path

PHASE_PROPERTY = "perfbench.phase"
MIB = 1024 * 1024


@dataclass
class Task:
    stage: int
    phase: str | None
    run_ms: float
    cpu_ns: float
    gc_ms: float
    shuffle_write: float
    spill: float
    accums: dict[int, float]


@dataclass
class SqlExec:
    start_ms: float
    end_ms: float | None = None
    plan: str = ""
    phase: str | None = None


@dataclass
class EventLog:
    tasks: list[Task] = field(default_factory=list)
    # accumulator id -> (plan node simpleString, metric name, metric type)
    node_metrics: dict[int, tuple[str, str, str]] = field(default_factory=dict)
    sql: dict[int, SqlExec] = field(default_factory=dict)

    def phase_tasks(self, pattern: str) -> list[Task]:
        rx = re.compile(pattern)
        return [t for t in self.tasks if t.phase is not None and rx.fullmatch(t.phase)]

    def node_accums(self, node_pattern: str, metric: str | None = None) -> set[int]:
        """Accumulator ids of plan nodes whose simpleString matches."""
        rx = re.compile(node_pattern)
        return {
            acc
            for acc, (node, name, _) in self.node_metrics.items()
            if rx.search(node) and (metric is None or name == metric)
        }

    def node_stages(self, tasks: list[Task], node_pattern: str) -> set[int]:
        """Stages whose tasks updated a metric of a matching plan node."""
        accs = self.node_accums(node_pattern)
        return {t.stage for t in tasks if accs & t.accums.keys()}

    def node_metric_sum(self, tasks: list[Task], node_pattern: str, metric: str) -> float:
        """Sum of one SQL metric over matching nodes, in seconds for
        timings and bytes for sizes."""
        accs = self.node_accums(node_pattern, metric)
        total = sum(v for t in tasks for a, v in t.accums.items() if a in accs)
        kinds = {self.node_metrics[a][2] for a in accs}
        if "nsTiming" in kinds:
            return total / 1e9
        if "timing" in kinds:
            return total / 1e3
        return total


def _walk_plan(info: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for metric in info.get("metrics", []):
        out[metric["accumulatorId"]] = (
            info.get("simpleString", ""),
            metric["name"],
            metric.get("metricType", ""),
        )
    for child in info.get("children", []):
        _walk_plan(child, out)


def _event_files(log_dir: Path) -> list[Path]:
    def order(p: Path) -> int:
        m = re.match(r"events_(\d+)_", p.name)
        return int(m.group(1)) if m else 0

    files: list[Path] = []
    for entry in sorted(log_dir.iterdir()):
        if entry.is_dir():
            files += sorted((p for p in entry.iterdir() if p.name.startswith("events_")), key=order)
        elif not entry.name.endswith(".inprogress"):
            files.append(entry)
    return files


def read_event_log(log_dir: Path) -> EventLog:
    log = EventLog()
    stage_phase: dict[int, str | None] = {}
    exec_phase: dict[int, str | None] = {}
    raw_tasks: list[dict] = []
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                event = json.loads(line)
                kind = event["Event"]
                if kind == "SparkListenerJobStart":
                    props = event.get("Properties") or {}
                    phase = props.get(PHASE_PROPERTY)
                    for stage in event.get("Stage IDs", []):
                        stage_phase[stage] = phase
                    exec_id = props.get("spark.sql.execution.id")
                    if exec_id is not None:
                        exec_phase.setdefault(int(exec_id), phase)
                elif kind == "SparkListenerTaskEnd":
                    raw_tasks.append(event)
                elif kind.endswith("SQLExecutionStart"):
                    log.sql[event["executionId"]] = SqlExec(
                        start_ms=event["time"], plan=event.get("physicalPlanDescription", "")
                    )
                    _walk_plan(event["sparkPlanInfo"], log.node_metrics)
                elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                    _walk_plan(event["sparkPlanInfo"], log.node_metrics)
                elif kind.endswith("SQLExecutionEnd"):
                    if event["executionId"] in log.sql:
                        log.sql[event["executionId"]].end_ms = event["time"]
    for exec_id, sql in log.sql.items():
        sql.phase = exec_phase.get(exec_id)
    for event in raw_tasks:
        metrics = event.get("Task Metrics") or {}
        accums = {}
        for acc in event.get("Task Info", {}).get("Accumulables", []):
            try:
                accums[int(acc["ID"])] = float(acc.get("Update", 0))
            except (TypeError, ValueError):
                continue
        log.tasks.append(
            Task(
                stage=event["Stage ID"],
                phase=stage_phase.get(event["Stage ID"]),
                run_ms=metrics.get("Executor Run Time", 0),
                cpu_ns=metrics.get("Executor CPU Time", 0),
                gc_ms=metrics.get("JVM GC Time", 0),
                shuffle_write=(metrics.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                ),
                spill=metrics.get("Disk Bytes Spilled", 0),
                accums=accums,
            )
        )
    return log


def stage_totals(tasks: list[Task], n: int = 1) -> dict[str, float]:
    """Task-metric totals over ``tasks``, divided by ``n`` runs."""
    n = max(n, 1)
    return {
        "tasks": len(tasks) / n,
        "executor_run_s": sum(t.run_ms for t in tasks) / 1e3 / n,
        "jvm_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9 / n,
        "gc_s": sum(t.gc_ms for t in tasks) / 1e3 / n,
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / MIB / n,
        "spill_mb": sum(t.spill for t in tasks) / MIB / n,
    }
