"""Spark event-log reader: per-job-group task metrics.

The benchmark tags every layer call with ``setJobGroup(group, ...)``;
this module folds the task-end events of one uncompressed event log
into one ``GroupStats`` per job group: job count, task run and GC
time, shuffle write, spill, and the SQL metrics that Spark's Python
operators report ("time to run Python workers" and friends).
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

# SQL metric names of Spark's Python exec nodes (PythonSQLMetrics);
# the timings are summed task milliseconds, the data metrics bytes.
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"
PY_SENT = "data sent to Python workers"
_SQL_NAMES = (PY_RUN, PY_START, PY_SENT)


@dataclass
class StageStats:
    task_run_ms: list[int] = field(default_factory=list)
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    sql: dict[str, int] = field(default_factory=lambda: defaultdict(int))


@dataclass
class GroupStats:
    jobs: int = 0
    stages: dict[int, StageStats] = field(default_factory=dict)

    def total(self, attr: str) -> int:
        return sum(getattr(s, attr) for s in self.stages.values())

    def sql(self, name: str) -> int:
        return sum(s.sql.get(name, 0) for s in self.stages.values())

    def task_skew(self) -> float:
        """max ÷ median task run time of the busiest stage."""
        if not self.stages:
            return 0.0
        busiest = max(self.stages.values(), key=lambda s: sum(s.task_run_ms))
        med = statistics.median(busiest.task_run_ms) if busiest.task_run_ms else 0
        return max(busiest.task_run_ms) / med if med else 0.0


def _num(v) -> int:
    try:
        return int(float(v))
    except (TypeError, ValueError):
        return 0


def _event_files(log_dir: str) -> list[str]:
    """Event files in write order: rolling logs keep ``events_<n>_<app>``
    files in an ``eventlog_v2_<app>`` directory."""
    out = []
    for d, _, names in os.walk(log_dir):
        for name in names:
            if name.startswith("events_"):
                out.append((int(name.split("_")[1]), os.path.join(d, name)))
            elif not name.startswith("appstatus_") and not name.startswith("."):
                out.append((0, os.path.join(d, name)))
    return [p for _, p in sorted(out)]


def parse(log_dir: str) -> dict[str, GroupStats]:
    """Fold the event logs under ``log_dir`` into stats per job group
    (jobs without a group are keyed ``""``)."""
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    stage_group: dict[int, str] = {}
    for path in _event_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    groups[g].jobs += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                elif kind == "SparkListenerTaskEnd":
                    sid = ev.get("Stage ID")
                    st = groups[stage_group.get(sid, "")].stages.setdefault(sid, StageStats())
                    tm = ev.get("Task Metrics") or {}
                    st.task_run_ms.append(_num(tm.get("Executor Run Time")))
                    st.gc_ms += _num(tm.get("JVM GC Time"))
                    st.spill_bytes += _num(tm.get("Memory Bytes Spilled")) + _num(tm.get("Disk Bytes Spilled"))
                    st.shuffle_write_bytes += _num((tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written"))
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        if acc.get("Name") in _SQL_NAMES:
                            st.sql[acc["Name"]] += _num(acc.get("Update"))
    return dict(groups)
