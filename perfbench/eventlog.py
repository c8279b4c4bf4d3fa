"""Fold a Spark event log into per-job-group counters.

The traced run enables the event log and wraps every layer call in a job
group named after the layer (``common.Run.span``). Folding maps each
stage to the group of the job that ran it and sums, per group: input
bytes, shuffle bytes written, bytes spilled, GC time, and the SQL metric
accumulators the Python-UDF operators report. Per stage it keeps the
task run times, so skew is max over median task time.

Task input bytes also count reads of cached blocks, so a file's own scan
volume comes from the SQL plans instead: each file scan node posts its
"size of files read" from the driver when it runs, and the node's
``Location`` names the files. Each such post is one scan of the file.
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict
from pathlib import Path

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_ADAPTIVE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"
DRIVER_ACCUMS = "org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates"

# SQL metric accumulator names of the pandas-UDF operators
PY_ACCUMS = {
    "data returned from Python workers": "python_bytes_received",
    "time to run Python workers": "python_run_ms",
}


class Group:
    def __init__(self):
        self.input_bytes = 0
        self.shuffle_write_bytes = 0
        self.spill_bytes = 0
        self.gc_ms = 0
        self.tasks = 0
        self.accums: dict[str, int] = defaultdict(int)
        self.stage_runs: dict[tuple, list[int]] = defaultdict(list)
        self.file_scan_bytes: dict[str, int] = defaultdict(int)  # scan Location -> bytes

    def scanned_bytes(self, path: str) -> int:
        """Bytes the group's file scans read from files under ``path``."""
        return sum(v for loc, v in self.file_scan_bytes.items() if path in loc)

    def task_skew(self) -> float:
        """max/median task run time of the stage with the most total run
        time among stages of at least two tasks (1.0 when none)."""
        best, best_total = 1.0, -1
        for runs in self.stage_runs.values():
            if len(runs) < 2:
                continue
            total = sum(runs)
            med = statistics.median(runs)
            if total > best_total and med > 0:
                best, best_total = max(runs) / med, total
        return best


def _scan_accums(plan: dict, out: dict[int, str]) -> None:
    """accumulator id of "size of files read" -> Location, over a plan tree."""
    loc = (plan.get("metadata") or {}).get("Location")
    if loc:
        for m in plan.get("metrics", []):
            if m.get("name") == "size of files read":
                out[m["accumulatorId"]] = loc
    for child in plan.get("children", []):
        _scan_accums(child, out)


def fold(eventlog_dir: Path) -> dict[str, Group]:
    """{job group id (or '' when none): Group} over every log file."""
    groups: dict[str, Group] = defaultdict(Group)
    # Spark 4 writes each application's log as a directory of event files
    files = [p for p in sorted(Path(eventlog_dir).rglob("*")) if p.is_file()]
    for path in (p for p in files if not p.name.startswith("appstatus")):
        stage_group: dict[int, str] = {}
        exec_group: dict[int, str] = {}  # SQL execution id -> job group
        scan_loc: dict[int, str] = {}
        driver_updates: list[tuple[int, int, int]] = []  # (execution, accum, value)
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a torn final line of an in-progress log
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = grp
                    if "spark.sql.execution.id" in props:
                        exec_group.setdefault(int(props["spark.sql.execution.id"]), grp)
                elif kind in (SQL_START, SQL_ADAPTIVE):
                    _scan_accums(ev.get("sparkPlanInfo") or {}, scan_loc)
                elif kind == DRIVER_ACCUMS:
                    for acc, value in ev.get("accumUpdates", []):
                        driver_updates.append((ev.get("executionId"), acc, value))
                elif kind == "SparkListenerTaskEnd":
                    g = groups[stage_group.get(ev.get("Stage ID"), "")]
                    tm = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.input_bytes += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
                    g.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    g.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get(
                        "Disk Bytes Spilled", 0
                    )
                    g.gc_ms += tm.get("JVM GC Time", 0)
                    g.stage_runs[(path.name, ev.get("Stage ID"))].append(
                        tm.get("Executor Run Time", 0)
                    )
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                        key = PY_ACCUMS.get(acc.get("Name"))
                        if key:
                            try:
                                g.accums[key] += int(acc.get("Update", 0))
                            except (TypeError, ValueError):
                                pass
        for ex, acc, value in driver_updates:
            if acc in scan_loc:
                groups[exec_group.get(ex, "")].file_scan_bytes[scan_loc[acc]] += value
    return groups
