"""Read a Spark event log and reduce it to per-SQL-execution records (a job
outside any SQL execution becomes a record of its own).

Only built-in facilities: the event log written by ``spark.eventLog``
(uncompressed, as ``box.start_session`` configures it), its task metrics
and its SQL node metrics. Each execution record carries the output directory it
writes (if any), so a caller can attribute executions to layers by path or
by the wall-clock span they started in.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
from dataclasses import dataclass, field

_WRITE = re.compile(r"InsertIntoHadoopFsRelationCommand file:([^,\s]+)")
_PYTHON_NODE = ("Pandas", "Arrow", "Python")


@dataclass
class Execution:
    id: int
    start_ms: int
    end_ms: int = 0
    path: str | None = None
    jobs: int = 0
    tasks: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_write_ns: int = 0
    records_written: int = 0
    files_read: int = 0
    py_tasks: int = 0
    py_tasks_with_output: int = 0
    py_start_ms: int = 0
    py_init_ms: int = 0
    py_run_ms: int = 0
    to_python_bytes: int = 0
    from_python_bytes: int = 0
    py_rows_out: int = 0
    py_rows_in: int = 0
    exchange_records: int = 0
    py_task_run_ms: list = field(default_factory=list)
    py_stages: set = field(default_factory=set)
    py_stage_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return max(0, self.end_ms - self.start_ms) / 1000.0

    @property
    def name(self) -> str | None:
        return os.path.basename(self.path.rstrip("/")) if self.path else None

    @property
    def task_skew(self) -> float:
        runs = [r for r in self.py_task_run_ms if r > 0]
        return max(runs) / statistics.median(runs) if runs else 0.0


def event_files(event_dir: str) -> list[str]:
    """The v2 log's ``eventlog_v2_<app>/events_<n>_<app>`` parts, in order."""

    def order(f):
        return (os.path.dirname(f), int(re.match(r"events_(\d+)_", os.path.basename(f)).group(1)))

    return sorted(glob.glob(os.path.join(event_dir, "*", "events_*")), key=order)


def _walk_plan(info: dict, node_of: dict[int, tuple[str, str]], feeds_python: bool = False) -> None:
    """Map each metric's accumulator to (node, metric). The output rows of
    the nearest node below a Python node that counts them are renamed
    ``rows into Python``: what the Python node was fed."""
    python = any(k in info["nodeName"] for k in _PYTHON_NODE)
    counted = False
    for m in info.get("metrics", []):
        metric = m["name"]
        if feeds_python and metric == "number of output rows":
            metric, counted = "rows into Python", True
        node_of[int(m["accumulatorId"])] = (info["nodeName"], metric)
    for child in info.get("children", []):
        _walk_plan(child, node_of, python or (feeds_python and not counted))


def _write_path(info: dict) -> str | None:
    m = _WRITE.search(info.get("simpleString", ""))
    if m:
        return m.group(1)
    for child in info.get("children", []):
        found = _write_path(child)
        if found:
            return found
    return None


def read_executions(event_dir: str) -> list[Execution]:
    execs: dict[int, Execution] = {}
    stage_exec: dict[int, int] = {}
    node_of: dict[int, tuple[str, str]] = {}
    stage_wall: dict[int, float] = {}
    for path in event_files(event_dir):
        with open(path) as fh:
            lines = fh.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart"):
                x = Execution(ev["executionId"], ev["time"])
                x.path = _write_path(ev["sparkPlanInfo"])
                execs[x.id] = x
                _walk_plan(ev["sparkPlanInfo"], node_of)
            elif kind.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(ev["sparkPlanInfo"], node_of)
            elif kind.endswith("DriverAccumUpdates"):
                x = execs.get(ev["executionId"])
                for acc_id, value in ev.get("accumUpdates", []):
                    if x is not None and node_of.get(int(acc_id), ("", ""))[1] == "number of files read":
                        x.files_read += int(value)
            elif kind.endswith("SQLExecutionEnd"):
                if ev["executionId"] in execs:
                    execs[ev["executionId"]].end_ms = ev["time"]
            elif kind == "SparkListenerJobStart":
                xid = ev.get("Properties", {}).get("spark.sql.execution.id")
                if xid is None:
                    # a job outside any SQL execution (e.g. a parquet schema
                    # listing) stands for itself, keyed below every SQL id
                    xid = -1 - ev["Job ID"]
                    execs[xid] = Execution(xid, ev["Submission Time"])
                if int(xid) in execs:
                    execs[int(xid)].jobs += 1
                    for sid in ev["Stage IDs"]:
                        stage_exec[sid] = int(xid)
            elif kind == "SparkListenerJobEnd":
                if -1 - ev["Job ID"] in execs:
                    execs[-1 - ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Completion Time" in info and "Submission Time" in info:
                    stage_wall[info["Stage ID"]] = (
                        info["Completion Time"] - info["Submission Time"]
                    ) / 1000.0
            elif kind == "SparkListenerTaskEnd":
                x = execs.get(stage_exec.get(ev["Stage ID"], -1))
                if x is not None:
                    _add_task(x, ev, node_of)
    for x in execs.values():
        x.py_stage_s = sum(stage_wall.get(s, 0.0) for s in x.py_stages)
    return sorted(execs.values(), key=lambda x: x.start_ms)


def _add_task(x: Execution, ev: dict, node_of: dict[int, tuple[str, str]]) -> None:
    tm = ev.get("Task Metrics") or {}
    x.tasks += 1
    x.cpu_ns += tm.get("Executor CPU Time", 0)
    x.gc_ms += tm.get("JVM GC Time", 0)
    x.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
    sw = tm.get("Shuffle Write Metrics", {})
    x.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
    x.shuffle_write_ns += sw.get("Shuffle Write Time", 0)
    x.records_written += tm.get("Output Metrics", {}).get("Records Written", 0)
    python, rows_out = False, 0
    for acc in ev["Task Info"].get("Accumulables", []):
        name = acc.get("Name")
        node, metric = node_of.get(int(acc["ID"]), ("", ""))
        try:
            upd = int(acc.get("Update") or 0)
        except (TypeError, ValueError):
            continue
        if metric == "rows into Python":
            x.py_rows_in += upd
        elif name == "time to run Python workers":
            python = True
            x.py_run_ms += upd
        elif name == "time to initialize Python workers":
            x.py_init_ms += upd
        elif name == "time to start Python workers":
            x.py_start_ms += upd
        elif name == "data sent to Python workers":
            x.to_python_bytes += upd
        elif name == "data returned from Python workers":
            x.from_python_bytes += upd
        elif name == "number of output rows" and any(k in node for k in _PYTHON_NODE):
            rows_out += upd
        elif name == "shuffle records written":
            x.exchange_records += upd
    if python:
        x.py_tasks += 1
        x.py_tasks_with_output += rows_out > 0
        x.py_rows_out += rows_out
        x.py_task_run_ms.append(tm.get("Executor Run Time", 0))
        x.py_stages.add(ev["Stage ID"])


def in_span(execs: list[Execution], start_s: float, end_s: float) -> list[Execution]:
    """Executions that started inside a wall-clock span (``time.time()``
    seconds; the event log stamps the same clock in milliseconds)."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    return [x for x in execs if lo <= x.start_ms <= hi]
