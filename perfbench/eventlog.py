"""Per-layer table from a Spark event log.

The traced run tags every Spark job with ``sc.setJobGroup(<group>)``;
this reader folds the log's task-end events into one row per group:
jobs, tasks, executor run and CPU time, shuffle read/write, spill, GC,
and the Python-UDF SQL metrics Spark 4.1 records (time spent running
the Python workers, bytes sent to them).

The log must be written uncompressed and unrolled
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``)
and read after the session has stopped, when it is complete.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}

FIELDS = (
    "jobs",
    "tasks",
    "run_s",
    "cpu_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "gc_s",
    "python_run_s",
    "python_sent_mb",
)

_MB = 2**20
# SQL metric names of the Python evaluation nodes (PythonSQLMetrics)
_PY_RUN = "time to run Python workers"
_PY_SENT = "data sent to Python workers"


def conf(log_dir: str) -> dict[str, str]:
    """Session conf that writes the event log under ``log_dir``."""
    return {**CONF, "spark.eventLog.dir": "file://" + os.path.abspath(log_dir)}


def read_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Fold every event log under ``log_dir`` into ``{group: {field: value}}``.
    Jobs without a group are reported under ``""``."""
    table: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    stage_group: dict[int, str] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path):
            continue
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    table[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
                elif kind == "SparkListenerTaskEnd":
                    row = table[stage_group.get(ev.get("Stage ID"), "")]
                    _add_task(row, ev)
    return {g: dict(v) for g, v in table.items()}


def _add_task(row: dict[str, float], ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    row["tasks"] += 1
    row["run_s"] += m.get("Executor Run Time", 0) / 1e3
    row["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    row["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    row["spill_mb"] += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / _MB
    read = m.get("Shuffle Read Metrics") or {}
    row["shuffle_read_mb"] += (read.get("Local Bytes Read", 0) + read.get("Remote Bytes Read", 0)) / _MB
    row["shuffle_write_mb"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) / _MB
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        name, update = acc.get("Name"), acc.get("Update")
        if not isinstance(update, (int, float)) and not (isinstance(update, str) and update.isdigit()):
            continue
        if name == _PY_RUN:
            row["python_run_s"] += int(update) / 1e3  # a timing metric, in ms
        elif name == _PY_SENT:
            row["python_sent_mb"] += int(update) / _MB


def clear(log_dir: str) -> None:
    os.makedirs(log_dir, exist_ok=True)
    for path in glob.glob(os.path.join(log_dir, "*")):
        if os.path.isfile(path):
            os.remove(path)
