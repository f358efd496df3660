"""Reader for Spark's JSON event log (``spark.eventLog.enabled``).

Only the traced run turns the log on; it is parsed after the session
stops, so reading it costs the measured run nothing. It yields the jobs
(with submission time, for attribution to spans) and per-stage task
metrics summed over every task.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# Physical operators whose stages run Python worker code.
PYTHON_SCOPES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "AggregateInPandas",
    "WindowInPandas",
    "FlatMapGroupsInArrow",
    "FlatMapGroupsInPandasWithState",
    "PythonUDTF",
    "ArrowEvalPythonUDTF",
)


@dataclass
class Stage:
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    python: bool = False


@dataclass
class EventLog:
    # (job id, submission epoch seconds, stage ids)
    jobs: list[tuple[int, float, list[int]]] = field(default_factory=list)
    stages: dict[int, Stage] = field(default_factory=dict)


def _is_python_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if not scope:
            continue
        try:
            name = json.loads(scope).get("name", "")
        except ValueError:
            continue
        if any(name.startswith(p) for p in PYTHON_SCOPES):
            return True
    return False


def parse(log_dir: str) -> EventLog:
    """Parse every event-log file under ``log_dir`` (Spark 4 writes a
    ``eventlog_v2_<app>/events_<n>_<app>`` directory)."""
    out = EventLog()
    paths = [
        os.path.join(d, f)
        for d, _, files in os.walk(log_dir)
        for f in files
        if f.startswith("events_") or f.startswith("local-")
    ]
    paths.sort(key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])
                              if os.path.basename(p).startswith("events_") else 0))
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    out.jobs.append(
                        (ev["Job ID"], ev["Submission Time"] / 1000.0, ev.get("Stage IDs", []))
                    )
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    st = out.stages.setdefault(ev["Stage ID"], Stage())
                    st.tasks += 1
                    st.run_s += m.get("Executor Run Time", 0) / 1e3
                    st.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    st.gc_s += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics", {})
                    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    st.shuffle_write_bytes += m.get("Shuffle Write Metrics", {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    st.spill_bytes += m.get("Disk Bytes Spilled", 0)
                    st.input_bytes += m.get("Input Metrics", {}).get("Bytes Read", 0)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = out.stages.setdefault(info["Stage ID"], Stage())
                    st.python = st.python or _is_python_stage(info)
    return out
