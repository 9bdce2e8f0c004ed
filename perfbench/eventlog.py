"""Parser for a local Spark event log (one JSON event per line).

The benchmark wraps every call into a layer in its own Spark job group
(``SparkContext.setJobGroup``), so each job, stage and task in the log can
be charged to the call that launched it.  ``parse`` folds the log into one
``GroupStats`` per job group: job, stage and task counts, task run/CPU/GC
time, shuffle bytes, spill, output bytes, and the SQL metrics of the
Python/Arrow operators (bytes sent to and returned from Python workers).
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

# SQL metric names (accumulable names) of the Python UDF operators
PY_BYTES_IN = "data sent to Python workers"
PY_BYTES_OUT = "data returned from Python workers"


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    task_run_ms: int = 0
    task_cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    python_bytes_in: int = 0
    python_bytes_out: int = 0
    python_stages: int = 0
    stage_ids: set = field(default_factory=set)

    def add(self, other: "GroupStats") -> None:
        for k, v in vars(other).items():
            if k == "stage_ids":
                self.stage_ids |= v
            else:
                setattr(self, k, getattr(self, k) + v)


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or ""


def parse_lines(lines) -> dict[str, GroupStats]:
    """Fold event-log lines into per-job-group stats.  Stages are charged
    to the group of the job that submitted them; tasks to their stage's
    group.  Stages a job lists but skips (reused shuffle output) are not
    counted."""
    out: dict[str, GroupStats] = {}
    stage_group: dict[int, str] = {}

    def g(name: str) -> GroupStats:
        return out.setdefault(name, GroupStats())

    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g(_group(ev.get("Properties"))).jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            sid = ev["Stage Info"]["Stage ID"]
            stage_group[sid] = _group(ev.get("Properties"))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            st = g(stage_group.get(sid, ""))
            if sid not in st.stage_ids:
                st.stage_ids.add(sid)
                st.stages += 1
            for acc in info.get("Accumulables", []):
                name, val = acc.get("Name"), acc.get("Value")
                if name == PY_BYTES_IN:
                    st.python_bytes_in += int(val)
                    st.python_stages += int(val) > 0
                elif name == PY_BYTES_OUT:
                    st.python_bytes_out += int(val)
        elif kind == "SparkListenerTaskEnd":
            st = g(stage_group.get(ev["Stage ID"], ""))
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.task_run_ms += m.get("Executor Run Time", 0)
            st.task_cpu_ns += m.get("Executor CPU Time", 0)
            st.gc_ms += m.get("JVM GC Time", 0)
            sw = m.get("Shuffle Write Metrics") or {}
            st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            st.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                "Disk Bytes Spilled", 0
            )
            st.output_bytes += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return out


def parse(path: str) -> dict[str, GroupStats]:
    with open(path, encoding="utf-8") as f:
        return parse_lines(f)


def total(stats: dict[str, GroupStats], prefix: str) -> GroupStats:
    """Sum of every group whose id starts with ``prefix``."""
    acc = GroupStats()
    for name, st in stats.items():
        if name.startswith(prefix):
            acc.add(st)
    return acc
