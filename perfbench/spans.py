"""Spans recorded around calls into the engine's layers, and the Spark event
log read back after the session stops.

Spans are kept in memory and written out once, at exit. A span's self time is
its duration minus the time its child spans cover; the benchmark runs in one
thread, so children are sequential and never overlap.
"""

from __future__ import annotations

import contextlib
import fileinput
import functools
import glob
import json
import os
import time
from collections import defaultdict


class Tracer:
    """Records (name, start, end, parent, op) spans and Spark job groups."""

    enabled = True

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._sc = None

    def attach(self, spark_context) -> None:
        self._sc = spark_context

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent["op"]
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op,
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def job_group(self, group: str) -> None:
        """Tag the Spark jobs that follow, so the event log attributes them."""
        if self._sc is not None:
            self._sc.setJobGroup(group, group)

    def self_times(self) -> list[dict]:
        """Each span with its duration and self time, in seconds."""
        child_s: dict[int, float] = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child_s[s["parent"]] += s["end"] - s["start"]
        out = []
        for s in self.spans:
            dur = s["end"] - s["start"]
            out.append(dict(s, dur=dur, self=dur - child_s[s["id"]]))
        return out


class NullTracer:
    """The untraced run: no spans, no job groups, no wrappers."""

    enabled = False

    def attach(self, spark_context) -> None:
        pass

    def span(self, name: str, op: str | None = None):
        return contextlib.nullcontext()

    def wrap(self, name: str, fn):
        return fn

    def job_group(self, group: str) -> None:
        pass


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

_AQE_UPDATE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


def _new_group() -> dict:
    return {
        "jobs": 0,
        "stages": 0,
        "tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "task_wait_s": 0.0,
        "shuffle_read_bytes": 0,
        "shuffle_write_bytes": 0,
        "spill_bytes": 0,
        "output_bytes": 0,
        "aqe_replans": 0,
    }


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, completed stages, tasks and task metrics.

    Task wait is the scheduler delay the Spark UI shows: a task's wall time
    minus its deserialize, run, result-serialize and result-fetch time.
    """
    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>.
    files = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda f: int(os.path.basename(f).split("_")[1]),
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    groups: dict[str, dict] = defaultdict(_new_group)
    stage_group: dict[int, str] = {}
    exec_group: dict[str, str] = {}
    aqe_updates: dict[str, int] = defaultdict(int)
    for line in fileinput.input(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group is None:
                continue
            groups[group]["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            exec_id = props.get("spark.sql.execution.id")
            if exec_id is not None:
                exec_group.setdefault(str(exec_id), group)
        elif kind == "SparkListenerStageCompleted":
            group = stage_group.get(ev["Stage Info"]["Stage ID"])
            if group is not None:
                groups[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get(ev.get("Stage ID"))
            metrics = ev.get("Task Metrics")
            if group is None or not metrics:
                continue
            g = groups[group]
            info = ev["Task Info"]
            g["tasks"] += 1
            run_ms = metrics.get("Executor Run Time", 0)
            g["executor_run_s"] += run_ms / 1e3
            g["executor_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            wall_ms = info["Finish Time"] - info["Launch Time"]
            fetch_ms = (
                info["Finish Time"] - info["Getting Result Time"]
                if info.get("Getting Result Time")
                else 0
            )
            busy_ms = (
                run_ms
                + metrics.get("Executor Deserialize Time", 0)
                + metrics.get("Result Serialization Time", 0)
                + fetch_ms
            )
            g["task_wait_s"] += max(0, wall_ms - busy_ms) / 1e3
            read = metrics.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += read.get("Remote Bytes Read", 0) + read.get(
                "Local Bytes Read", 0
            )
            write = metrics.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += write.get("Shuffle Bytes Written", 0)
            g["spill_bytes"] += metrics.get("Memory Bytes Spilled", 0) + metrics.get(
                "Disk Bytes Spilled", 0
            )
            out = metrics.get("Output Metrics") or {}
            g["output_bytes"] += out.get("Bytes Written", 0)
        elif kind == _AQE_UPDATE:
            aqe_updates[str(ev.get("executionId"))] += 1
    for exec_id, n in aqe_updates.items():
        group = exec_group.get(exec_id)
        if group is not None:
            groups[group]["aqe_replans"] += n
    return dict(groups)
