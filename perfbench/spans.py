"""Spans around calls into the package's layers, plus Spark's counters.

A span is a wall-clock interval named after the layer it enters. Every
Spark job started inside a span carries the span's job group
(``SparkContext.setJobGroup``), so the event log attributes jobs,
stages and tasks to it. :func:`fold_event_log` reads the uncompressed
JSON-lines event log Spark writes and sums the counters per job group.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

#: SQL metric the Python UDF operators report, in milliseconds.
PYTHON_TIME_METRIC = "time to run Python workers"


class Tracer:
    """Collects spans; with ``sc`` None (the untraced run) spans are
    not recorded."""

    def __init__(self, sc=None) -> None:
        self.sc = sc
        self.spans: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int):
        if self.sc is None:
            yield
            return
        group = f"{name}#{op}"
        self.sc.setJobGroup(group, name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(
                {"name": name, "op": op, "group": group,
                 "start": start, "end": end}
            )


def _counters() -> dict:
    return {
        "jobs": 0, "stages": 0, "tasks": 0, "executor_run_s": 0.0,
        "input_bytes": 0, "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "spill_bytes": 0, "python_worker_s": 0.0, "job_intervals": [],
    }


def fold_event_log(path: str) -> dict[str, dict]:
    """Per job group: jobs, stages and tasks run, executor run time,
    input, shuffle and spill bytes, Python worker time, and the
    (submit, complete) wall interval of each job in epoch seconds."""
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_submit: dict[int, float] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if g is None:
                    continue
                jid = ev["Job ID"]
                job_group[jid] = g
                job_submit[jid] = ev["Submission Time"] / 1000.0
                groups.setdefault(g, _counters())["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                if jid in job_group:
                    groups[job_group[jid]]["job_intervals"].append(
                        (job_submit[jid], ev["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageCompleted":
                g = stage_group.get(ev["Stage Info"]["Stage ID"])
                if g is not None:
                    groups[g]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                if g is None:
                    continue
                c = groups[g]
                c["tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                c["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                    "Local Bytes Read", 0
                )
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_TIME_METRIC:
                        c["python_worker_s"] += int(acc.get("Update", 0)) / 1000.0
    return groups


def driver_gap_s(span: dict, intervals: list[tuple[float, float]]) -> float:
    """Wall time inside ``span`` during which no Spark job was running."""
    busy, cursor = 0.0, span["start"]
    for s, e in sorted(intervals):
        s, e = max(s, cursor), min(e, span["end"])
        if e > s:
            busy += e - s
            cursor = e
    return max(0.0, (span["end"] - span["start"]) - busy)
