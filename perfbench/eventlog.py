"""Per-span Spark metrics from Spark's own event log.

Reads the JSON-lines log a session writes with ``spark.eventLog.enabled``
and attributes every job to the span whose job group it ran under (see
``tracing.Tracer``). Only job-start/end, stage-completed and task-end
events are used.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from collections import defaultdict

from perfbench.tracing import Span, covered_ms

#: per-call layer metrics derived from the log (suffixes of ``L.<name>``)
LAYER_METRICS = (
    "jobs",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "shuffle_write_mb",
    "task_skew",
    "driver_s",
)

MB = 1024 * 1024


class EventLog:
    def __init__(self, lines):
        self.jobs: dict[int, dict] = {}
        self.stage_job: dict[int, int] = {}
        self.stage_wall: dict[int, float] = {}
        self.tasks: dict[int, list[dict]] = defaultdict(list)
        for line in lines:
            if not line.strip():
                continue
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                jid = e["Job ID"]
                self.jobs[jid] = {
                    "group": props.get("spark.jobGroup.id"),
                    "start": e["Submission Time"],
                    "end": None,
                }
                for sid in e["Stage IDs"]:
                    self.stage_job.setdefault(sid, jid)
            elif ev == "SparkListenerJobEnd":
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
            elif ev == "SparkListenerStageCompleted":
                si = e["Stage Info"]
                if si.get("Submission Time") and si.get("Completion Time"):
                    self.stage_wall[si["Stage ID"]] = si["Completion Time"] - si["Submission Time"]
            elif ev == "SparkListenerTaskEnd":
                ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                self.tasks[e["Stage ID"]].append(
                    {
                        "ms": ti["Finish Time"] - ti["Launch Time"],
                        "run_ms": tm.get("Executor Run Time", 0),
                        "cpu_ns": tm.get("Executor CPU Time", 0),
                        "shuffle_write": (tm.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0
                        ),
                        "records_read": (tm.get("Input Metrics") or {}).get("Records Read", 0),
                        "bytes_written": (tm.get("Output Metrics") or {}).get("Bytes Written", 0),
                    }
                )

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
        with open(files[0]) as f:
            return cls(f)

    def span_metrics(self, sp: Span) -> dict:
        """Spark work attributed to one span (jobs in its job group)."""
        jids = [j for j, v in self.jobs.items() if v["group"] == sp.group]
        jobset = set(jids)
        stages = [s for s, j in self.stage_job.items() if j in jobset and self.tasks.get(s)]
        tasks = [t for s in stages for t in self.tasks[s]]
        intervals = [(self.jobs[j]["start"], self.jobs[j]["end"] or sp.end_ms) for j in jids]
        skew = 1.0
        if stages:
            slow = max(stages, key=lambda s: self.stage_wall.get(s, 0))
            ms = [t["ms"] for t in self.tasks[slow]]
            skew = max(ms) / max(statistics.median(ms), 1)
        return {
            "jobs": len(jids),
            "tasks": len(tasks),
            "executor_run_s": sum(t["run_ms"] for t in tasks) / 1e3,
            "executor_cpu_s": sum(t["cpu_ns"] for t in tasks) / 1e9,
            "shuffle_write_mb": sum(t["shuffle_write"] for t in tasks) / MB,
            "task_skew": skew,
            "driver_s": ((sp.end_ms - sp.start_ms) - covered_ms(intervals, sp.start_ms, sp.end_ms))
            / 1e3,
            "records_read": sum(t["records_read"] for t in tasks),
            "bytes_written_mb": sum(t["bytes_written"] for t in tasks) / MB,
        }

    def unattributed_jobs(self, spans: list[Span]) -> int:
        groups = {s.group for s in spans}
        return sum(1 for v in self.jobs.values() if v["group"] not in groups)


def layer_metrics(log: EventLog, spans: list[Span], layers) -> dict[str, float]:
    """``L.<metric>`` per call of layer L: the mean over L's spans."""
    out = {}
    for layer in layers:
        per = [log.span_metrics(s) for s in spans if s.layer == layer]
        for m in LAYER_METRICS:
            out[f"{layer}.{m}"] = statistics.fmean(p[m] for p in per) if per else 0.0
    return out
