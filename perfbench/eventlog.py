"""Reader for a plain (uncompressed, non-rolling) Spark event log.

The traced run turns the log on through its own session config
(``spark.eventLog.compress=false``, ``spark.eventLog.rolling.enabled=false``),
so each application is one JSON-lines file. Jobs, stages and tasks are
attributed to a time window by overlap with it; the driver gap of a window
is the part of it during which no stage was running.
"""

from __future__ import annotations

import glob
import json
import os
from dataclasses import dataclass, field

from perfbench.tracing import union_length


@dataclass
class AppLog:
    jobs: list[float] = field(default_factory=list)  # submission times
    stages: list[tuple[float, float]] = field(default_factory=list)  # (submit, end)
    # (finish time, executor run seconds, shuffle bytes written)
    tasks: list[tuple[float, float, int]] = field(default_factory=list)


def find_log(log_dir: str) -> str:
    logs = [p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p)]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


def read_log(path: str) -> AppLog:
    log = AppLog()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                log.jobs.append(ev["Submission Time"] / 1e3)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Submission Time" in info and "Completion Time" in info:
                    log.stages.append(
                        (info["Submission Time"] / 1e3, info["Completion Time"] / 1e3)
                    )
            elif kind == "SparkListenerTaskEnd":
                ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                shuffle = (tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                log.tasks.append(
                    (ti["Finish Time"] / 1e3, tm.get("Executor Run Time", 0) / 1e3, shuffle)
                )
    return log


def window_stats(log: AppLog, windows: list[tuple[float, float]]) -> dict:
    """Spark work inside a set of disjoint (start, end) windows.

    A job or stage counts in the window it was submitted in; a task's run
    time and shuffle bytes count in the window it finished in. The gap is
    window time not covered by any running stage.
    """
    jobs = stages = tasks = shuffle = 0
    busy = gap = 0.0
    for a, b in windows:
        jobs += sum(1 for s in log.jobs if a <= s < b)
        stages += sum(1 for s, _ in log.stages if a <= s < b)
        for fin, run_s, sh in log.tasks:
            if a <= fin < b:
                tasks += 1
                busy += run_s
                shuffle += sh
        covered = union_length((max(s, a), min(e, b)) for s, e in log.stages)
        gap += (b - a) - covered
    return {
        "jobs": jobs,
        "stages": stages,
        "tasks": tasks,
        "executor_busy_s": busy,
        "shuffle_mb": shuffle / 2**20,
        "driver_gap_s": gap,
    }
