"""Spark event-log reader for the traced run.

The traced session is started with ``spark.eventLog.enabled`` (plain,
uncompressed, non-rolling file, see ``eventlog_conf``). Jobs of interest
are tagged with a job group; ``engine_metrics`` folds the job, stage and
task events of that group into the ``spark.*`` per-layer metrics.
"""

from __future__ import annotations

import json
import statistics
from collections.abc import Iterable, Iterator
from pathlib import Path


def eventlog_conf(log_dir: Path) -> dict:
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_events(path: Path) -> Iterator[dict]:
    with open(path) as f:
        for line in f:
            line = line.strip()
            if line:
                yield json.loads(line)


def engine_metrics(events: Iterable[dict], job_group: str) -> dict:
    """spark.* metrics over the jobs whose spark.jobGroup.id is
    `job_group` (their stages and tasks only)."""
    jobs: dict[int, dict] = {}
    stage_ids: set[int] = set()
    stages: dict[tuple[int, int], dict] = {}
    tasks: list[dict] = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            if props.get("spark.jobGroup.id") == job_group:
                jobs[ev["Job ID"]] = ev
                stage_ids.update(ev.get("Stage IDs", []))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info["Stage ID"] in stage_ids:
                stages[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = info
        elif kind == "SparkListenerTaskEnd":
            if ev.get("Stage ID") in stage_ids:
                tasks.append(ev)

    run_ms = cpu_ns = gc_ms = delay_ms = 0
    shuffle = spill = failed = 0
    by_stage: dict[tuple[int, int], list[float]] = {}
    for t in tasks:
        info = t.get("Task Info", {})
        m = t.get("Task Metrics") or {}
        reason = (t.get("Task End Reason") or {}).get("Reason", "Success")
        if info.get("Failed") or info.get("Killed") or reason != "Success":
            failed += 1
        dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
        run = m.get("Executor Run Time", 0)
        run_ms += run
        cpu_ns += m.get("Executor CPU Time", 0)
        gc_ms += m.get("JVM GC Time", 0)
        delay_ms += max(0, dur - run - m.get("Executor Deserialize Time", 0)
                        - m.get("Result Serialization Time", 0)
                        - info.get("Getting Result Time", 0))
        shuffle += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        spill += m.get("Disk Bytes Spilled", 0)
        key = (t["Stage ID"], t.get("Stage Attempt ID", 0))
        by_stage.setdefault(key, []).append(dur)

    skew = 1.0
    if stages:
        longest = max(stages, key=lambda k: stages[k].get("Completion Time", 0)
                      - stages[k].get("Submission Time", 0))
        durs = by_stage.get(longest, [])
        med = statistics.median(durs) if durs else 0
        skew = max(durs) / med if med > 0 else 1.0
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.failed_tasks": failed,
        "spark.task_skew": skew,
        "spark.cpu_frac": (cpu_ns / 1e6) / run_ms if run_ms else 0.0,
        "spark.gc_s": gc_ms / 1000.0,
        "spark.scheduler_delay_s": delay_ms / 1000.0,
        "spark.shuffle_bytes": shuffle,
        "spark.spill_bytes": spill,
    }
