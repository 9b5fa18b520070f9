"""Spark event log -> per-job records -> the ``spark.*`` metrics.

The log is written by the session itself (``spark.eventLog.enabled``),
so nothing inside the package has to cooperate. Jobs are attributed to
a benchmark step either by the job group the step set on the calling
thread, or, for jobs submitted from threads that do not inherit the
group (the crawler's overlap pools), by the time window the submission
falls in.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

from stats import clip_intervals, union_length

# SQL metrics of the Python runner nodes (ArrowEvalPython, MapInPandas,
# FlatMapGroupsInPandas, ...), in milliseconds
PY_RUN = "time to run Python workers"
PY_START = ("time to start Python workers", "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Job:
    job_id: int
    start: float              # epoch seconds
    end: float | None = None
    group: str | None = None
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_run_s: float = 0.0
    python_start_s: float = 0.0
    python_bytes: int = 0


def read_events(event_dir: str) -> list[dict]:
    """Every event of every log file under ``event_dir`` (rolling logs
    are a directory of ``events_<n>_<app>`` files), in file order."""
    paths = []
    for dirpath, _dirs, files in os.walk(event_dir):
        for name in files:
            if name.startswith(".") or name.startswith("appstatus"):
                continue
            paths.append(os.path.join(dirpath, name))

    def order(p: str):
        base = os.path.basename(p)
        parts = base.split("_")
        if base.startswith("events_") and len(parts) > 1 and parts[1].isdigit():
            return (os.path.dirname(p), int(parts[1]))
        return (os.path.dirname(p), 0)

    events = []
    for p in sorted(paths, key=order):
        with open(p) as f:
            for line in f:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _acc_value(acc: dict) -> float:
    v = acc.get("Update", acc.get("Value", 0))
    try:
        return float(v)
    except (TypeError, ValueError):
        return 0.0


def parse_jobs(events: list[dict]) -> dict[int, Job]:
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                start=ev["Submission Time"] / 1000.0,
                group=props.get("spark.jobGroup.id"),
                stages=list(ev.get("Stage IDs", [])),
            )
            jobs[job.job_id] = job
            for sid in job.stages:
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
            if job is None:
                continue
            job.tasks += 1
            tm = ev.get("Task Metrics") or {}
            job.run_s += tm.get("Executor Run Time", 0) / 1000.0
            job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
            job.gc_s += tm.get("JVM GC Time", 0) / 1000.0
            job.shuffle_write_bytes += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            job.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                name = acc.get("Name")
                if name == PY_RUN:
                    job.python_run_s += _acc_value(acc) / 1000.0
                elif name in PY_START:
                    job.python_start_s += _acc_value(acc) / 1000.0
                elif name in PY_BYTES:
                    job.python_bytes += int(_acc_value(acc))
    return jobs


def jobs_in_window(jobs: dict[int, Job], lo: float, hi: float) -> list[Job]:
    """Jobs submitted inside ``[lo, hi]``."""
    return [j for j in jobs.values() if lo <= j.start <= hi]


def jobs_in_group(jobs: dict[int, Job], group: str) -> list[Job]:
    return [j for j in jobs.values() if j.group == group]


def attribute_by_window(jobs: list[Job],
                        windows: list[tuple[str, float, float]]) -> dict[str, list[Job]]:
    """Assign each job to the first window containing its submission
    time; jobs outside every window are left out."""
    out: dict[str, list[Job]] = {key: [] for key, _, _ in windows}
    for j in jobs:
        for key, lo, hi in windows:
            if lo <= j.start <= hi:
                out[key].append(j)
                break
    return out


def job_spans(jobs: list[Job]) -> list[tuple[float, float]]:
    return [(j.start, j.end) for j in jobs if j.end is not None]


def driver_gap(jobs: list[Job], lo: float, hi: float) -> float:
    """Wall time of ``[lo, hi]`` not covered by any job span."""
    return (hi - lo) - union_length(clip_intervals(job_spans(jobs), lo, hi))


def summarize(jobs: list[Job], lo: float, hi: float) -> dict[str, float]:
    """The ``spark.*`` metrics of the jobs run inside ``[lo, hi]``."""
    return {
        "spark.jobs": float(len(jobs)),
        "spark.tasks": float(sum(j.tasks for j in jobs)),
        "spark.executor_run_s": sum(j.run_s for j in jobs),
        "spark.executor_cpu_s": sum(j.cpu_s for j in jobs),
        "spark.gc_s": sum(j.gc_s for j in jobs),
        "spark.shuffle_write_bytes": float(sum(j.shuffle_write_bytes for j in jobs)),
        "spark.spill_bytes": float(sum(j.spill_bytes for j in jobs)),
        "spark.python_udf_s": sum(j.python_run_s for j in jobs),
        "spark.python_start_s": sum(j.python_start_s for j in jobs),
        "spark.python_bytes": float(sum(j.python_bytes for j in jobs)),
        "spark.driver_gap_s": driver_gap(jobs, lo, hi),
    }
