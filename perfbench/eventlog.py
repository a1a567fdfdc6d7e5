"""Spark event-log reader: jobs, completed stages and their task metrics.

Turns ``SparkListenerJobStart``/``JobEnd`` and ``SparkListenerStageCompleted``
records (with their aggregated ``internal.metrics.*`` accumulables and RDD
scope names) into plain records, and sums them over time windows. Jobs are
attributed to a window by submission time, not by job group: the warehouse
commit submits its writes from pool threads, which drop the job group.

Reads both event-log layouts Spark writes: a single file, or a rolling
``eventlog_v2_*`` directory of ``events_<n>_*`` parts. Compressed logs are
not read; turn compression off (``spark.eventLog.compress=false``).

Usage as a tool::

    python3 perfbench/eventlog.py <event log file or directory>

prints one JSON line per job with its stages and metrics.
"""

from __future__ import annotations

import json
import re
import sys
from dataclasses import dataclass, field
from pathlib import Path

MB = 1 << 20

# accumulable name -> (record key, scale to the reported unit)
_METRICS = {
    "internal.metrics.executorRunTime": ("run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_mb", 1 / MB),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_mb", 1 / MB),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / MB),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / MB),
    "internal.metrics.input.bytesRead": ("scan_mb", 1 / MB),
}
METRIC_KEYS = sorted({k for k, _ in _METRICS.values()})


@dataclass
class Stage:
    id: int
    attempt: int
    n_tasks: int
    submit_s: float
    end_s: float
    scopes: set[str]
    metrics: dict[str, float] = field(default_factory=dict)


@dataclass
class Job:
    id: int
    submit_s: float
    end_s: float | None
    stage_ids: list[int]
    stages: list[Stage] = field(default_factory=list)  # completed ones only


def log_files(path: str | Path) -> list[Path]:
    """The event-log file(s) of one application, in write order."""
    p = Path(path)
    if p.is_file():
        return [p]
    parts = [f for f in p.iterdir() if f.name.startswith("events_")]

    def index(f: Path) -> int:
        return int(re.match(r"events_(\d+)_", f.name).group(1))

    return sorted(parts, key=index)


def read(path: str | Path) -> list[Job]:
    """All jobs of the application, each with its completed stages."""
    jobs: dict[int, Job] = {}
    stages: dict[int, Stage] = {}
    for f in log_files(path):
        with open(f) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = Job(
                        ev["Job ID"], ev["Submission Time"] / 1e3, None, ev["Stage IDs"]
                    )
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end_s = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerStageCompleted":
                    st = _stage(ev["Stage Info"])
                    stages[st.id] = st  # a retried attempt replaces the first
    for job in jobs.values():
        job.stages = [stages[s] for s in job.stage_ids if s in stages]
    return sorted(jobs.values(), key=lambda j: j.submit_s)


def _stage(info: dict) -> Stage:
    scopes = set()
    for rdd in info.get("RDD Info", []):
        if rdd.get("Scope"):
            scopes.add(json.loads(rdd["Scope"])["name"])
    metrics = dict.fromkeys(METRIC_KEYS, 0.0)
    for acc in info.get("Accumulables", []):
        target = _METRICS.get(acc.get("Name"))
        if target is not None:
            key, scale = target
            metrics[key] += float(acc["Value"]) * scale
    return Stage(
        info["Stage ID"],
        info["Stage Attempt ID"],
        info["Number of Tasks"],
        info["Submission Time"] / 1e3,
        info["Completion Time"] / 1e3,
        scopes,
        metrics,
    )


def in_windows(jobs: list[Job], windows: list[tuple[float, float]]) -> list[Job]:
    """Jobs submitted inside any of the [start, end] windows."""
    return [j for j in jobs if any(a <= j.submit_s <= b for a, b in windows)]


def totals(jobs: list[Job]) -> dict[str, float]:
    """Job/stage/task counts and summed task metrics over ``jobs``."""
    out = {"jobs": float(len(jobs)), "stages": 0.0, "tasks": 0.0}
    out.update(dict.fromkeys(METRIC_KEYS, 0.0))
    for j in jobs:
        for st in j.stages:
            out["stages"] += 1
            out["tasks"] += st.n_tasks
            for k in METRIC_KEYS:
                out[k] += st.metrics[k]
    return out


def scope_run_s(jobs: list[Job], scope_names: set[str]) -> float:
    """Executor run time of the stages whose RDD scopes include any name."""
    return sum(
        st.metrics["run_s"]
        for j in jobs
        for st in j.stages
        if st.scopes & scope_names
    )


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    for j in read(argv[0]):
        print(json.dumps({
            "job": j.id,
            "submit_s": j.submit_s,
            "end_s": j.end_s,
            "stages": [
                {"stage": s.id, "tasks": s.n_tasks, "scopes": sorted(s.scopes),
                 **{k: round(v, 6) for k, v in s.metrics.items()}}
                for s in j.stages
            ],
        }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
