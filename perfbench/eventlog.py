"""Spark event log -> per-window layer metrics.

A window is the wall interval of one timed pass; every job submitted in
it belongs to that pass."""

from __future__ import annotations

import glob
import json
import os
import statistics

# RDD scope names of stages that run Python UDF kernels
_PYTHON_SCOPES = ("InPandas", "InArrow", "ArrowEvalPython", "BatchEvalPython")

UNITS = {
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.idle_core_frac": "frac",
    "spark.straggler_ratio": "ratio",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    "spark.pandas_udf_task_s": "s",
}


def log_files(log_dir: str) -> list[str]:
    """Event files of the only application logged in `log_dir`, in order
    (Spark 4 writes a rolling log: a directory of events_<n>_<app> files)."""
    apps = glob.glob(os.path.join(log_dir, "*"))
    if len(apps) != 1:
        raise FileNotFoundError(f"expected one Spark event log in {log_dir}, found {len(apps)}")
    if os.path.isfile(apps[0]):
        return apps
    files = glob.glob(os.path.join(apps[0], "events_*"))
    return sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1]))


def _lines(paths: list[str]):
    for p in paths:
        with open(p) as f:
            yield from f


def parse(paths: list[str]) -> tuple[dict, dict, list]:
    """Returns (jobs, stages, tasks) from an uncompressed event log."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: list[dict] = []
    for line in _lines(paths):
        e = json.loads(line)
        ev = e.get("Event")
        if ev == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jobs[e["Job ID"]] = {
                "submit": e["Submission Time"] / 1000.0,
                "stages": [s["Stage ID"] for s in e.get("Stage Infos", [])],
                "desc": props.get("spark.job.description") or "",
            }
        elif ev == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            scopes = []
            for r in si.get("RDD Info", []):
                try:
                    scopes.append(json.loads(r.get("Scope") or "{}").get("name", ""))
                except json.JSONDecodeError:
                    pass
            stages[si["Stage ID"]] = {
                "wall": (si.get("Completion Time", 0) - si.get("Submission Time", 0)) / 1000.0,
                "python": any(p in s for s in scopes for p in _PYTHON_SCOPES),
            }
        elif ev == "SparkListenerTaskEnd":
            ti = e.get("Task Info") or {}
            m = e.get("Task Metrics") or {}
            if "Launch Time" not in ti or "Finish Time" not in ti:
                continue
            sw = m.get("Shuffle Write Metrics") or {}
            tasks.append({
                "stage": e["Stage ID"],
                "wall": (ti["Finish Time"] - ti["Launch Time"]) / 1000.0,
                "shuffle_write": sw.get("Shuffle Bytes Written", 0),
                "spill": m.get("Disk Bytes Spilled", 0),
                "gc": (m.get("JVM GC Time") or 0) / 1000.0,
            })
    return jobs, stages, tasks


def window_metrics(
    jobs: dict, stages: dict, tasks: list, start: float, end: float, cores: int
) -> dict[str, float]:
    """Layer metrics of the jobs submitted in [start, end]."""
    in_win = [j for j in jobs.values() if start <= j["submit"] <= end]
    sids = {s for j in in_win for s in j["stages"]}
    mine = [t for t in tasks if t["stage"] in sids]
    by_stage: dict[int, list[float]] = {}
    for t in mine:
        by_stage.setdefault(t["stage"], []).append(t["wall"])
    task_s = sum(t["wall"] for t in mine)
    wall = max(end - start, 1e-9)
    # the slowest stage sets the tail: how far its longest task sits above
    # its typical task
    straggler = 1.0
    if by_stage:
        slowest = max(by_stage, key=lambda s: stages.get(s, {}).get("wall", 0.0))
        walls = by_stage[slowest]
        med = statistics.median(walls)
        straggler = max(walls) / med if med > 0 else 1.0
    return {
        "spark.jobs": float(len(in_win)),
        "spark.tasks": float(len(mine)),
        "spark.task_s": task_s,
        "spark.idle_core_frac": max(0.0, 1.0 - task_s / (cores * wall)),
        "spark.straggler_ratio": straggler,
        "spark.shuffle_write_bytes": float(sum(t["shuffle_write"] for t in mine)),
        "spark.spill_bytes": float(sum(t["spill"] for t in mine)),
        "spark.gc_s": sum(t["gc"] for t in mine),
        "spark.pandas_udf_task_s": sum(
            t["wall"] for t in mine if stages.get(t["stage"], {}).get("python")
        ),
    }
