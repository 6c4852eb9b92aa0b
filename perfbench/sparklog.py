"""Per-job Spark metrics from the JSON event log (stdlib ``json`` only).

The traced run turns on ``spark.eventLog.enabled`` and tags every job with
``SparkContext.setJobDescription``.  This module groups finished tasks by
that description and sums the task metrics and the SQL accumulators that
Spark's Python operators report (``data sent to Python workers``, ``time
to run Python workers``, ...).
"""

from __future__ import annotations

import glob
import json
import os
import statistics

PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_BOOT = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_TOTAL = "time to run Python workers"
_PY_ACCUMS = (PY_SENT, PY_RECV, PY_BOOT, PY_INIT, PY_TOTAL)


def read_events(log_dir: str) -> list[dict]:
    files = sorted(glob.glob(os.path.join(log_dir, "**", "*"), recursive=True))
    events = []
    for path in files:
        name = os.path.basename(path)
        if not os.path.isfile(path) or name.startswith(".") or name.startswith("appstatus"):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def tasks_by_description(events: list[dict]) -> dict[str, list[dict]]:
    """description -> finished tasks, each flattened to the numbers used."""
    stage_desc: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            desc = (e.get("Properties") or {}).get("spark.job.description")
            for sid in e.get("Stage IDs", ()):
                stage_desc[sid] = desc
    out: dict[str, list[dict]] = {}
    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        desc = stage_desc.get(e["Stage ID"])
        if desc is None:
            continue
        info = e["Task Info"]
        m = e.get("Task Metrics") or {}
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        acc = {a.get("Name"): a.get("Update") for a in info.get("Accumulables", ())}
        duration = info["Finish Time"] - info["Launch Time"]
        run_ms = m.get("Executor Run Time", 0)
        overhead_ms = (m.get("Executor Deserialize Time", 0)
                       + m.get("Result Serialization Time", 0)
                       + (info["Finish Time"] - info["Getting Result Time"]
                          if info.get("Getting Result Time") else 0))
        task = {
            "stage": e["Stage ID"],
            "failed": bool(info.get("Failed")),
            "duration_s": duration / 1e3,
            "run_s": run_ms / 1e3,
            "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
            "gc_s": m.get("JVM GC Time", 0) / 1e3,
            "sched_delay_s": max(0, duration - run_ms - overhead_ms) / 1e3,
            "shuffle_read_b": rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0),
            "fetch_wait_s": rd.get("Fetch Wait Time", 0) / 1e3,
            "shuffle_write_b": wr.get("Shuffle Bytes Written", 0),
            "spill_b": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
            "python": PY_TOTAL in acc,
        }
        for name in _PY_ACCUMS:
            task[name] = float(acc.get(name) or 0)
        out.setdefault(desc, []).append(task)
    return out


def job_metrics(tasks: list[dict]) -> dict[str, float]:
    """Totals for one job; the 'extract stage' is every stage whose tasks
    ran Python (mapInPandas), the exchange is every shuffle in the job."""
    py = [t for t in tasks if t["python"]]
    runs = sorted(t["run_s"] for t in py)
    med = statistics.median(runs) if runs else 0.0
    return {
        "python.boot_s": sum(t[PY_BOOT] for t in py) / 1e3,
        "python.init_s": sum(t[PY_INIT] for t in py) / 1e3,
        "python.total_s": sum(t[PY_TOTAL] for t in py) / 1e3,
        "python.data_sent_mb": sum(t[PY_SENT] for t in py) / 1e6,
        "python.data_recv_mb": sum(t[PY_RECV] for t in py) / 1e6,
        "python_tasks": float(len(py)),
        "exchange.shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
        "exchange.shuffle_read_mb": sum(t["shuffle_read_b"] for t in tasks) / 1e6,
        "exchange.fetch_wait_s": sum(t["fetch_wait_s"] for t in tasks),
        "exchange.spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
        "extract_stage.run_s": sum(runs),
        "extract_stage.cpu_s": sum(t["cpu_s"] for t in py),
        "extract_stage.gc_s": sum(t["gc_s"] for t in py),
        "extract_stage.task_max_s": runs[-1] if runs else 0.0,
        "extract_stage.task_median_s": med,
        "extract_stage.task_skew": runs[-1] / med if med else 0.0,
        "sched_delay_s": sum(t["sched_delay_s"] for t in tasks),
        "failed_tasks": float(sum(t["failed"] for t in tasks)),
        "task_skew": _heaviest_stage_skew(tasks),
    }


def _heaviest_stage_skew(tasks: list[dict]) -> float:
    """max / median task run time of the stage with the most run time."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    if not by_stage:
        return 0.0
    runs = max(by_stage.values(), key=sum)
    med = statistics.median(runs)
    return max(runs) / med if med else 0.0
